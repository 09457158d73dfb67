"""The repository benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload etl_refresh --seed 1 --seconds 18 --trace 0

Builds the engine from source (perfbench/build.py), generates the inputs
from the seed (perfbench/gen.py), drives the engine through the JVM harness
(perfbench/src), checks every answer, and prints as its last line one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The line before it
names the same figures the way the workload's operations are called.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

REPO = build.REPO
WORK_ROOT = os.path.join(REPO, ".bench_work")

# Input sizes. The wide CSV: 250 entities x 47 years x 14 antigen columns,
# about 1.0 MB and 0.15 M tidy rows. The versioned table: 200 entities,
# about 0.12 M rows in 16 buckets; each changeset is 0.3 % of it. Both
# pools are larger than any run consumes.
ETL_ENTITIES = 250
ETL_REFRESHES = 24
TX_ENTITIES = 200
TX_CHANGE_FRAC = 0.003
TX_BATCHES = 24

# One JVM per run: its heap and the flags the JDK 17 module system needs
# outside spark-submit (as in the root build.sbt). The JIT and class loading
# are the JVM's defaults, as under spark-submit.
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170  # the harness must finish well inside 180 s

END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms"), ("read_p50_ms", "ms"),
              ("whole_p50_ms", "ms"), ("bytes_per_row", "B")]

# What each operation kind is called in each workload (printed with the
# result, the line before the contract line).
NAMED = {
    "etl_refresh": {"op": "refresh", "read": "select", "whole": "overview",
                    "bytes_per_row": "fact_bytes_per_row"},
    "tx_upsert": {"op": "commit", "read": "read", "whole": "compact",
                  "bytes_per_row": "tx_bytes_per_row"},
}


def prepare(workload, seed, inputs):
    """Write the workload's inputs and expected answers; return what the
    post-run check needs."""
    if workload == "etl_refresh":
        model = gen.write_wide_csv(os.path.join(inputs, "wide.csv"), seed, ETL_ENTITIES)
        gen.write_json(os.path.join(inputs, "expected.json"),
                       gen.etl_plan(model, seed, ETL_REFRESHES))
        return None
    fact, batches, plan = gen.tx_plan(inputs, seed, TX_ENTITIES, TX_BATCHES, TX_CHANGE_FRAC)
    gen.write_json(os.path.join(inputs, "expected.json"), {"batches": plan})
    return fact, batches


def final_state_matches(path, fact, batches):
    """The table the harness read back equals the model replay of every
    changeset it applied."""
    state = gen.replay(fact, batches)
    want = [f"{k}\t{c}\t{a}\t{y}\t{gen.float_bits(t / 10)}\t{b}"
            for k, (_, c, a, y, t, b) in sorted(state.items())]
    with open(path) as f:
        got = f.read().splitlines()
    return got == want


def jvm_command(jar, workload, work, seconds, trace, check):
    cores = min(4, len(os.sched_getaffinity(0)))
    cp = os.pathsep.join([jar, os.path.join(build.spark_jars(), "*")])
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
             "-Djava.awt.headless=true", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] +
            opens +
            ["-cp", cp, "perfbench.Harness", "--workload", workload, "--work", work,
             "--seconds", str(seconds), "--trace", str(int(trace)),
             "--check", str(int(check)), "--cores", str(cores)])


def kind_p50(samples, kind):
    """Median latency of one operation kind and its sample count. A kind
    with variants (tx_upsert's `op.cow` and `op.mor`) reports the mean of
    the variants' medians, so a 1:1 mix of two cost levels cannot flip the
    median between them."""
    groups = [xs for k, xs in samples.items() if k == kind or k.startswith(kind + ".")]
    if not groups:
        sys.exit(f"perfbench: no {kind} operation succeeded; nothing to report")
    return (statistics.mean(statistics.median(xs) for xs in groups),
            sum(len(xs) for xs in groups))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(NAMED))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--no-check", action="store_true",
                   help="skip the output checks (then correct is false)")
    a = p.parse_args()
    check = not a.no_check

    jar = build.ensure_built()
    started = time.monotonic()
    # the last run's work directory stays for inspection until the next run
    work = os.path.join(WORK_ROOT, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    os.makedirs(os.path.join(work, "tmp"))

    t0 = time.perf_counter()
    model = prepare(a.workload, a.seed, inputs)
    gen_s = time.perf_counter() - t0

    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(
                jvm_command(jar, a.workload, work, a.seconds, a.trace, check),
                stdout=log, stderr=subprocess.STDOUT, cwd=work,
                timeout=RUN_LIMIT_S - (time.monotonic() - started))
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: harness exceeded {RUN_LIMIT_S} s; see {log_path}")
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"perfbench: harness failed with exit code {proc.returncode}")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    failed, attempted = res["failed"], res["attempted"]
    failures = list(res["failures"])
    if check and a.workload == "tx_upsert":
        fact, batches = model
        applied = res["batches_applied"]
        if not final_state_matches(os.path.join(work, "final_state.tsv"), fact,
                                   batches[:applied]):
            failed += 1
            failures.append("final state differs from the changeset replay")
    failed = min(failed, attempted)

    samples = {k: v for k, v in res["samples"].items() if not k.endswith("@traced")}
    space = samples.pop("bytes_per_row")
    setup_s = gen_s + res["session_s"] + statistics.median(res["setup_rounds_s"]) + res["warmup_s"]
    values = {"setup_s": setup_s, "bytes_per_row": statistics.median(space)}
    counts = {}
    for kind in ("op", "read", "whole"):
        values[f"{kind}_p50_ms"], counts[kind] = kind_p50(samples, kind)
    names = NAMED[a.workload]
    named = {"setup_s": {"value": setup_s, "unit": "s", "parts": {
                 "generate_s": gen_s, "session_s": res["session_s"],
                 "setup_rounds_s": res["setup_rounds_s"], "warmup_s": res["warmup_s"]}},
             "failed_frac": {"value": failed / attempted, "unit": "ratio", "n": attempted},
             names["bytes_per_row"]: {"value": values["bytes_per_row"], "unit": "B",
                                      "n": len(space)}}
    for kind in ("op", "read", "whole"):
        named[f"{names[kind]}_p50_ms"] = {"value": values[f"{kind}_p50_ms"], "unit": "ms",
                                          "n": counts[kind]}
    if a.workload == "etl_refresh":
        named["etl_refresh_s"] = {"value": values["op_p50_ms"] / 1000, "unit": "s",
                                  "n": counts["op"]}
    for k, xs in samples.items():
        if "." in k:
            kind, variant = k.split(".", 1)
            named[f"{names[kind]}_{variant}_p50_ms"] = {
                "value": statistics.median(xs), "unit": "ms", "n": len(xs)}

    if a.trace:
        units = res["per_layer_units"]
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res["per_layer"].items()}
        trace_dir = os.path.join(WORK_ROOT, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(work, "trace.json")) as f:
            trace = json.load(f)
        trace.update({"workload": a.workload, "seed": a.seed, "per_layer": metrics,
                      "traced_rounds": res["traced_rounds"]})
        gen.write_json(os.path.join(trace_dir, f"{a.workload}.json"), trace)
    else:
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}

    print(json.dumps({"workload": a.workload, "seed": a.seed, "named": named,
                      "failures": failures[:5]}))
    print(json.dumps({"correct": check and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

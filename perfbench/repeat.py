"""Repeatability checks for the benchmark.

    python3 perfbench/repeat.py spread --workload tx_upsert --seeds 1-10
    python3 perfbench/repeat.py trace --workload tx_upsert --seed 7

Each run measures for BENCHMARK.json's `run_seconds` unless --seconds says otherwise.

`spread` runs the benchmark once per seed and prints, per end-to-end
metric, the median and the spread (first-to-third quartile distance as a
share of the median, the figure each metric's bound in BENCHMARK.json is
compared with), plus the wall time of each run.

`trace` makes two traced runs on one seed and compares their per-layer
counters (every metric whose unit is not a time or a percentage). It
lists each counter that did not repeat and exits non-zero if any did
other than those in VARIES.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    out = subprocess.run(cmd, capture_output=True, text=True)
    wall = time.monotonic() - t0
    if out.returncode != 0:
        sys.exit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1]), wall


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def benchmark():
    with open(BENCHMARK) as f:
        return json.load(f)


def spread(a):
    bounds = {m["name"]: m["bound"] for m in benchmark()["end_to_end"]}
    values, walls = {}, []
    for s in seeds(a.seeds):
        named, res, wall = run(a.workload, s, a.seconds, 0)
        walls.append(wall)
        print(json.dumps({"seed": s, "wall_s": round(wall, 1), "correct": res["correct"],
                          "metrics": {k: v["value"] for k, v in res["metrics"].items()}}),
              flush=True)
        if not res["correct"]:
            print(f"seed {s}: failures {named['failures']}", file=sys.stderr)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        rel = (q3 - q1) / med
        flag = "" if rel < bounds.get(k, 1) / 3 else "  <-- above a third of the bound"
        print(f"{a.workload:17s} {k:14s} median {med:12.4f}  spread {rel:.4f}"
              f"  bound {bounds.get(k)}{flag}")
    print(f"{a.workload:17s} wall per run: median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")


# Counters known not to repeat exactly: a merge-on-read commit writes
# deletion-vector sidecars naming data files whose paths carry random
# tokens, so the sidecar's compressed size, and the bytes that commit and
# the next read scan, move by a few bytes from run to run.
VARIES = {"txtable.mor.commit_input_bytes", "txtable.mor.commit_output_bytes",
          "txtable.read_input_bytes"}


def trace(a):
    runs = [run(a.workload, a.seed, a.seconds, 1)[1]["metrics"] for _ in range(2)]
    counters = [k for k, m in runs[0].items() if m["unit"] not in ("ms", "%")]
    differ = [k for k in counters if runs[0][k]["value"] != runs[1][k]["value"]]
    for k in differ:
        known = " (known to vary)" if k in VARIES else ""
        print(f"{k}: {runs[0][k]['value']} vs {runs[1][k]['value']}{known}")
    print(f"{a.workload}: {len(differ)} of {len(counters)} counters did not repeat")
    sys.exit(1 if set(differ) - VARIES else 0)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="mode", required=True)
    s = sub.add_parser("spread")
    s.add_argument("--seeds", default="1-10")
    t = sub.add_parser("trace")
    t.add_argument("--seed", type=int, default=1)
    for q in (s, t):
        q.add_argument("--workload", required=True)
        q.add_argument("--seconds", type=float, default=benchmark()["run_seconds"])
    a = p.parse_args()
    spread(a) if a.mode == "spread" else trace(a)


if __name__ == "__main__":
    main()

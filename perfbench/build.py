"""Build step of the benchmark: compile the engine's main sources and the
harness (perfbench/src) into one jar with the Scala compiler that ships in
Spark's jar directory. The jar is reused until a source file changes.

    python3 perfbench/build.py      # prints the jar's path
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(REPO, ".bench_build", "perfbench")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        sys.exit(f"perfbench: no Spark jar directory at {jars}")
    return jars


def sources():
    engine = os.path.join(REPO, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        sys.exit(f"perfbench: engine sources not found under {engine}")
    files = []
    for root in (engine, os.path.join(HERE, "src")):
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp():
    """Digest of every source file the jar is built from."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    return digest.hexdigest()[:16]


def ensure_built():
    """Compile if any source changed since the last build; return the jar.
    A rebuild drops the old jar."""
    jar = os.path.join(OUT, f"perfbench-{stamp()}.jar")
    if os.path.exists(jar):
        return jar
    shutil.rmtree(OUT, ignore_errors=True)
    classes = os.path.join(OUT, "classes")
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    files = sources()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + files
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, classes))
    os.rename(jar + ".tmp", jar)
    shutil.rmtree(classes)
    return jar


if __name__ == "__main__":
    print(ensure_built())

"""graft benchmark: one command per workload run.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the engine and
the benchmark driver from source with sbt (later runs reuse the build while
the sources are unchanged), generates the workload's inputs from the seed,
runs the driver JVM, checks the outputs and prints one JSON object as the
last line of standard output. With --trace 0 it reports the end-to-end
metrics; with --trace 1 the per-layer metrics of a traced run.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
WORKLOADS = ["search_dashboard", "cdc_ingest", "corpus_prep"]
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit (the engine's build.sbt sets the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one the engine's
    build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'^unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read(), re.M)
    if not m:
        fail("SPARK_HOME is not set and the engine's build.sbt names no Spark jar directory")
    return m.group(1)


def source_digest(jars):
    h = hashlib.sha256(jars.encode())
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (ENGINE_SRC, os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(jars):
    if not os.path.isdir(ENGINE_SRC):
        fail(f"no engine sources at {ENGINE_SRC}: run from the root of a graft checkout")
    stamp = os.path.join(HERE, "target", f"built-{source_digest(jars)}")
    if os.path.exists(stamp):
        return
    for old in glob.glob(os.path.join(HERE, "target", "built-*")):
        os.remove(old)
    sbt = shutil.which("sbt") or fail("sbt not found on PATH")
    r = subprocess.run([sbt, "--batch", "-Dsbt.server.forcestart=false", f"-Dgraftbench.sparkJars={jars}", "compile"], cwd=HERE,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        fail("build failed")
    open(stamp, "w").close()


def run_driver(args, work, jars):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cores = len(os.sched_getaffinity(0))
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    # A fixed number of collector and compiler threads: the CPU time of
    # those threads is subtracted from the window's, which needs every one
    # of them alive from the window's start to its end.
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           "-XX:-UseDynamicNumberOfGCThreads", "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload, "--work", work,
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(cores)]
    # Set-up, warm-up and the closing checkpoints take under 60 s; the
    # window may overshoot by half an operation.
    timeout = 120 + 3 * args.seconds
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"driver exceeded {timeout:.0f} s")
    if code != 0:
        fail(f"driver exited with {code}")
    with open(os.path.join(work, "raw.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    jars = spark_jars()
    build(jars)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        gen.generate(args.workload, work, args.seed, args.seconds)
        raw = run_driver(args, work, jars)
        verdict = checks.check(args.workload, work, raw)
        if args.trace:
            values = metrics.per_layer(args.workload, raw)
            values["cdc.wrong_docs"] = {"value": float(verdict.get("wrong_docs", 0)), "unit": "count"}
        else:
            values = {k: {"value": v, "unit": u} for k, (v, u) in metrics.end_to_end(args.workload, raw).items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in verdict["notes"]:
        print(f"check: {line}")
    print(metrics.wall_note(args.workload, raw))
    print(json.dumps({"correct": verdict["correct"], "attempted": verdict["attempted"],
                      "failed": verdict["failed"], "metrics": values}))


if __name__ == "__main__":
    main()

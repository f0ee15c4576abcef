#!/usr/bin/env python3
"""Build the graft library with the benchmark and run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. The library sources (src/main/scala) and the
benchmark sources (perfbench/src) are compiled together with the Scala
compiler that ships in Spark's jars, into .bench_build; a tree is rebuilt
only when one of its sources changes. The workload runs in one JVM at
local[4]; its result is printed as the last line of standard output. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LIB_CLASSES = os.path.join(BUILD, "library-classes")
BENCH_CLASSES = os.path.join(BUILD, "bench-classes")
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
        fail("Spark not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def scala_files(base):
    files = []
    for d, _, fs in os.walk(base):
        files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def compile_tree(name, files, classpath, out, extra=""):
    """Compile `files` into `out` unless its stamp says nothing changed.
    Returns True when it compiled."""
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update((classpath + extra).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return False
    t0 = time.time()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compilation of {name} failed", 3)
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"[perfbench] built {name} ({len(files)} sources) in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return True


def build(jars):
    """The library from src/main/scala, then the benchmark against it."""
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        fail(f"library sources not found under {lib}")
    spark_cp = os.path.join(jars, "*")
    compile_tree("library", scala_files(lib), spark_cp, LIB_CLASSES)
    # the library's stamp is part of the benchmark's classpath hash, so a
    # library change rebuilds the benchmark too
    lib_stamp = open(os.path.join(LIB_CLASSES, ".stamp")).read()
    compile_tree("benchmark", scala_files(os.path.join(HERE, "src")),
                 os.pathsep.join([LIB_CLASSES, spark_cp]), BENCH_CLASSES, extra=lib_stamp)


def java_cmd(jars, main, args, work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join([BENCH_CLASSES, LIB_CLASSES, os.path.join(jars, "*")]), main] + args)


def run_jvm(cmd, timeout, work):
    # Spark's scratch space stays inside the work directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"JVM did not finish within {timeout} s", 4)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--default-seed", type=int, default=42,
                    help="seed used when --seed is absent; its fingerprints are pinned")
    # how long the timed warm operations of an untraced run take at least
    # (at least two of them are timed whatever their length)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()

    jars = spark_jars()
    build(jars)
    os.makedirs(BUILD, exist_ok=True)
    if a.self_test:
        work = os.path.join(BUILD, "work", f"self-test-{os.getpid()}")
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        try:
            code = run_jvm(java_cmd(jars, "perfbench.SelfTest", [], work), JVM_TIMEOUT_S, work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        sys.exit(code)
    if not a.workload:
        fail("--workload is required")
    seed = a.seed if a.seed is not None else a.default_seed

    work = os.path.join(BUILD, "work", f"{a.workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    traces = os.path.join(BUILD, "traces")
    args = ["--workload", a.workload, "--seed", str(seed), "--trace", str(a.trace),
            "--seconds", str(a.seconds), "--work", os.path.join(work, "data"),
            "--result", result, "--reference", os.path.join(HERE, "reference.json"),
            # fingerprints of unpinned seeds, recorded per build of the sources
            "--fingerprints", os.path.join(BUILD, "fingerprints",
                                           open(os.path.join(BENCH_CLASSES, ".stamp")).read()[:16]),
            "--trace-out", os.path.join(traces, f"{a.workload}-seed{seed}.json")]
    try:
        code = run_jvm(java_cmd(jars, "perfbench.Main", args, work), JVM_TIMEOUT_S, work)
        if code != 0 or not os.path.exists(result):
            fail(f"workload {a.workload} exited with code {code}", 1)
        with open(result) as fh:
            out = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report(out, a.trace)))


def report(out, trace):
    """The result line: the metrics BENCHMARK.json names for this mode, with
    their units. A per-layer metric the workload has no layer for reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values = out["values"]
    metrics = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        v = values.get(m["name"])
        if v is None and not trace and out["correct"]:
            fail(f"the run measured no {m['name']}", 1)
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
        print(f"[perfbench]   {m['name']:<32} {metrics[m['name']]['value']:>14.4f} {m['unit']}",
              file=sys.stderr)
    return {"correct": out["correct"], "attempted": out["attempted"],
            "failed": out["failed"], "metrics": metrics}


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""End-to-end benchmark of graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call compiles graft and the
harness in perfbench/src with the Scala compiler that ships in Spark's
jars, and generates the input tables with graft.tools.GenSf; both are
cached under $CARGO_TARGET_DIR (default .bench_build), keyed by a hash of
the sources. Every later call starts one JVM that runs the workload and
writes its result; this script prints a readable summary and, as the last
line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see BENCHMARK.json and perfbench/README.md).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["ops", "curation-dag", "serving-stream"]
# Scale factor of the generated tables. The expected digests and golden
# counts in perfbench/expected.json were taken at this scale.
BENCH_SF = "0.01"
RUN_TIMEOUT_S = 170
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler (set SPARK_HOME)")
    return jars


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        for dirpath, dirnames, files in sorted(os.walk(base)):
            dirnames.sort()
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def java_cmd(jars, classes, main, args, build_dir, heap="3g"):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", *opens, f"-Xms{heap}", f"-Xmx{heap}", "-Xmn768m", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false",
            "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", main, *args]


def run_child(cmd, timeout, stdout=None):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=stdout, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(jars, build_dir):
    src_main = os.path.join(ROOT, "src", "main", "scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    bench_src = os.path.join(HERE, "src")
    key = tree_hash([src_main, resources, bench_src])
    classes = os.path.join(build_dir, f"classes-{key}")
    if os.path.isdir(classes):
        return classes
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    sources = [os.path.join(d, f) for base in (src_main, bench_src)
               for d, _, fs in os.walk(base) for f in fs if f.endswith(".scala")]
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    t0 = time.time()
    rc = run_child(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                    "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                    "-Ybackend-parallelism", "4", "-d", staging, f"@{argfile}"],
                   timeout=850, stdout=sys.stderr)
    if rc != 0:
        fail("compile failed")
    if os.path.isdir(resources):
        shutil.copytree(resources, staging, dirs_exist_ok=True)
    os.rename(staging, classes)
    print(f"perfbench: compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def tables(jars, classes, build_dir, sf):
    gen = os.path.join(ROOT, "src", "main", "scala", "graft", "tools", "GenSf.scala")
    with open(gen, "rb") as fh:
        key = hashlib.sha256(fh.read()).hexdigest()[:16]
    data = os.path.join(build_dir, f"data-{key}", f"sf{sf}")
    if os.path.isdir(data):
        return data
    staging = data + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(os.path.dirname(staging), exist_ok=True)
    env_cpus = str(os.cpu_count() or 4)
    os.environ["SPARK_GRAFT_CPUS"] = env_cpus
    rc = run_child(java_cmd(jars, classes, "graft.tools.GenSf", [staging, sf], build_dir, "2g"),
                   timeout=600, stdout=sys.stderr)
    if rc != 0:
        fail("table generation failed")
    os.rename(staging, data)
    return data


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", default=BENCH_SF, help="scale factor of the generated tables")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft sources not found under {ROOT}/src/main/scala")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars()
    classes = build(jars, build_dir)
    data = tables(jars, classes, build_dir, a.sf)

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result = os.path.join(run_dir, "result.json")
    expected = os.path.join(HERE, "expected.json") if a.sf == BENCH_SF else ""
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--sf", a.sf, "--work", run_dir,
            "--out", result, "--queries", os.path.join(HERE, "queries.jsonl"),
            "--expected", expected, "--traces", os.path.join(build_dir, "traces")]
    try:
        rc = run_child(java_cmd(jars, classes, "graftbench.Main", args, build_dir),
                       timeout=RUN_TIMEOUT_S, stdout=sys.stderr)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(result):
        fail(f"harness exited with {rc}")
    with open(result) as fh:
        res = json.load(fh)
    for line in res.get("report", []):
        print(line)
    out = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""One-time classification sweep that writes perfbench/queries.jsonl.

    python3 perfbench/classify.py --sf01 <dir with the sf0.1 test tables>

It runs graftbench.Sweep twice:
  * on the given sf0.1 tables: per query, its operator family, the Spark
    jobs its DataFrame construction launches (which puts it in the
    ops-oneplan pool when zero, ops-iterative otherwise), construction
    time, second-run time through the no-op sink, count() time, their
    ratio, and the failure if any;
  * on the benchmark's generated tables (run.py's BENCH_SF): the same
    timings, plus the order-insensitive result digest (computed twice,
    to mark digests that do not repeat).
Then it confirms the benchmark-scale results against the DuckDB oracle:
graft.Verify writes every result and tools/check_pandas.py compares them.
Each query's verdict is stored beside its digest.
"""
import argparse
import json
import os
import re
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def load(path):
    with open(path) as fh:
        return {r["name"]: r for r in map(json.loads, fh)}


def sweep(jars, classes, build_dir, data, extra):
    with tempfile.NamedTemporaryFile("r", suffix=".jsonl", dir=build_dir, delete=False) as fh:
        out = fh.name
    os.unlink(out)
    cmd = run.java_cmd(jars, classes, "graftbench.Sweep", [data, out, *extra], build_dir, "4g")
    if run.run_child(cmd, timeout=7200, stdout=sys.stderr) != 0:
        run.fail("sweep failed")
    rows = load(out)
    os.unlink(out)
    return rows


def oracle(jars, classes, build_dir, data):
    out = os.path.join(build_dir, "verify-out")
    cmd = run.java_cmd(jars, classes, "graft.Verify", [data, out], build_dir, "4g")
    if run.run_child(cmd, timeout=7200, stdout=sys.stderr) != 0:
        run.fail("graft.Verify failed")
    res = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check_pandas.py"), out, data],
                         capture_output=True, text=True)
    verdicts = {}
    for line in res.stdout.splitlines():
        m = re.match(r"(PASS|FAIL|ROWS|NEAR) (\S+?):? (.*)", line)
        if m:
            verdicts[m.group(2)] = m.group(1)
    return verdicts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf01", required=True, help="directory with the sf0.1 test tables")
    a = ap.parse_args()
    build_dir = os.path.join(run.ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    jars = run.spark_jars()
    classes = run.build(jars, build_dir)
    data = run.tables(jars, classes, build_dir, run.BENCH_SF)
    big = sweep(jars, classes, build_dir, os.path.abspath(a.sf01), [])
    small = sweep(jars, classes, build_dir, data, ["digest"])
    verdicts = oracle(jars, classes, build_dir, data)
    write(big, small, verdicts)


def write(big, small, verdicts):
    out = os.path.join(run.HERE, "queries.jsonl")
    with open(out, "w") as fh:
        for name in sorted(big):
            r = dict(big[name])
            for k, v in small.get(name, {}).items():
                if k not in ("name", "family"):
                    r[f"bench_{k}"] = v
            r["pool"] = "iterative" if r.get("bench_construct_jobs", 0) > 0 else "oneplan"
            r["bench_oracle"] = verdicts.get(name, "none")
            fh.write(json.dumps(r) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()

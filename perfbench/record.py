#!/usr/bin/env python3
"""Record the expected output of every benchmark query.

Run from the root of a source checkout:

    python3 perfbench/record.py [workload ...]

For each workload this runs the benchmark JVM once to get each query's row count
and digest, and writes them to `expected/<workload>.json`. Queries that
`SparkEntry.oracleSql` covers are first dumped with `graft.Verify` and
compared with DuckDB by `tools/compare.py`; a workload is recorded only
if every such query matches, and only after the oracle row count equals
the recorded one.
"""
import contextlib
import io
import json
import os
import shutil
import subprocess
import sys

import run

sys.path.insert(0, os.path.join(run.ROOT, "tools"))
import compare  # noqa: E402  (tools/compare.py)


def oracle_check(w, data, queries):
    """{query: 'OK (n rows)'} for every oracle-backed query; raises on FAIL."""
    out = os.path.join(run.WORK, "verify")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    subprocess.run(run.java(w, "graft.Verify", [data, out, *queries]), cwd=run.WORK,
                   check=True, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)
    buf = io.StringIO()
    sys.argv = ["compare.py", data, out, *queries]
    with contextlib.redirect_stdout(buf):
        try:
            compare.main()
            code = 0
        except SystemExit as e:
            code = e.code
    lines = buf.getvalue().splitlines()
    print("\n".join(lines))
    if code:
        sys.exit(f"oracle mismatch for {w}")
    return {ln.split()[1]: ln for ln in lines if ln.startswith("OK ")}


def record(name):
    w = run.WORKLOADS[name]
    run.build.build()
    data = run.prepare(w["sf"])
    run.fresh_work()
    oracle = oracle_check(w, data, w["queries"])
    result = os.path.join(run.WORK, "result.json")
    run.jvm(w, ["--mode", "run", "--workload", name, "--seed", "0", "--seconds", "0",
                "--trace", "0", "--data", data, "--queries", ",".join(w["queries"]),
                "--cores", str(os.cpu_count()), "--src", run.SRC, "--out", result],
            os.path.join(run.WORK, "jvm.log"), timeout=600)
    with open(result) as f:
        res = json.load(f)
    if res["errors"]:
        sys.exit(f"{name}: queries failed: {res['errors']}")
    expected = {}
    for q in w["queries"]:
        check = res["checks"][q]
        if q in oracle and f"({check.split(':')[0]} rows)" not in oracle[q]:
            sys.exit(f"{name}/{q}: recorded {check} but DuckDB says {oracle[q]}")
        expected[q] = {"check": check, "oracle": oracle.get(q, "no oracle SQL")}
    with open(os.path.join(run.BENCH, "expected", f"{name}.json"), "w") as f:
        json.dump(expected, f, indent=2)
        f.write("\n")
    shutil.rmtree(run.WORK, ignore_errors=True)
    print(f"recorded {name}: {len(expected)} queries, {len(oracle)} oracle-checked")


if __name__ == "__main__":
    for n in sys.argv[1:] or sorted(run.WORKLOADS):
        record(n)

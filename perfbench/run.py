#!/usr/bin/env python3
"""graft benchmark: closed-loop query passes over generated inputs.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload etl_sf1 --seed 1 --seconds 16 --trace 0

The script builds the engine together with the benchmark program from
source (`build.py`), generates the workload's input tables once
(`gen.py`, plus `tools/gen_scale.py` for sf1), asserts their row counts,
then runs the benchmark JVM (`graftbench.BenchMain`) and two set-up-only JVMs.
Every query's output is checked against the row count and digest recorded
in `expected/<workload>.json`.

The last line of stdout is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json; with `--trace 1`
they are the per-layer metrics, and the full trace (spans, per-module
counts, query orders, environment) is written to `out/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

sys.dont_write_bytecode = True
import build  # noqa: E402  (perfbench/build.py)

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
WORK = os.path.join(BENCH, ".work")
DATA = os.path.join(BENCH, ".data")
SETUP_SAMPLES = 3  # untraced runs: the run's own JVM plus two set-up-only JVMs

with open(os.path.join(BENCH, "workloads.json")) as f:
    WORKLOADS = json.load(f)

# Row counts per scale factor, asserted before every run.
ROWS = {
    "sf1": {"lineitem": 6_000_000, "orders": 1_500_000, "customer": 150_000,
            "documents": 50_000, "embeddings": 20_000},
    "sf0.1": {"lineitem": 600_000, "orders": 150_000, "customer": 15_000,
              "documents": 5_000, "embeddings": 2_000},
    "sf0.01": {"lineitem": 60_000, "orders": 15_000, "customer": 1_500,
               "documents": 500, "embeddings": 500},
}

OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, n) for d, _, ns in os.walk(top) for n in ns)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def prepare(sf):
    """Generate the tables of one scale factor once; assert row counts."""
    out = os.path.join(DATA, sf)
    gen = os.path.join(BENCH, "gen.py")
    scale = os.path.join(ROOT, "tools", "gen_scale.py")
    want = tree_hash([gen] + ([scale] if sf == "sf1" else []))
    stamp = os.path.join(out, ".stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        shutil.rmtree(out, ignore_errors=True)
        if sf == "sf1":  # ten key-shifted copies of sf0.1, as the engine's sf1 runs use
            base = prepare("sf0.1")
            cmd = [sys.executable, scale, base, out, "10"]
        else:
            cmd = [sys.executable, gen, out, sf[2:]]
        r = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)
        if r.returncode != 0:
            fail(f"input generation failed: {r.stderr[-2000:]}", 4)
        with open(stamp, "w") as f:
            f.write(want)
    for table, n in ROWS[sf].items():
        got = pq.ParquetFile(os.path.join(out, f"{table}.parquet")).metadata.num_rows
        if got != n:
            fail(f"{sf}/{table}: {got} rows, want {n}", 4)
    return out


def fresh_work():
    """Empties WORK, the only place a run writes outside `.data/` and `out/`."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d))


def java(w, main, args):
    """Command line of a JVM that keeps every file it writes under WORK."""
    cp = build.CLASSES + os.pathsep + os.path.join(build.spark_jars(), "*")
    return ["java", *OPENS, f"-Xms{w['heap']}", f"-Xmx{w['heap']}", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
            f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(WORK, 'hadoop')}",
            f"-Dderby.system.home={WORK}", "-cp", cp, main, *args]


def cpu_ticks():
    """Ticks per CPU state since boot (user ... steal), or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None


def jvm(w, args, log, timeout):
    """Runs a benchmark JVM; returns its wall seconds."""
    t0 = time.monotonic()
    cmd = java(w, "graftbench.BenchMain", args)
    with open(log, "a") as out:
        r = subprocess.run(cmd, cwd=WORK, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=timeout)
    if r.returncode != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"benchmark JVM exited {r.returncode}:\n{tail}", 1)
    return time.monotonic() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]

    if not os.path.isdir(SRC):
        fail(f"no engine sources at {SRC}: run from the root of a graft checkout")
    build.build()
    data = prepare(w["sf"])

    fresh_work()
    log = os.path.join(WORK, "jvm.log")
    cores = str(os.cpu_count())
    result_file = os.path.join(WORK, "result.json")
    ticks0 = cpu_ticks()
    walls = [jvm(w, ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
            "--queries", ",".join(w["queries"]), "--cores", cores, "--src", SRC,
            "--out", result_file], log, timeout=150)]
    with open(result_file) as f:
        res = json.load(f)
    setups = [res["setup_s"]]
    for i in range(SETUP_SAMPLES - 1 if a.trace == 0 else 0):
        out = os.path.join(WORK, f"setup{i}.json")
        walls.append(jvm(w, ["--mode", "setup", "--cores", cores, "--out", out], log, timeout=60))
        with open(out) as f:
            setups.append(json.load(f)["setup_s"])

    with open(os.path.join(BENCH, "expected", f"{a.workload}.json")) as f:
        expected = json.load(f)
    failed = dict(res["errors"])
    for q in w["queries"]:
        got, want = res["checks"].get(q), expected.get(q, {}).get("check")
        if q not in failed and got != want:
            failed[q] = f"output check: got {got}, recorded {want}"
    for q, why in failed.items():
        print(f"FAILED {q}: {why}", file=sys.stderr)

    # each query's warm wall is the median of its warm runs over the rounds
    per_query = [[r[q] for r in res["warm"] if q in r] for q in w["queries"]]
    warm_pass = (sum(statistics.median(v) for v in per_query)
                 if res["warm"] and all(per_query) else None)
    warm_all = [v for r in res["warm"] for v in r.values()]
    # the share of CPU time the hypervisor gave to other guests while the
    # JVMs ran: on a shared host, runs with more steal read slower
    ticks = [t1 - t0 for t0, t1 in zip(ticks0, cpu_ticks())] if ticks0 else None
    env = dict(res["env"], seed=a.seed, workload=a.workload, sf=w["sf"],
               warm_rounds=len(res["warm"]), setup_samples=setups, jvm_walls=walls,
               cpu_steal_share=ticks[7] / sum(ticks) if ticks else None)
    print(json.dumps({"env": env, "orders": res["orders"], "cold": res["cold"],
                      "warm_up": res["warm_up"], "warm": res["warm"]}))

    if a.trace == 0:
        values = {
            "setup_s": statistics.median(setups),
            "cold_pass_s": sum(res["cold"].values()),
            "warm_pass_s": warm_pass,
            "query_p50_s": statistics.median(warm_all) if warm_all else None,
            "retained_heap_mb": res["retained_heap_mb"],
        }
        spec = "end_to_end"
    else:
        layers = res["layers"]
        traced = sum(res["traced_warm"].values())
        untraced = sum(res["untraced_warm"].values())
        values = {m["name"]: layers.get(m["name"], 0.0) for m in BENCH_SPEC["per_layer"]}
        values.update({
            "trace.warm_pass_s": traced,
            "trace.untraced_warm_pass_s": untraced,
            "trace.overhead_ratio": traced / untraced if untraced else None,
            "failed_frac": len(failed) / res["attempted"],
        })
        spec = "per_layer"
        os.makedirs(os.path.join(BENCH, "out"), exist_ok=True)
        trace_file = os.path.join(BENCH, "out", f"trace-{a.workload}-seed{a.seed}.json")
        with open(trace_file, "w") as f:
            json.dump(dict(res, env=env, failed=failed), f)
        print(f"trace written to {os.path.relpath(trace_file, ROOT)}")

    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in BENCH_SPEC[spec]}
    ok = not failed and all(v["value"] is not None for v in metrics.values())
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"correct": ok, "attempted": res["attempted"],
                      "failed": len(failed), "metrics": metrics}))


with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
    BENCH_SPEC = json.load(f)

if __name__ == "__main__":
    main()

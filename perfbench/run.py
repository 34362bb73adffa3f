#!/usr/bin/env python3
"""Benchmark of the medallion pipeline engine, timed from outside the program.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Each run builds the program from source if the build under .bench_build is
missing or stale, then launches fresh JVMs on the compiled classes:
  - SETUPS - 1 JVMs that only set up (session plus every table resolved
    through Tables.load), for a median set-up time over SETUPS launches;
  - one JVM that sets up, runs a cold pass over the workload's queries,
    writes every query's output for the oracle check (untimed; it also
    finishes the JIT warm-up), then runs about --seconds of warm passes.
The inputs are the project's sf0.01 test tables, kept under
perfbench/data. Every output is compared with DuckDB running the query's
own oracle SQL over the same parquet files. The last stdout line is the JSON result; the
line before it is the run's record (per-pass and per-query times).
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

import duckdb

sys.dont_write_bytecode = True  # leave no __pycache__ beside scripts/check.py

BUILD = ".bench_build"
RUN_DIR = os.path.join(BUILD, "run")
DATA_DIR = "perfbench/data"
CPUS = min(4, os.cpu_count() or 1)
HEAP = "2g"
SETUPS = 3
# Every JVM of a run is killed once the run, after any build, has lasted
# this many seconds.
RUN_LIMIT_S = 170
SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")

# Each workload: its queries, and the nominal length of one warm pass on
# a 4-core machine, which turns --seconds into a fixed number of warm
# passes. A fixed count keeps every run equally far into JIT warm-up; a
# time-based count gives slow runs fewer passes and so less warm-up.
WORKLOADS = {
    # The furchild models from staging to the order fact, plus the
    # pipeline's two ways of materializing: a date-partitioned table sink
    # and streaming gates at their default restart lifetimes, one of them
    # stateful (q151's dedup state survives three restarts).
    "medallion": (5.0, [
        "q40_staging_conform", "q03_dedup_latest", "q12_surrogate_keys",
        "q19_money_math", "q33_json_struct_invoices", "q06_customer_ltv",
        "q47_fct_orders", "q49_table_sink_roundtrip", "q154_stream_static_join",
        "q151_stream_dedup_parity",
    ]),
    # Iterative graph and near-duplicate operators: most of their jobs run
    # while the query is built (lineage cuts, convergence probes).
    "iterative": (2.5, [
        "q48_dedup_clusters", "q213_kcore", "q93_label_propagation",
        "q108_pagerank",
    ]),
}

# Queries that must write the same non-zero number of bytes on every pass.
WRITERS = {"q49_table_sink_roundtrip", "q154_stream_static_join",
           "q151_stream_dedup_parity"}

# Parquet sink directory (under the JVM's java.io.tmpdir) of each query
# whose read-back row count must equal the rows its write reported.
SINKS = {"q49_table_sink_roundtrip": "graft_sink/GOLD/orders_mart"}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build is made from."""
    h = hashlib.sha256()
    for root in ["src/main/scala", "perfbench/harness"]:
        for p in sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_build():
    if not os.path.isdir("src/main/scala"):
        raise SystemExit("perfbench: no program sources under src/main/scala; "
                         "run from the repository root")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log("perfbench: building the program and the harness")
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    subprocess.run(["sh", "perfbench/harness/build.sh", BUILD], check=True,
                   stdout=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return os.path.abspath(path)


def run_jvm(name, harness_args, deadline):
    """Launch one harness JVM in its own emptied temp dir.

    Returns (records, setup_s, peak_rss_mb, tmp_dir); setup_s is measured
    here, from just before the launch until the JVM reports set-up done.
    """
    home = fresh_dir(os.path.join(RUN_DIR, name))
    tmp = fresh_dir(os.path.join(home, "tmp"))
    cmd = (["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", os.pathsep.join([os.path.abspath(os.path.join(BUILD, "harness")),
                                      os.path.abspath(os.path.join(BUILD, "classes")),
                                      os.path.join(SPARK_JARS, "*")]),
              "perfbench.Harness"]
           + [f"{k}={v}" for k, v in harness_args.items()])
    records, setup_s = [], None
    with open(os.path.join(home, "stderr.log"), "w") as err:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, cwd=home, stdout=subprocess.PIPE, stderr=err, text=True)
        watchdog = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                if not line.startswith("@@"):
                    continue
                rec = json.loads(line[2:])
                if rec["event"] == "setup":
                    setup_s = time.perf_counter() - t0
                records.append(rec)
            _, status, usage = os.wait4(proc.pid, 0)
            proc.returncode = os.waitstatus_to_exitcode(status)
        finally:
            watchdog.cancel()
            if proc.returncode is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not records or records[-1]["event"] != "done":
        raise RuntimeError(f"{name}: JVM exited with {proc.returncode}; "
                           f"see {os.path.join(home, 'stderr.log')}")
    return records, setup_s, usage.ru_maxrss / 1024.0, tmp


def check_outputs(check, tmp, check_dir):
    """Oracle and sink checks; returns {query: reason} for each failure."""
    sys.path.insert(0, "scripts")
    from check import fetch  # the project's canonical typed-row form
    con = duckdb.connect()
    data = os.path.abspath(DATA_DIR)
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    failures = {}
    for q in check["queries"]:
        name = q["name"]
        if q["error"]:
            failures[name] = "check pass raised " + q["error"]
            continue
        if not q["oracle"]:
            failures[name] = "query has no oracle SQL"
            continue
        got_cols, got = fetch(con.sql(f"SELECT * FROM '{check_dir}/{name}/*.parquet'"))
        want_cols, want = fetch(con.sql(q["oracle"]))
        if got_cols != want_cols:
            failures[name] = f"columns {got_cols} != oracle {want_cols}"
        elif got != want:
            same = sorted(got) == sorted(want)
            failures[name] = ("rows out of order" if same else
                              f"values differ from the oracle ({len(got)} vs {len(want)} rows)")
        elif name in SINKS:
            sink = os.path.join(tmp, SINKS[name])
            read_back = con.sql(f"SELECT count(*) FROM '{sink}/**/*.parquet'").fetchone()[0]
            if read_back != q["build_records_written"]:
                failures[name] = (f"sink read back {read_back} rows, "
                                  f"write reported {q['build_records_written']:.0f}")
    return failures


def written_bytes(rec, query):
    c = rec["counters"]
    return sum(v for k, v in c.items() if k.startswith(f"written_bytes.{query}|"))


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    ensure_build()
    deadline = time.monotonic() + RUN_LIMIT_S
    fresh_dir(RUN_DIR)
    pass_s, queries = WORKLOADS[args.workload]
    queries = list(queries)
    random.Random(args.seed).shuffle(queries)
    warm_passes = max(4 if args.trace else 3, round(args.seconds / pass_s))

    setups = []
    if not args.trace:
        for i in range(SETUPS - 1):
            _, s, _, _ = run_jvm(f"setup{i}", {
                "data": os.path.abspath(DATA_DIR), "queries": ",".join(queries),
                "cpus": CPUS, "mode": "setup", "trace": 0}, deadline)
            setups.append(s)
    check_dir = os.path.abspath(os.path.join(RUN_DIR, "check"))
    records, setup_s, rss_mb, tmp = run_jvm("main", {
        "data": os.path.abspath(DATA_DIR), "queries": ",".join(queries),
        "cpus": CPUS, "warm": warm_passes,
        "trace": args.trace, "check": check_dir}, deadline)
    setups.append(setup_s)

    passes = [r for r in records if r["event"] == "pass"]
    cold, warm = passes[0], passes[1:]
    check = next(r for r in records if r["event"] == "check")
    failures = check_outputs(check, tmp, check_dir)
    for q in queries:
        per_pass = {written_bytes(p, q) for p in passes}
        if len(per_pass) != 1:
            failures.setdefault(q, f"bytes written differ between passes: {sorted(per_pass)}")
        elif q in WRITERS and not per_pass.pop() > 0:
            failures.setdefault(q, "wrote no bytes")

    for p in passes:
        for q in p["queries"]:
            if q["error"]:
                failures.setdefault(q["name"], f"raised in the {p['kind']} pass: {q['error']}")
    attempted = sum(len(p["queries"]) for p in passes)
    failed = sum(q["name"] in failures for p in passes for q in p["queries"])
    for name, why in sorted(failures.items()):
        log(f"perfbench: FAIL {name}: {why}")

    if args.trace:
        metrics = layer_metrics(records, passes)
    else:
        metrics = {
            "setup_s": (median(setups), "s"),
            "cold_wall_s": (cold["wall_s"], "s"),
            "warm_wall_s": (median([p["wall_s"] for p in warm]), "s"),
            "cpu_s": (median([p["cpu_s"] for p in warm]), "s"),
            "peak_rss_mb": (rss_mb, "MB"),
        }
    record = {"workload": args.workload, "seed": args.seed, "order": queries,
              "setups_s": setups, "failures": failures,
              "passes": [{k: p[k] for k in ("kind", "traced", "wall_s", "cpu_s", "queries")}
                         for p in passes]}
    print("record " + json.dumps(record))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def layer_metrics(records, passes):
    """Per-layer metrics of a traced run: warm figures are medians over the
    traced warm passes; cold-only figures come from the cold pass."""
    setup = next(r for r in records if r["event"] == "setup")
    scan = next(r for r in records if r["event"] == "scan")
    cold = passes[0]
    traced = [p for p in passes[1:] if p["traced"]]
    plain = [p for p in passes[1:] if not p["traced"]]

    def warm(key, scale=1.0):
        return median([p["counters"].get(key, 0.0) * scale for p in traced])

    def per_pass(fn):
        return median([fn(p) for p in traced])

    return {
        "sources.scan_s": (median([s["wall_s"] for s in scan["scans"]]), "s"),
        "sources.scan_tasks": (median([s["tasks"] for s in scan["scans"]]), "count"),
        "sources.schema_jobs": (setup["counters"].get("layer.schema.jobs", 0.0)
                                + cold["counters"].get("layer.schema.jobs", 0.0), "count"),
        "queries.build_s": (per_pass(lambda p: p["build_s"]), "s"),
        "queries.build_jobs": (warm("queries.build_jobs"), "count"),
        "queries.execute_s": (per_pass(lambda p: p["execute_s"]), "s"),
        "plans.cut_jobs": (warm("layer.plans.jobs"), "count"),
        "plans.cut_s": (warm("layer.plans.job_s"), "s"),
        "operators.jobs": (warm("layer.operators.jobs"), "count"),
        "operators.job_s": (warm("layer.operators.job_s"), "s"),
        "streaming.query_starts": (warm("streaming.query_starts"), "count"),
        "streaming.batches": (warm("streaming.batches"), "count"),
        "streaming.batch_s": (warm("streaming.batch_s"), "s"),
        "streaming.commit_s": (warm("streaming.commit_s"), "s"),
        "streaming.state_rows": (warm("streaming.state_rows"), "count"),
        "commit.bytes_written_mb": (warm("commit.bytes_written", 1e-6), "MB"),
        "commit.scratch_mb": (per_pass(lambda p: p["scratch_mb"]), "MB"),
        "catalyst.analysis_s": (warm("catalyst.analysis_s"), "s"),
        "catalyst.optimization_s": (warm("catalyst.optimization_s"), "s"),
        "catalyst.planning_s": (warm("catalyst.planning_s"), "s"),
        "codegen.compiles": (warm("codegen.compiles"), "count"),
        "codegen.compile_s": (warm("codegen.compile_s"), "s"),
        "codegen.cold_compiles": (cold["counters"].get("codegen.compiles", 0.0), "count"),
        "codegen.cold_compile_s": (cold["counters"].get("codegen.compile_s", 0.0), "s"),
        "exec.jobs": (warm("exec.jobs"), "count"),
        "exec.stages": (warm("exec.stages"), "count"),
        "exec.tasks": (warm("exec.tasks"), "count"),
        "exec.task_cpu_s": (warm("exec.task_cpu_s"), "s"),
        "exec.task_run_s": (warm("exec.task_run_s"), "s"),
        "exec.parallelism": (per_pass(lambda p: p["counters"].get("exec.task_run_s", 0.0)
                                      / (p["wall_s"] * CPUS)), "ratio"),
        "exec.single_task_stage_s": (warm("exec.single_task_stage_s"), "s"),
        "exec.shuffle_write_mb": (warm("exec.shuffle_write_mb"), "MB"),
        "exec.shuffle_read_mb": (warm("exec.shuffle_read_mb"), "MB"),
        "exec.spill_mb": (warm("exec.spill_mb"), "MB"),
        "jvm.gc_s": (warm("jvm.gc_s"), "s"),
        "jvm.gc_count": (warm("jvm.gc_count"), "count"),
        "jvm.jit_s": (cold["counters"].get("jvm.jit_s", 0.0), "s"),
        "jvm.heap_peak_mb": (scan["heap_peak_mb"], "MB"),
        "trace.warm_wall_s": (median([p["wall_s"] for p in traced]), "s"),
        "trace.overhead_pct": (100.0 * (median([p["wall_s"] for p in traced])
                                        / median([p["wall_s"] for p in plain]) - 1.0), "%"),
    }


if __name__ == "__main__":
    main()

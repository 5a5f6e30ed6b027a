#!/usr/bin/env python3
"""Crawl + query benchmark for transmogrify_webcrawler_spark.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 30 --trace 0

One process is one run: a single closed-loop client (one crawl, or one
query, at a time) on ``local[nproc]``. The run builds its inputs from
``--seed`` (cached under ``perfbench/_work/cache``), sets the Spark session
up three times and reports the median set-up time, measures whole
operations for about ``--seconds``, checks every output against the oracle
(the single-process crawler, or DuckDB on the query's ``oracle_sql``), and
prints one JSON object as the last line of stdout. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the engine's public calls,
runs the standalone layer probes and reports the per-layer metrics.
Workloads, metrics and the measurements behind them: perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl", "queries")
SETUP_REPEATS = 3


def build_spark(cpus: int, work: str):
    """bench.py's build_spark settings, with a per-run local and temp dir
    and no console progress bars. The driver JVM compiles with C1 only, so
    a cold run is not measured inside the C2 warm-up ramp, and its 2 GB
    heap is fixed and pre-touched, so G1's resizing does not move
    peak_rss_mb (NOTES.md, "Warm-up policy" and "Memory")."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m "
                "-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )


def set_up(cpus: int, work: str):
    """Session start, package shipping, and one small job whose pandas UDF
    imports the shipped package, so that every Python worker has started.
    Returns (spark, seconds).

    The UDF is built per call: a pandas_udf object binds to the first
    context that runs it, and set-up restarts the context."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from transmogrify_webcrawler_spark.shipping import ship_package

    @F.pandas_udf(StringType())
    def canonical(urls: pd.Series) -> pd.Series:
        from transmogrify_webcrawler_spark.oracle.urlnorm import canonicalize
        return urls.map(canonicalize)

    t0 = time.perf_counter()
    spark = build_spark(cpus, work)
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    spark.range(0, cpus, 1, cpus) \
        .select(canonical(F.lit("HTTP://Example.COM/a/../b"))).collect()
    return spark, time.perf_counter() - t0


def stop_jvm(spark) -> None:
    """Stop the session, then the driver JVM and every process under it,
    and wait for all of them to end."""
    from pyspark import SparkContext

    from perfbench.instrument import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited; its parent reaps it
            except OSError:
                break
            time.sleep(0.1)


def layer_metrics(measured: dict) -> dict:
    """Every per-layer metric BENCHMARK.json declares, in its unit. A layer
    the workload does not run (a crawl layer in ``queries``, a query layer
    in ``crawl``) did no work and reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"]: m["unit"]
                    for m in json.load(f)["per_layer"]}
    for name, (_value, unit) in measured.items():
        if declared.get(name) != unit:
            raise KeyError(f"per-layer metric {name} [{unit}] is not "
                           "declared in BENCHMARK.json")
    return {name: {"value": measured.get(name, (0.0, unit))[0],
                   "unit": unit} for name, unit in declared.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(
            ROOT, "transmogrify_webcrawler_spark", "__init__.py")):
        print("perfbench: the transmogrify_webcrawler_spark package is not "
              f"next to {HERE}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import crawlbench, querybench
    from perfbench.instrument import (
        CpuClock, JobCounter, PeakRSS, Tracer, cpu_steal_jiffies)

    bench = {"crawl": crawlbench, "queries": querybench}[args.workload]
    cache = os.path.join(HERE, "_work", "cache")
    os.makedirs(cache, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-",
                            dir=os.path.join(HERE, "_work"))
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = os.environ["TMPDIR"]
    cpus = len(os.sched_getaffinity(0))
    spark = None
    try:
        inputs = bench.make_inputs(cache, args.seed)
        setups = []
        for i in range(SETUP_REPEATS):
            spark, sec = set_up(cpus, work)
            setups.append(sec)
            if i < SETUP_REPEATS - 1:
                spark.stop()
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        rss = PeakRSS(jvm_pid).start()
        tracer = Tracer(bool(args.trace),
                        f"{args.workload}-seed{args.seed}-{os.getpid()}")
        ctx = dict(seconds=args.seconds, seed=args.seed, work=work,
                   tracer=tracer, jobs=JobCounter(spark.sparkContext),
                   cpu=CpuClock(jvm_pid, rss),
                   setup_s=statistics.median(setups))
        steal0 = cpu_steal_jiffies()
        res = bench.run(spark, inputs, ctx)
        steal1 = cpu_steal_jiffies()
        peak_mb = rss.stop()
        res["notes"].update(
            peak_procs=rss.peak_procs,
            steal_pct=100.0 * (steal1[0] - steal0[0])
            / max(steal1[1] - steal0[1], 1))
        tracer.dump(os.path.join(HERE, "_work", "spans",
                                 f"{tracer.run_id}.json"))
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = layer_metrics(res["layers"])
    else:
        metrics = {
            "cpu_ms_per_item": {"value": res["cpu_ms_per_item"],
                                "unit": "ms"},
            "step_cpu_s.p50": {"value": res["step_cpu_s_p50"], "unit": "s"},
            "setup_s": {"value": ctx["setup_s"], "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
    attempted, failed = res["attempted"], res["failed"]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "failed_ratio": failed / attempted, "setups_s": setups,
        "items_per_s": res["items_per_s"], "step_s_p50": res["step_s_p50"],
        **res["notes"]}), file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

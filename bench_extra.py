#!/usr/bin/env python
"""Extra benchmark tooling for optimization rounds (bench.py is FROZEN for
measurement; this file carries the per-query isolation runs per guide §1.4).

Usage:
  python bench_extra.py q1 q2 ...      # time the named queries (noop sink)
  python bench_extra.py --all          # every BENCH_QUERIES entry
  python bench_extra.py --explain q1   # write plans/r06/<q>_<tag>.txt
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the CPUs this process may use), REPEATS,
     TAG.
Prints one JSON line: {"sf": ..., "queries": {name: median}, "spread": {...}}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS")
           or len(os.sched_getaffinity(0)))
REPEATS = max(int(os.environ.get("REPEATS", "3")), 1)
TAG = os.environ.get("TAG", "before")
REPO = os.path.dirname(os.path.abspath(__file__))


def main():
    from bench import BENCH_QUERIES, build_spark
    from transmogrify_webcrawler_spark import harness

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    explain_only = "--explain" in sys.argv
    names = BENCH_QUERIES if "--all" in sys.argv else args
    spark = build_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    qs = harness.queries()
    out, spread = {}, {}
    for name in names:
        if explain_only:
            df = qs[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            os.makedirs(os.path.join(REPO, "plans", "r06"), exist_ok=True)
            p = os.path.join(REPO, "plans", "r06", f"{name}_{TAG}.txt")
            with open(p, "w") as f:
                f.write(plan)
            print(f"wrote {p}", file=sys.stderr)
            spark.catalog.clearCache()
            continue
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        ts = []
        for _ in range(REPEATS):
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            ts.append(round(time.time() - t0, 2))
        ts.sort()
        out[name] = ts[len(ts) // 2]
        spread[name] = [ts[0], ts[-1]]
        spark.catalog.clearCache()
        print(f"{name}: {out[name]} {spread[name]}", file=sys.stderr)
    if not explain_only:
        print(json.dumps({"sf": SF_DIR.rstrip("/").split("sf")[-1],
                          "cpus": CPUS, "repeats": REPEATS,
                          "queries": out, "spread": spread}))
    spark.stop()


if __name__ == "__main__":
    main()

"""The ``crawl`` workload: a cold, checkpointed wave crawl.

Each operation is one ``SparkCrawler.run`` of SHAPE over a fresh snapshot
store, timed through the final ``count()``; operations repeat while the
next one still fits in the run's window. The crawled set must match the
single-process oracle crawler byte for byte (digest of ``(url_canon,
extracted_text)`` and page count). The traced run also probes the
frontier, dedup, UDF and store layers standalone on the crawl's own inputs
and time-travel snapshots.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys
import time
import traceback

# bench.py's crawl shape (30-word pages, 60% of pages on one hot domain,
# unbounded per-domain budget, Bloom on, full corpus cache, per-wave fetch)
# cut to three full waves so that one cold crawl fits the run budget.
# Dense seeds (one page in seed_every, like bench.py's SPARK_GRAFT_SEED_EVERY)
# keep every wave at wave_size pages from wave 0 on.
SHAPE = dict(pages=4000, body_words=30, hot_share=0.6, seed_every=8,
             wave_size=500, max_waves=3)
ARROW_BATCH = 2048
N_BLOOM_SHARDS = 32


def _common_cfg() -> dict:
    from transmogrify_webcrawler_spark.sources.corpus import DEFAULT_IGNORE

    return dict(wave_size=SHAPE["wave_size"], per_domain_budget=10**9,
                maxsize=512 * 1024, ignore=DEFAULT_IGNORE,
                max_waves=SHAPE["max_waves"], wave_seconds=1e18)


def spark_cfg():
    from transmogrify_webcrawler_spark.plans.crawl import SparkCrawlConfig

    return SparkCrawlConfig(**_common_cfg(), use_bloom=True,
                            n_bloom_shards=N_BLOOM_SHARDS,
                            cache_corpus="full", arrow_batch=ARROW_BATCH,
                            fetch_mode="per-wave")


def crawl_digest(rows) -> str:
    h = hashlib.sha256()
    for url, text in sorted((r["url_canon"], r["extracted_text"])
                            for r in rows):
        h.update(url.encode())
        h.update(b"\0")
        h.update(text.encode())
        h.update(b"\n")
    return h.hexdigest()


def make_inputs(cache: str, seed: int) -> dict:
    """Corpus parquet, dense seed list and the oracle's digest for `seed`,
    generated once and cached (corpus generation is input, not set-up)."""
    tag = hashlib.md5(json.dumps(SHAPE, sort_keys=True).encode()) \
        .hexdigest()[:8]
    base = os.path.join(cache, f"crawl-{tag}-seed{seed}")
    if os.path.exists(base + ".json") and os.path.exists(base + ".parquet"):
        with open(base + ".json") as f:
            return json.load(f)

    from transmogrify_webcrawler_spark.oracle import CrawlConfig, OracleCrawler
    from transmogrify_webcrawler_spark.sources.corpus import (
        generate_corpus, pages_index, write_parquet)

    rows, seeds, robots = generate_corpus(
        n_domains=max(8, SHAPE["pages"] // 500), total_pages=SHAPE["pages"],
        seed=seed, body_words=SHAPE["body_words"],
        hot_share=SHAPE["hot_share"], parallel=False)
    every = SHAPE["seed_every"]
    dense = {r["url"] for r in rows if not r["url"].endswith("robots.txt")
             and int(hashlib.md5(r["url"].encode()).hexdigest(), 16)
             % every == 0}
    seeds = sorted(set(seeds) | dense)
    oracle = OracleCrawler(pages_index(rows), robots, seeds,
                           CrawlConfig(**_common_cfg()))
    crawled = oracle.run()
    write_parquet(rows, base + ".parquet.tmp")
    os.replace(base + ".parquet.tmp", base + ".parquet")
    meta = dict(path=base + ".parquet", seeds=seeds,
                oracle_pages=len(crawled), oracle_digest=crawl_digest(crawled),
                oracle_waves=len(oracle.metrics))
    with open(base + ".json.tmp", "w") as f:
        json.dump(meta, f)
    os.replace(base + ".json.tmp", base + ".json")
    return meta


def _instrument(crawler, tracer, jobs, cpu, wave_s: list,
                wave_cpu_s: list) -> None:
    """Time every wave, in wall and CPU time (always: they are the step
    metrics) and, when tracing, put spans around the crawler's and the
    store's public calls."""
    for method, name in (("prepare_pages", "crawl.prepare"),
                         ("robots_table", "crawl.prepare"),
                         ("bootstrap", "crawl.bootstrap"),
                         ("build_wave", "crawl.plan_build"),
                         ("finalize", "crawl.finalize")):
        tracer.wrap(crawler, method, name)

    if tracer.enabled:
        store = crawler.store
        commit = store.commit_wave

        def traced_commit(wave, *args, **kwargs):
            before = jobs.job_ids()
            with tracer.span("icetable.commit", wave=wave) as rec:
                out = commit(wave, *args, **kwargs)
                rec.update(write_s=dict(store.last_write_times),
                           **jobs.counts(before))
            return out

        store.commit_wave = traced_commit
    run_wave = crawler.run_wave

    def timed_wave(wave, *args, **kwargs):
        c0, t0 = cpu(), time.perf_counter()
        with tracer.span("crawl.wave", wave=wave):
            n = run_wave(wave, *args, **kwargs)
        wave_s.append(time.perf_counter() - t0)
        wave_cpu_s.append(cpu() - c0)
        return n

    crawler.run_wave = timed_wave


def crawl_once(spark, pages, inputs: dict, store_dir: str, tracer,
               jobs, cpu) -> dict:
    from transmogrify_webcrawler_spark.plans.crawl import SparkCrawler

    crawler = SparkCrawler(spark, store_dir, spark_cfg())
    wave_s: list[float] = []
    wave_cpu_s: list[float] = []
    _instrument(crawler, tracer, jobs, cpu, wave_s, wave_cpu_s)
    with tracer.span("crawl.run"):
        c0, t0 = cpu(), time.perf_counter()
        out = crawler.run(pages, inputs["seeds"])
        with tracer.span("crawl.finalize"):
            n = out.count()
        wall = time.perf_counter() - t0
        cpu_s = cpu() - c0
    rows = out.select("url_canon", "extracted_text").collect()
    ok = (n == inputs["oracle_pages"] and len(rows) == n
          and crawl_digest(rows) == inputs["oracle_digest"])
    if not ok:
        print(f"crawl: output differs from the oracle: {n} pages vs "
              f"{inputs['oracle_pages']}", file=sys.stderr)
    return dict(crawler=crawler, wall=wall, cpu_s=cpu_s, pages=n,
                wave_s=wave_s, wave_cpu_s=wave_cpu_s, ok=ok)


def run(spark, inputs: dict, ctx: dict) -> dict:
    from perfbench.instrument import jvm_gc_jit_ms

    tracer, jobs = ctx["tracer"], ctx["jobs"]
    sc = spark.sparkContext
    pages = spark.read.parquet(inputs["path"])
    done, errors = [], 0
    gc0, jit0 = jvm_gc_jit_ms(sc)
    t_start = time.perf_counter()
    while True:
        store = os.path.join(ctx["work"], f"store{len(done)}")
        t0 = time.perf_counter()
        try:
            done.append(crawl_once(spark, pages, inputs, store, tracer, jobs,
                                   ctx["cpu"]))
        except Exception:  # noqa: BLE001 — counted as a failed operation
            traceback.print_exc()
            errors += 1
            break
        left = ctx["seconds"] - (time.perf_counter() - t_start)
        if left < time.perf_counter() - t0:
            break
    gc1, jit1 = jvm_gc_jit_ms(sc)
    if not done:
        raise RuntimeError("crawl: no crawl completed")

    waves = [w for r in done for w in r["wave_s"]]
    wave_cpu = [w for r in done for w in r["wave_cpu_s"]]
    n_pages = sum(r["pages"] for r in done)
    res = dict(
        cpu_ms_per_item=1000.0 * sum(r["cpu_s"] for r in done) / n_pages,
        step_cpu_s_p50=statistics.median(wave_cpu),
        items_per_s=n_pages / sum(r["wall"] for r in done),
        step_s_p50=statistics.median(waves),
        attempted=len(done) + errors,
        failed=errors + sum(not r["ok"] for r in done),
        notes=dict(crawls=len(done), pages=[r["pages"] for r in done],
                   crawl_s=[round(r["wall"], 3) for r in done],
                   crawl_cpu_s=[round(r["cpu_s"], 3) for r in done],
                   wave_s=[round(w, 3) for w in waves],
                   wave_cpu_s=[round(w, 3) for w in wave_cpu],
                   wave_samples=len(waves)),
    )
    if tracer.enabled:
        res["layers"] = layers(spark, inputs, done[-1], tracer, res,
                               gc1 - gc0, jit1 - jit0)
    return res


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def layers(spark, inputs, last, tracer, res, gc_ms, jit_ms) -> dict:
    """Per-layer metrics from the spans of the traced window plus the
    standalone probes on the last crawl's store."""
    commits = [s for s in tracer.spans
               if s["name"] == "icetable.commit" and s["wave"] >= 0]
    crawls = res["notes"]["crawls"]
    out = {
        "crawl.plan_build_s": (_median(tracer.durations("crawl.plan_build")),
                               "s"),
        "crawl.prepare_s": (tracer.total("crawl.prepare") / crawls, "s"),
        "crawl.bootstrap_s": (tracer.total("crawl.bootstrap") / crawls, "s"),
        "crawl.finalize_s": (tracer.total("crawl.finalize") / crawls, "s"),
        "icetable.commit_s": (_median([s["end"] - s["start"]
                                       for s in commits]), "s"),
        "icetable.jobs_per_wave": (_median([s["jobs"] for s in commits]),
                                   "count"),
        "icetable.stages_per_wave": (_median([s["stages"] for s in commits]),
                                     "count"),
        "icetable.tasks_per_wave": (_median([s["tasks"] for s in commits]),
                                    "count"),
        "spark.gc_s": (gc_ms / 1000.0, "s"),
        "spark.jit_ms": (jit_ms, "ms"),
        "traced.cpu_ms_per_item": (res["cpu_ms_per_item"], "ms"),
        "traced.step_cpu_s.p50": (res["step_cpu_s_p50"], "s"),
        "traced.items_per_s": (res["items_per_s"], "1/s"),
        "traced.step_s.p50": (res["step_s_p50"], "s"),
    }
    for table in ("crawled", "frontier", "_grouped", "bloom_shards"):
        out[f"icetable.write_s.{table}"] = (
            _median([s["write_s"].get(table, 0.0) for s in commits]), "s")
    out.update(store_layout(last["crawler"].store, last["pages"],
                            len(commits) // crawls))
    out.update(probe_frontier_dedup(spark, last["crawler"].store))
    out.update(probe_udfs(spark, inputs["path"]))
    return out


def store_layout(store, pages: int, waves: int) -> dict:
    n_bytes = n_files = 0
    for dirpath, _dirs, files in os.walk(os.path.join(store.root, "data")):
        for fn in files:
            if fn.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, fn))
    return {"icetable.bytes_per_page": (n_bytes / max(pages, 1), "B"),
            "icetable.files_per_wave": (n_files / max(waves, 1), "count")}


def probe_frontier_dedup(spark, store) -> dict:
    """Re-run selection and seen-set dedup standalone for every wave, on the
    time-travel snapshot that wave started from (as_of_wave = w - 1)."""
    from pyspark.sql import functions as F

    from transmogrify_webcrawler_spark.operators.dedup import (
        SHARD_SCHEMA, bloom_probe, seen_anti_join)
    from transmogrify_webcrawler_spark.operators.frontier import (
        politeness_budget, wave_topk, with_priority)
    from transmogrify_webcrawler_spark.plans.crawl import (
        FRONTIER_SCHEMA, SEEN_SCHEMA)

    cfg = spark_cfg()
    select_s, probe_s, n_cand, n_pass, n_new = [], [], 0, 0, 0
    for w in range(store.current_wave() + 1):
        frontier = store.read(spark, "frontier", FRONTIER_SCHEMA,
                              as_of_wave=w - 1)
        t0 = time.perf_counter()
        wave_topk(politeness_budget(with_priority(frontier),
                                    cfg.per_domain_budget, cfg.n_salts),
                  cfg.wave_size).write.format("noop").mode("overwrite").save()
        select_s.append(time.perf_counter() - t0)

        links = store.read(spark, "links", as_of_wave=w)
        cand = (links.filter(F.col("wave") == w).groupBy("dst")
                .agg(F.count("*").alias("new_refs"))
                .withColumnRenamed("dst", "url_canon").persist())
        n_cand += cand.count()
        shards = store.read(spark, "bloom_shards", SHARD_SCHEMA,
                            as_of_wave=w - 1)
        seen = store.read(spark, "seen", SEEN_SCHEMA, as_of_wave=w - 1)
        t0 = time.perf_counter()
        flagged = bloom_probe(cand, shards, cfg.n_bloom_shards,
                              cfg.bloom_shard_bytes).persist()
        suspects = flagged.filter("_maybe_seen").drop("_maybe_seen")
        n_pass += suspects.count()
        n_new += flagged.filter("NOT _maybe_seen").drop("_maybe_seen") \
            .unionByName(seen_anti_join(suspects, seen)).count()
        probe_s.append(time.perf_counter() - t0)
        flagged.unpersist()
        cand.unpersist()
    return {"frontier.select_s": (_median(select_s), "s"),
            "dedup.probe_s": (_median(probe_s), "s"),
            "dedup.bloom_pass_ratio": (n_pass / max(n_cand, 1), "ratio"),
            "dedup.new_ratio": (n_new / max(n_cand, 1), "ratio")}


def probe_udfs(spark, path: str) -> dict:
    """extract_page over the workload's pages: the Python body in-process,
    then the same UDF as a Spark job into a noop sink. Their ratio is what
    the Arrow/worker boundary costs."""
    import pandas as pd
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from transmogrify_webcrawler_spark.functions.udfs import extract_page_udf

    table = pq.read_table(path, columns=["url", "html"]).to_pandas()
    n = len(table)
    t0 = time.perf_counter()
    for i in range(0, n, ARROW_BATCH):
        chunk = table.iloc[i:i + ARROW_BATCH]
        extract_page_udf.func(chunk["html"], chunk["url"],
                              pd.Series([False] * len(chunk)))
    py_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    (spark.read.parquet(path)
     .select(extract_page_udf(F.col("html"), F.col("url"), F.lit(False))
             .alias("pg"))
     .write.format("noop").mode("overwrite").save())
    udf_s = time.perf_counter() - t0
    return {"udfs.extract_py_pages_per_s": (n / py_s, "1/s"),
            "udfs.extract_udf_pages_per_s": (n / udf_s, "1/s")}

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    s = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("transmogrify-webcrawler-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus():
    from transmogrify_webcrawler_spark.sources.corpus import (
        DEFAULT_IGNORE, generate_corpus, pages_index,
    )

    rows, seeds, robots = generate_corpus(n_domains=6, total_pages=300)
    return dict(rows=rows, seeds=seeds, robots=robots,
                index=pages_index(rows), ignore=DEFAULT_IGNORE)


@pytest.fixture(scope="session")
def oracle_result(corpus):
    from transmogrify_webcrawler_spark.oracle import CrawlConfig, OracleCrawler

    cfg = CrawlConfig(wave_size=50, per_domain_budget=20, maxsize=64 * 1024,
                      ignore=corpus["ignore"])
    c = OracleCrawler(corpus["index"], corpus["robots"], corpus["seeds"], cfg)
    out = c.run()
    return dict(crawled=out, crawler=c, cfg=cfg)


@pytest.fixture(scope="session")
def pages_df(spark, corpus, tmp_path_factory):
    from transmogrify_webcrawler_spark.sources.corpus import write_parquet

    p = tmp_path_factory.mktemp("corpus") / "pages.parquet"
    write_parquet(corpus["rows"], str(p))
    return spark.read.parquet(str(p))


@pytest.fixture(scope="session")
def range_topk_ckpt_crawl(spark, pages_df, corpus, oracle_result,
                          tmp_path_factory):
    """One crawl shared by the range_topk identity test and the checkpoint
    reaping test: range_topk forced through every wave
    (topk_single_pass_limit=0) with a checkpoint dir set, so it checkpoints
    reliably each wave. `run_wave` is wrapped on the instance to record,
    after EVERY wave, the subdirs under the checkpoint base and the files in
    them (run()'s final reap would hide a per-wave leak). Everything is
    collected before the checkpoint dir is un-configured."""
    from transmogrify_webcrawler_spark.plans.crawl import (
        SparkCrawlConfig, SparkCrawler,
    )

    sc = spark.sparkContext
    tmp = tmp_path_factory.mktemp("range_topk_ckpt")
    base = tmp / "ckpt"
    sc.setCheckpointDir(str(base))
    try:
        ocfg = oracle_result["cfg"]
        cfg = SparkCrawlConfig(
            wave_size=ocfg.wave_size,
            per_domain_budget=ocfg.per_domain_budget, maxsize=ocfg.maxsize,
            ignore=ocfg.ignore, use_bloom=False, n_salts=4,
            topk_single_pass_limit=0,
        )
        crawler = SparkCrawler(spark, str(tmp / "store"), cfg)
        run_wave = crawler.run_wave
        per_wave = []  # (subdirs under base, files in them) after each wave

        def counted_wave(*args, **kwargs):
            n = run_wave(*args, **kwargs)
            dirs = [p for p in base.iterdir() if p.is_dir()]
            per_wave.append((len(dirs), sum(
                1 for d in dirs for p in d.rglob("*") if p.is_file())))
            return n

        crawler.run_wave = counted_wave
        final = crawler.run(pages_df, corpus["seeds"])
        sortorder = {r["url_canon"]: r["sortorder"] for r in final.collect()}
        leftover = sorted(p for p in base.iterdir() if p.is_dir())
        return dict(sortorder=sortorder, per_wave=per_wave,
                    leftover=leftover, ckpt_dirs=list(crawler._ckpt_dirs))
    finally:
        # un-configure the checkpoint dir so later tests on the shared
        # session keep the persist paths they expect (package-private
        # Scala var, reachable from py4j)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            getattr(sc._jvm.scala.Option, "empty")())

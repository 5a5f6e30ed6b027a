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

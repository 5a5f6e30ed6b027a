"""The binding correctness gate (BASELINE.json input_hint): the distributed
Spark crawl must match the pinned single-process oracle crawler exactly —
byte-identical extracted_text per url, identical crawl set, identical
sortorder, identical seen set, under the same seed list + politeness budget."""

import pytest

from transmogrify_webcrawler_spark.plans.crawl import (
    SparkCrawlConfig, SparkCrawler,
)


@pytest.fixture(scope="module")
def spark_result(spark, pages_df, corpus, oracle_result, tmp_path_factory):
    store = tmp_path_factory.mktemp("store")
    ocfg = oracle_result["cfg"]
    cfg = SparkCrawlConfig(
        wave_size=ocfg.wave_size, per_domain_budget=ocfg.per_domain_budget,
        maxsize=ocfg.maxsize, ignore=ocfg.ignore, use_bloom=True,
        n_bloom_shards=8, n_salts=4,
    )
    crawler = SparkCrawler(spark, str(store), cfg)
    final = crawler.run(pages_df, corpus["seeds"])
    rows = {r["url_canon"]: r.asDict() for r in final.collect()}
    return dict(rows=rows, crawler=crawler)


def test_crawl_set_identical(spark_result, oracle_result):
    got = set(spark_result["rows"])
    want = {r["url_canon"] for r in oracle_result["crawled"]}
    assert got == want


def test_extracted_text_byte_identical(spark_result, oracle_result):
    rows = spark_result["rows"]
    for r in oracle_result["crawled"]:
        s = rows[r["url_canon"]]
        assert s["extracted_text"] == r["extracted_text"], r["url_canon"]
        # byte-level: both sides are str decoded from the same bytes rule
        assert s["extracted_text"].encode("utf-8") == \
            r["extracted_text"].encode("utf-8")


def test_sortorder_identical(spark_result, oracle_result):
    rows = spark_result["rows"]
    for r in oracle_result["crawled"]:
        assert rows[r["url_canon"]]["sortorder"] == r["sortorder"], \
            r["url_canon"]


def test_metadata_identical(spark_result, oracle_result):
    rows = spark_result["rows"]
    for r in oracle_result["crawled"]:
        s = rows[r["url_canon"]]
        for k in ("wave", "depth", "path", "site_url", "mimetype",
                  "content_type", "isindex"):
            assert s[k] == r[k], (r["url_canon"], k, s[k], r[k])


def test_backlinks_identical(spark_result, oracle_result):
    rows = spark_result["rows"]
    for r in oracle_result["crawled"]:
        assert rows[r["url_canon"]]["backlinks"] == r["backlinks"], \
            r["url_canon"]


def test_seen_set_identical(spark, spark_result, oracle_result):
    from transmogrify_webcrawler_spark.plans.crawl import SEEN_SCHEMA

    store = spark_result["crawler"].store
    got = {r["url_canon"]
           for r in store.read(spark, "seen", SEEN_SCHEMA).collect()}
    assert got == oracle_result["crawler"].seen


def test_errors_identical(spark, spark_result, oracle_result):
    store = spark_result["crawler"].store
    got = {(r["url_canon"], r["wave"], r["reason"])
           for r in store.read(spark, "errors").collect()}
    want = {(e["url_canon"], e["wave"], e["reason"])
            for e in oracle_result["crawler"].errors}
    assert got == want


def test_ext_links_identical(spark, spark_result, oracle_result):
    store = spark_result["crawler"].store
    got = {(r["src"], r["dst"])
           for r in store.read(spark, "ext_links").collect()}
    want = {(e["src"], e["dst"])
            for e in oracle_result["crawler"].ext_links}
    assert got == want


def test_metrics_match_oracle_totals(spark, spark_result, oracle_result):
    import pyspark.sql.functions as F

    store = spark_result["crawler"].store
    m = (store.read(spark, "metrics")
         .groupBy("wave")
         .agg(*[F.sum(c).alias(c) for c in
                ("fetched", "parsed", "skipped_robots", "skipped_maxsize",
                 "skipped_notfound", "bytes", "skipped_ignore")])
         .collect())
    got = {r["wave"]: r.asDict() for r in m}
    for om in oracle_result["crawler"].metrics:
        g = got[om["wave"]]
        for k in ("fetched", "parsed", "skipped_robots", "skipped_maxsize",
                  "skipped_notfound", "bytes", "skipped_ignore"):
            assert g[k] == om[k], (om["wave"], k, g[k], om[k])

"""Resume correctness (BASELINE.md): kill after wave k, restart with a FRESH
crawler on the same store — final tables must equal an uninterrupted run
byte-for-byte. Also: snapshot atomicity (a torn commit is invisible)."""

import dataclasses
import json
import os

import pytest

from transmogrify_webcrawler_spark.plans.crawl import (
    SparkCrawlConfig, SparkCrawler,
)


@pytest.fixture(scope="module")
def small_cfg(corpus, oracle_result):
    o = oracle_result["cfg"]
    return SparkCrawlConfig(
        wave_size=o.wave_size, per_domain_budget=o.per_domain_budget,
        maxsize=o.maxsize, ignore=o.ignore, n_bloom_shards=8, n_salts=4)


def _rows(df):
    return sorted(
        (r["url_canon"], r["sortorder"], r["wave"], r["extracted_text"],
         tuple(r["backlinks"]))
        for r in df.collect())


def test_kill_and_resume_equals_uninterrupted(spark, pages_df, corpus,
                                              small_cfg, tmp_path):
    full = SparkCrawler(spark, str(tmp_path / "full"), small_cfg)
    want = _rows(full.run(pages_df, corpus["seeds"]))

    killed_cfg = dataclasses.replace(small_cfg, max_waves=3)
    a = SparkCrawler(spark, str(tmp_path / "resume"), killed_cfg)
    a.run(pages_df, corpus["seeds"])
    assert a.store.current_wave() == 2  # stopped mid-crawl

    b = SparkCrawler(spark, str(tmp_path / "resume"), small_cfg)  # fresh
    got = _rows(b.run(pages_df, corpus["seeds"]))
    assert got == want

    # seen sets equal too
    from transmogrify_webcrawler_spark.plans.crawl import SEEN_SCHEMA
    sa = {r["url_canon"] for r in
          full.store.read(spark, "seen", SEEN_SCHEMA).collect()}
    sb = {r["url_canon"] for r in
          b.store.read(spark, "seen", SEEN_SCHEMA).collect()}
    assert sa == sb


def test_resume_with_changed_bloom_params_rebuilds(spark, pages_df, corpus,
                                                   small_cfg, tmp_path):
    """Resume with a DIFFERENT bloom geometry (n_bloom_shards 8 -> 4,
    shard_bytes halved): the manifest's bloom_params validation must detect
    the mismatch and rebuild the shard table distributed from the exact
    seen table — probes routed under the old geometry would claim
    'definitely new' for seen URLs and silently re-crawl them. Final crawl
    must equal an uninterrupted run byte-for-byte, and the committed shard
    table must carry the NEW geometry."""
    full = SparkCrawler(spark, str(tmp_path / "full2"), small_cfg)
    want = _rows(full.run(pages_df, corpus["seeds"]))

    killed_cfg = dataclasses.replace(small_cfg, max_waves=3)
    a = SparkCrawler(spark, str(tmp_path / "rb"), killed_cfg)
    a.run(pages_df, corpus["seeds"])
    assert a.store.current_manifest()["bloom_params"] == [
        small_cfg.n_bloom_shards, small_cfg.bloom_shard_bytes]

    new_cfg = dataclasses.replace(
        small_cfg, n_bloom_shards=4,
        bloom_shard_bytes=small_cfg.bloom_shard_bytes // 2)
    b = SparkCrawler(spark, str(tmp_path / "rb"), new_cfg)
    got = _rows(b.run(pages_df, corpus["seeds"]))
    assert got == want

    m = b.store.current_manifest()
    assert m["bloom_params"] == [4, small_cfg.bloom_shard_bytes // 2]
    from transmogrify_webcrawler_spark.operators.dedup import SHARD_SCHEMA
    shards = b.store.read(spark, "bloom_shards", SHARD_SCHEMA).collect()
    assert {r["shard_id"] for r in shards} <= set(range(4))
    assert all(len(r["filter_bytes"]) == small_cfg.bloom_shard_bytes // 2
               for r in shards)


def test_torn_commit_invisible(spark, pages_df, corpus, small_cfg, tmp_path):
    """Data dirs written without a published manifest must not be read."""
    cfg = dataclasses.replace(small_cfg, max_waves=2)
    c = SparkCrawler(spark, str(tmp_path / "torn"), cfg)
    c.run(pages_df, corpus["seeds"])
    manifest_before = c.store.current_manifest()
    # simulate a torn commit: orphan data dir for a next wave, no pointer
    orphan = tmp_path / "torn" / "data" / "crawled" / "wave=000099"
    os.makedirs(orphan)
    (orphan / "junk.parquet").write_bytes(b"not a real parquet")
    assert c.store.current_manifest() == manifest_before
    crawled = c.store.read(spark, "crawled")
    assert "wave=000099" not in json.dumps(
        c.store.current_manifest()["tables"])
    assert crawled.count() > 0  # reads fine, orphan ignored

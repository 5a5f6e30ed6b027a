"""Round-3 hardening: robots root-path-only winner rule, deterministic
corpus dedup tie-break, loud bloom state-mismatch failure, empty-roots scope
semantics (ADVICE.md round 2)."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F


def _pages_df(spark, rows):
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
              "lang string")


def _crawler(spark, tmp_path):
    from transmogrify_webcrawler_spark.plans.crawl import (
        SparkCrawlConfig, SparkCrawler,
    )
    return SparkCrawler(spark, str(tmp_path / "store"), SparkCrawlConfig())


TS = datetime(2026, 1, 1)
ROOT_ROBOTS = b"User-agent: *\nDisallow: /private/\n"
DEEP_ROBOTS = b"User-agent: *\nDisallow: /\n"


def test_deep_robots_never_shadows_root(spark, tmp_path):
    """A mirror copy at /z/robots.txt sorts lexically ABOVE /robots.txt
    (z > r) — under the old endswith-only rule it would win the per-domain
    max() and block the whole domain. Root-path restriction must keep the
    real root file the winner, in BOTH engines."""
    rows = [
        ("http://example.com/robots.txt", TS, ROOT_ROBOTS, "", "en"),
        ("http://example.com/z/robots.txt", TS, DEEP_ROBOTS, "", "en"),
        ("http://example.com/", TS, b"<html></html>", "", "en"),
    ]
    got = _crawler(spark, tmp_path).robots_table(
        _pages_df(spark, rows)).collect()
    assert len(got) == 1
    assert got[0]["robots_txt"] == ROOT_ROBOTS.decode()

    from transmogrify_webcrawler_spark.sources.corpus import robots_best_map
    omap = robots_best_map(
        [dict(url=u, warc_ts=t, html=h) for u, t, h, _, _ in rows])
    assert omap == {"example.com": ROOT_ROBOTS.decode()}


def test_subdomain_root_robots_still_wins(spark, tmp_path):
    """www.example.com/robots.txt is a ROOT-path file on another host of the
    same registered domain — it stays in the reduction (www > bare wins,
    the pinned winner rule)."""
    www = b"User-agent: *\nDisallow: /w/\n"
    rows = [
        ("http://example.com/robots.txt", TS, ROOT_ROBOTS, "", "en"),
        ("http://www.example.com/robots.txt", TS, www, "", "en"),
    ]
    got = _crawler(spark, tmp_path).robots_table(
        _pages_df(spark, rows)).collect()
    assert len(got) == 1
    assert got[0]["robots_txt"] == www.decode()

    from transmogrify_webcrawler_spark.sources.corpus import robots_best_map
    omap = robots_best_map(
        [dict(url=u, warc_ts=t, html=h) for u, t, h, _, _ in rows])
    assert omap == {"example.com": www.decode()}


def test_prepare_pages_exact_duplicates_deterministic(spark, tmp_path):
    """Exact duplicate corpus rows (same url, warc_ts, html) collapse to ONE
    row; the latest capture still wins per url_canon; for a FILE-backed
    corpus (the production path) the tie-break id is the physical row
    address — no monotonically_increasing_id in the plan, stable across
    recomputation (skinny-mode waves re-derive it every wave)."""
    old, new = b"<html>old</html>", b"<html>new</html>"
    rows = [
        ("http://example.com/p/1.html", TS, old, "", "en"),
        ("http://example.com/p/1.html", TS, old, "", "en"),  # exact dup
        ("http://example.com/p/1.html", datetime(2026, 1, 2), new, "", "en"),
        ("http://example.com/p/2.html", TS, old, "", "en"),
    ]
    pq = str(tmp_path / "pages.parquet")
    _pages_df(spark, rows).write.parquet(pq)
    prepared = _crawler(spark, tmp_path).prepare_pages(spark.read.parquet(pq))
    got = {r["url_canon"]: bytes(r["html"]) for r in prepared.collect()}
    assert prepared.count() == 2
    assert got["http://example.com/p/1.html"] == new
    assert got["http://example.com/p/2.html"] == old
    assert "monotonically" not in prepared._jdf.queryExecution().toString()
    # the fat html column must never enter a shuffle
    plan = prepared._jdf.queryExecution().executedPlan().toString()
    assert not [ln for ln in plan.splitlines()
                if "Exchange" in ln and "html" in ln]
    # in-memory fixtures (no _metadata) still collapse exact dups
    prepared_mem = _crawler(spark, tmp_path).prepare_pages(
        _pages_df(spark, rows))
    assert prepared_mem.count() == 2


def test_bloom_probe_raises_on_fragment_size_mismatch(spark):
    """Validated probe state must never mismatch — a wrong-sized fragment is
    a latent state bug and must fail LOUD, not silently convert to false
    negatives (re-crawled seen URLs)."""
    from transmogrify_webcrawler_spark.operators.dedup import (
        bloom_probe, build_bloom_fragments,
    )
    urls = spark.createDataFrame(
        [(f"http://example.com/p/{i}.html",) for i in range(50)],
        "url_canon string")
    shards = build_bloom_fragments(urls, n_shards=4, nbytes=128)
    with pytest.raises(Exception, match="mismatch|128"):
        bloom_probe(urls, shards, n_shards=4, nbytes=256).collect()


def test_empty_roots_scope_is_false(spark):
    """roots=() means nothing is in scope (legacy lit(False)) — the
    host-form fast path must not turn it into isin() with zero args."""
    from transmogrify_webcrawler_spark.plans.crawl import (
        all_host_form, in_scope_expr,
    )
    assert not all_host_form(())
    df = spark.createDataFrame(
        [("http://example.com/a.html",)], "dst string")
    assert df.filter(in_scope_expr(F.col("dst"), ())).count() == 0


def test_grouped_zero_rows_clears_stale_dir(spark, tmp_path):
    """Round-4 ADVICE: a retried torn commit left data files in a table dir
    that now receives ZERO rows via the grouped write — the empty-table
    branch must clear the stale dir, or leaked rows surface in the footer
    counts and the published snapshot."""
    from transmogrify_webcrawler_spark.sources.icetable import SnapshotStore

    store = SnapshotStore(str(tmp_path / "store"))
    a = spark.createDataFrame([(1, "x")], "id int, v string")
    empty = a.limit(0)
    # simulate the torn attempt: stale files already sit where wave 0's
    # grouped rename will land for table 'b'
    import os
    stale = os.path.join(store.root, "data", "b", "wave=000000")
    a.write.mode("overwrite").parquet(stale)
    m = store.commit_wave(0, appends={"a": a, "b": empty, "c": a},
                          replaces={})
    assert m["counts"]["b"] == 0  # stale rows gone, not leaked
    assert store.read(spark, "b").count() == 0


def test_crawler_restores_session_confs(spark, pages_df, corpus):
    """Round-4 ADVICE: crawler tuning (arrow batch, partition bytes, AQE
    knobs, parquet block size) must not bleed into whatever the session
    runs after run() returns."""
    import tempfile

    from transmogrify_webcrawler_spark.plans.crawl import (
        SparkCrawlConfig, SparkCrawler,
    )

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))
    cfg = SparkCrawlConfig(wave_size=50, per_domain_budget=20,
                           maxsize=64 * 1024, ignore=corpus["ignore"],
                           max_waves=1, use_bloom=False, arrow_batch=64)
    store = tempfile.mkdtemp(prefix="conf_restore_")
    crawler = SparkCrawler(spark, store, cfg)
    # __init__ applied the crawler tuning...
    assert spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch") == "64"
    crawler.run(pages_df, corpus["seeds"])
    # ...and run() restored every overridden conf on the way out
    assert spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch") == "2048"
    assert spark.conf.get(
        "spark.sql.files.maxPartitionBytes") == str(128 << 20)
    import shutil
    shutil.rmtree(store, ignore_errors=True)


def test_checkpoint_dirs_reaped_per_wave(range_topk_ckpt_crawl):
    """Spark never deletes reliable df.checkpoint() files (only the GC-tied
    cleaner conf, off by default) and unpersist() on a checkpointed frame is
    a no-op — so the per-wave checkpoints of a long crawl would grow the
    checkpoint dir without bound. The crawler rotates a subdir per wave and
    reaps the retired ones. Checked after EVERY wave of the range_topk crawl
    (shared with test_plans' identity test): only the user's original subdir
    and the active one remain."""
    per_wave = range_topk_ckpt_crawl["per_wave"]
    assert len(per_wave) >= 3  # rotation must actually have happened
    # range_topk really checkpointed into the rotated dirs
    assert any(n_files for _, n_files in per_wave), per_wave
    assert all(n_dirs <= 2 for n_dirs, _ in per_wave), per_wave
    leftover = range_topk_ckpt_crawl["leftover"]
    assert len(leftover) <= 2, leftover
    assert len(range_topk_ckpt_crawl["ckpt_dirs"]) <= 1

"""Physical-plan regression tests: the plans we shipped are the plans we
want (predicate pushdown, rank pushdown, top-k without full sort, partial
aggregation, broadcast dims). A refactor that silently degrades one of these
shapes fails here long before it shows up in a benchmark."""

import re

import pyspark.sql.functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_maxsize_gate_filter_pushed_to_scan(spark):
    from transmogrify_webcrawler_spark import harness

    df = harness.q_maxsize_gate(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(n_chars,300)" in plan.replace(" ", "")
    # column pruning: only the two selected columns reach the scan
    assert "text" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_politeness_budget_uses_rank_pushdown(spark):
    from transmogrify_webcrawler_spark.operators.frontier import (
        politeness_budget, with_priority)
    from transmogrify_webcrawler_spark.plans.crawl import FRONTIER_SCHEMA

    fr = spark.createDataFrame(
        [("http://a.com/x", 1, 3, "a.com")], FRONTIER_SCHEMA)
    plan = _plan(politeness_budget(with_priority(fr), 10, 4))
    assert "WindowGroupLimit" in plan  # rank filter pushed below the window


def test_wave_topk_is_take_ordered_not_full_sort(spark):
    from transmogrify_webcrawler_spark.operators.frontier import (
        wave_topk, with_priority)
    from transmogrify_webcrawler_spark.plans.crawl import FRONTIER_SCHEMA

    fr = spark.createDataFrame(
        [("http://a.com/x", 1, 3, "a.com")], FRONTIER_SCHEMA)
    plan = _plan(wave_topk(with_priority(fr), 100))
    assert "TakeOrderedAndProject" in plan


def test_range_topk_no_single_task_merge(spark):
    """Scale path (wave_size > single_pass_limit): exact same row set as
    orderBy().limit(), with NO TakeOrderedAndProject (driver merge of
    n_partitions x k rows) and NO global single-partition Sort anywhere in
    the plan — only range partitioning + a boundary-partition window."""
    from transmogrify_webcrawler_spark.operators.frontier import (
        wave_topk, with_priority)
    from transmogrify_webcrawler_spark.plans.crawl import FRONTIER_SCHEMA

    rows = [(f"http://d{i % 7}.com/p/{i}", i % 5, i % 11, f"d{i % 7}.com")
            for i in range(500)]
    fr = with_priority(spark.createDataFrame(rows, FRONTIER_SCHEMA))
    caches: list = []
    got_df = wave_topk(fr, 123, single_pass_limit=0, caches=caches)
    plan = _plan(got_df)
    assert "TakeOrderedAndProject" not in plan
    assert "rangepartitioning" in plan.replace(" ", "").lower()
    got = {(r["url_canon"]) for r in got_df.collect()}
    want = {r["url_canon"] for r in
            fr.orderBy("priority", "url_canon").limit(123).collect()}
    assert got == want and len(got) == 123
    # fewer rows than k: keeps everything
    caches2: list = []
    assert wave_topk(fr, 10_000, single_pass_limit=0,
                     caches=caches2).count() == 500
    for c in caches + caches2:
        c.unpersist()


def test_crawl_with_range_topk_identical(range_topk_ckpt_crawl,
                                         oracle_result):
    """Forcing the range-partitioned top-k through the whole crawl loop
    (topk_single_pass_limit=0) yields the exact oracle crawl — set AND
    sortorder. The crawl (shared with the checkpoint reaping test) runs
    with a checkpoint dir set, so range_topk checkpoints every wave."""
    want = {r["url_canon"]: r["sortorder"]
            for r in oracle_result["crawled"]}
    assert range_topk_ckpt_crawl["sortorder"] == want


def test_dedup_exact_has_partial_aggregation(spark):
    from transmogrify_webcrawler_spark.operators.textops import dedup_exact

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(dedup_exact(docs))
    # partial agg before the exchange (map-side combine), final after
    pre_exchange = plan.split("Exchange")[0]
    assert "HashAggregate" in pre_exchange
    # the shuffle key is the md5 digest, never the document text
    exchange_line = [ln for ln in plan.splitlines()
                     if "hashpartitioning" in ln][0]
    assert "fingerprint" in exchange_line and "text" not in exchange_line


def test_fetch_join_guard_switches_broadcast_to_shuffle(spark):
    """The semi-join fetch's broadcast hint is governed by the
    selected_broadcast_rows guard: under it the corpus joins the wave's
    keys via BroadcastHashJoin (corpus never shuffles per wave); a budget
    ABOVE the guard (the 10^7-URL-wave path) must DROP the hint so the
    honest shuffle plan survives — with auto-broadcast disabled (mimicking
    a key set too big for Spark's own threshold) the plan must contain a
    SortMergeJoin and no broadcast of the selected keys."""
    from transmogrify_webcrawler_spark.plans.crawl import fetch_join_plan

    pages = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet") \
        .selectExpr("cast(l_orderkey as string) as url_canon",
                    "l_returnflag as html")
    selected = spark.createDataFrame(
        [(str(k), 0.0) for k in range(50)], ["url_canon", "priority"])
    sel = selected.withColumnRenamed("priority", "allowed_p")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        under = _plan(fetch_join_plan(sel, selected, pages, budget=50,
                                      selected_broadcast_rows=1000))
        over = _plan(fetch_join_plan(sel, selected, pages, budget=50,
                                     selected_broadcast_rows=10))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" in under
    assert "BroadcastHashJoin" not in over
    assert "SortMergeJoin" in over


def test_crawl_through_fetch_fallback_identical(spark, pages_df, corpus,
                                                oracle_result, tmp_path):
    """Full crawl forced through the above-guard fetch path
    (selected_broadcast_rows=0, every wave exceeds it) yields the exact
    oracle crawl — the guard changes the physical join strategy only."""
    from transmogrify_webcrawler_spark.plans.crawl import (
        SparkCrawlConfig, SparkCrawler,
    )

    ocfg = oracle_result["cfg"]
    cfg = SparkCrawlConfig(
        wave_size=ocfg.wave_size, per_domain_budget=ocfg.per_domain_budget,
        maxsize=ocfg.maxsize, ignore=ocfg.ignore, use_bloom=False,
        n_salts=4, selected_broadcast_rows=0,
    )
    crawler = SparkCrawler(spark, str(tmp_path / "store"), cfg)
    final = crawler.run(pages_df, corpus["seeds"])
    got = {r["url_canon"]: r["sortorder"] for r in final.collect()}
    want = {r["url_canon"]: r["sortorder"]
            for r in oracle_result["crawled"]}
    assert got == want


def test_robots_dim_is_broadcast(spark):
    from transmogrify_webcrawler_spark import harness

    df = harness.q_fetch_join(spark, "/root/testdata/sf0.001")
    assert "BroadcastHashJoin" in _plan(df)


def test_pagerank_plan_no_cartesian_and_reuses_cached_edges(spark):
    """The iterative joins must stay equi-joins (no cartesian blowup) and
    every iteration must read the edge table from cache, not re-derive it
    from the source — the shape that makes the fat side shuffle once."""
    from transmogrify_webcrawler_spark.operators.graph import pagerank_fixed

    e = spark.createDataFrame(
        [(i, (i * 7 + 3) % 40) for i in range(150)], "src long, dst long")
    plan = _plan(pagerank_fixed(e, iterations=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan  # iterations hit the cached edges


def test_cc_plan_no_cartesian_and_reuses_cached_closure(spark):
    from transmogrify_webcrawler_spark.operators.graph import (
        connected_components,
    )

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "src long, dst long")
    plan = _plan(connected_components(e, iterations=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan


def test_tfidf_topk_uses_window_group_limit(spark):
    """The per-doc top-k must be a rank-pushdown (WindowGroupLimit), never a
    full per-partition sort + filter of the whole scored table."""
    from transmogrify_webcrawler_spark.operators.textops import tfidf_topk
    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 11} common") for i in range(100)],
        "doc_id long, text string")
    plan = tfidf_topk(docs)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_cdx_index_has_no_global_single_partition_stage(spark):
    """The global capture index is a two-phase prefix sum — a plan that
    funnels all rows through Exchange SinglePartition (the global
    row_number shape) is a scale regression."""
    from transmogrify_webcrawler_spark.operators.cdx import cdx_index
    df = spark.createDataFrame(
        [(f"http://h{i % 9}.example.com/p{i}",) for i in range(300)],
        "url string").repartition(6)
    plan = cdx_index(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


def test_bloom_fragment_build_sized_by_data_not_shard_count(spark):
    """Each Python task has a fixed cost, so the fragment build must let
    AQE size its stage from the data: a by-column shuffle on the shard id
    (never a fixed n_shards-way repartition) and a sort on the shard id
    feeding the streaming MapInPandas build."""
    from transmogrify_webcrawler_spark.operators.dedup import (
        build_bloom_fragments)
    urls = spark.createDataFrame(
        [(f"http://a.com/p/{i}",) for i in range(50)], "url_canon string")
    plan = (build_bloom_fragments(urls, n_shards=32, nbytes=128)
            ._jdf.queryExecution().executedPlan().toString())
    assert re.search(
        r"Exchange hashpartitioning\(_sid#\d+, \d+\), REPARTITION_BY_COL",
        plan)
    assert "REPARTITION_BY_NUM" not in plan
    lines = plan.splitlines()
    at = next(i for i, ln in enumerate(lines) if "MapInPandas" in ln)
    assert re.search(r"Sort \[_sid#\d+ ASC", lines[at + 1])

"""Session-5 operators: exact distributed quantiles, recrawl snapshot
delta, Unicode text normalization."""

import duckdb
from pyspark.sql import functions as F


def test_exact_quantiles_match_percentile_disc(spark):
    """The two-phase histogram quantile equals SQL PERCENTILE_DISC for an
    awkward multiset (ties, gaps, skew) at several q."""
    from transmogrify_webcrawler_spark.operators.quantiles import (
        exact_quantiles)

    values = ([5] * 10 + [7] * 3 + [100] * 20 + [101] + [9999] * 5
              + list(range(200, 260)))
    df = spark.createDataFrame([(v,) for v in values], "x long")
    q_bps = [1, 2500, 5000, 7500, 9000, 9900, 10000]
    got = {r["q_bp"]: (r["value"], r["n_rows"])
           for r in exact_quantiles(df, "x", q_bps, block=16).collect()}
    con = duckdb.connect()
    for q in q_bps:
        (want,) = con.execute(
            "SELECT percentile_disc(?) WITHIN GROUP (ORDER BY x) "
            "FROM (SELECT unnest(?) AS x)", [q / 10000, values]).fetchone()
        assert got[q] == (want, len(values)), (q, got[q], want)


def test_exact_quantiles_no_global_single_partition(spark):
    """The prefix sum must stay block-partitioned — a plan that funnels the
    histogram through Exchange SinglePartition is the global-window
    regression this operator exists to avoid."""
    from transmogrify_webcrawler_spark.operators.quantiles import (
        exact_quantiles)

    df = spark.range(0, 5000).select(
        (F.col("id") % 97).alias("x"))
    plan = (exact_quantiles(df, "x", [5000], block=16)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange SinglePartition" not in plan


def test_grouped_quantiles_match_per_group_percentile_disc(spark):
    import duckdb

    rng_vals = {"a": [5] * 10 + list(range(100, 140)) + [9999],
                "b": [1, 1, 2, 3, 1000], "c": [42]}
    rows = [(g, v) for g, vs in rng_vals.items() for v in vs]

    from transmogrify_webcrawler_spark.operators.quantiles import (
        grouped_quantiles)

    df = spark.createDataFrame(rows, "src string, x long")
    q_bps = [1, 5000, 9000, 10000]
    got = {(r["src"], r["q_bp"]): (r["value"], r["n_rows"])
           for r in grouped_quantiles(df, "src", "x", q_bps,
                                      block=16).collect()}
    con = duckdb.connect()
    for g, vs in rng_vals.items():
        for q in q_bps:
            (want,) = con.execute(
                "SELECT percentile_disc(?) WITHIN GROUP (ORDER BY x)"
                " FROM (SELECT unnest(?) AS x)",
                [q / 10000, vs]).fetchone()
            assert got[(g, q)] == (want, len(vs)), (g, q)


def test_revisit_records_point_at_original(spark):
    from transmogrify_webcrawler_spark.operators.cdx import revisit_records

    caps = spark.createDataFrame(
        [("u1", 1, "d1"), ("u2", 5, "d1"), ("u3", 3, "d1"),
         ("u4", 9, "d2")],
        "url string, ts long, digest string")
    got = {r["url"]: (r["record_type"], r["orig_url"], r["orig_ts"])
           for r in revisit_records(caps).collect()}
    assert got["u1"] == ("response", None, None)    # earliest capture
    assert got["u3"] == ("revisit", "u1", 1)        # ts order, not input
    assert got["u2"] == ("revisit", "u1", 1)
    assert got["u4"] == ("response", None, None)    # unique digest


def test_cdxj_line_format(spark):
    from transmogrify_webcrawler_spark.operators.cdx import cdxj_lines

    caps = spark.createDataFrame(
        [("https://WWW.Sub.Example.COM:8080/a/b?x=1#frag", 20260818,
          "sha1:ABC", 1234)],
        "url string, ts long, digest string, length long")
    (r,) = cdxj_lines(caps).collect()
    assert r["surt"] == "com,example,sub)/a/b?x=1"
    assert r["line"] == (
        'com,example,sub)/a/b?x=1 20260818 '
        '{"url": "https://WWW.Sub.Example.COM:8080/a/b?x=1#frag", '
        '"digest": "sha1:ABC", "length": 1234}')
    import json
    assert json.loads(r["line"].split(" ", 2)[2])["length"] == 1234


def test_snapshot_delta_statuses(spark):
    from transmogrify_webcrawler_spark.operators.delta import (
        delta_summary, snapshot_delta)

    old = spark.createDataFrame(
        [("a", "h1"), ("b", "h2"), ("c", "h3")], "url string, digest string")
    new = spark.createDataFrame(
        [("a", "h1"), ("b", "h2x"), ("d", "h4")], "url string, digest string")
    got = {r["url"]: r["status"]
           for r in snapshot_delta(old, new).collect()}
    assert got == {"a": "unchanged", "b": "changed", "c": "gone",
                   "d": "added"}
    counts = {r["status"]: r["n"]
              for r in delta_summary(snapshot_delta(old, new)).collect()}
    assert counts == {"unchanged": 1, "changed": 1, "gone": 1, "added": 1}


def test_bpe_merges_known_sequence(spark):
    """The Sennrich toy corpus: low x3, lower x2, newest x1 — the first
    merges are (l,o) [lexicographic tie with (o,w) at weight 5], then
    (lo,w), then (e,r) [tie with (low,e) at 2], then (low,er)."""
    from transmogrify_webcrawler_spark.operators.bpe import bpe_merges

    df = spark.createDataFrame(
        [("low low low lower lower newest",)], "text string")
    got = [(r["round"], r["left"], r["right"], r["merged"], r["weight"])
           for r in bpe_merges(df, k=4).orderBy("round").collect()]
    assert got == [
        (1, "l", "o", "lo", 5),
        (2, "lo", "w", "low", 5),
        (3, "e", "r", "er", 2),
        (4, "low", "er", "lower", 2),
    ]


def test_bpe_encode_applies_merges_in_order(spark):
    from transmogrify_webcrawler_spark.operators.bpe import bpe_encode

    df = spark.createDataFrame([(1, "the the cat")],
                               "doc_id long, text string")
    (r,) = bpe_encode(df, [("t", "h"), ("th", "e")]).collect()
    # 'the' x2 collapses to ONE symbol each via (t,h) then (th,e);
    # 'cat' stays 3 chars -> 2*1 + 3 = 5 tokens over 3 words
    assert (r["n_words"], r["n_tokens"]) == (3, 5)


def test_cms_never_undercounts_and_stays_bounded(spark):
    """One-sided CMS guarantee (est >= exact for EVERY key) on a skewed
    multiset, and the counter table stays <= d*w rows regardless of key
    cardinality."""
    from transmogrify_webcrawler_spark.operators.sketches import (
        CMS_D, CMS_W, cms_counters, cms_estimate)

    words = (["hot"] * 50 + ["warm"] * 10
             + [f"cold{i}" for i in range(300)])
    df = spark.createDataFrame([(w,) for w in words], "k string")
    counters = cms_counters(df, "k")
    assert counters.count() <= CMS_D * CMS_W
    exact = {w: words.count(w) for w in set(words)}
    est = {r["k"]: r["cms_est"]
           for r in cms_estimate(counters, df, "k").collect()}
    assert set(est) == set(exact)
    for w, c in exact.items():
        assert est[w] >= c, (w, est[w], c)
    # the dominant key collides with at most the residual mass
    assert est["hot"] < 50 + 310


def test_chunk_documents_geometry(spark):
    """300 tokens at context 128 / stride 96 -> 4 windows with the last
    two truncated; an empty doc still yields one (0,0) chunk row."""
    from transmogrify_webcrawler_spark.operators.chunking import (
        chunk_documents)

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(300))), (2, "")],
        "doc_id long, text string")
    rows = sorted((r["doc_id"], r["chunk_id"], r["tok_start"],
                   r["tok_end"], r["n_chunk_tokens"])
                  for r in chunk_documents(df, 128, 96).collect())
    assert rows == [
        (1, 0, 0, 128, 128), (1, 1, 96, 224, 128),
        (1, 2, 192, 300, 108), (1, 3, 288, 300, 12),
        (2, 0, 0, 0, 0),
    ]


def test_reciprocal_links_counts(spark):
    from transmogrify_webcrawler_spark.operators.graph import (
        reciprocal_links)

    # the repeated (1, 2) and (2, 1) rows must not count twice: the counts
    # rely on _edges_long's distinct()
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (3, 4), (4, 3), (3, 5), (1, 2), (2, 1)],
        "src long, dst long")
    got = {r["node"]: (r["n_out"], r["n_reciprocal"], r["reciprocal_pct"])
           for r in reciprocal_links(edges).collect()}
    assert got == {1: (2, 1, 50), 2: (1, 1, 100), 3: (2, 1, 50),
                   4: (1, 1, 100)}


def test_inverted_postings_cuts_and_order(spark):
    from transmogrify_webcrawler_spark.operators.textops import (
        inverted_postings)

    df = spark.createDataFrame(
        [(10, "alpha beta"), (2, "alpha beta"), (3, "alpha gamma"),
         (4, "alpha delta")],
        "doc_id long, text string")
    got = {r["term"]: (r["df"], r["postings"])
           for r in inverted_postings(df, min_df=2, max_df=3).collect()}
    # alpha (df=4) dies to the stopword cut, gamma/delta (df=1) to min_df;
    # beta's postings sort NUMERICALLY (2 before 10)
    assert got == {"beta": (2, "2,10")}


def test_reciprocal_links_plan_no_cartesian(spark):
    """The reversed-key self-join must plan as an equi-join, never a
    cartesian/BNL product — and as of r6 the reverse-edge flag rides a
    LeftOuter equi-join into ONE rollup (count + count(flag) together)
    instead of a semi-join feeding a second groupBy + join-back."""
    from transmogrify_webcrawler_spark.operators.graph import (
        reciprocal_links)

    edges = spark.range(0, 1000).selectExpr("id AS src",
                                            "(id * 7) % 997 AS dst")
    plan = (reciprocal_links(edges)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftOuter" in plan
    # exactly ONE join in the whole plan (the reverse-edge flag): the old
    # shape had a second join stitching the two aggregates back together
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    assert n_joins == 1, plan


def test_image_features_decodes_real_pixels(spark):
    """Known 2x2 gray PNG -> exact sum/mean/histogram; junk bytes ->
    ok=false with null features."""
    from transmogrify_webcrawler_spark.operators.multimodal import (
        image_features)
    from transmogrify_webcrawler_spark.operators.png import encode_png

    png = encode_png(2, 2, 0, [bytearray([0, 64]), bytearray([128, 255])])
    df = spark.createDataFrame([(1, bytearray(png)), (2, b"not a png")],
                               "media_id long, payload binary")
    got = {r["media_id"]: r for r in image_features(df).collect()}
    r = got[1]
    assert (r["ok"], r["width"], r["height"], r["n_channels"]) == \
        (True, 2, 2, 1)
    assert (r["px_sum"], r["px_mean"]) == (447, 111)
    assert (r["h0"], r["h1"], r["h2"], r["h3"]) == (1, 1, 1, 1)
    assert got[2]["ok"] is False and got[2]["px_sum"] is None


def test_audio_features_decodes_real_pcm(spark):
    """Hand-built 8-bit mono WAV -> exact sample stats; junk -> ok=false."""
    from transmogrify_webcrawler_spark.operators.multimodal import (
        audio_features)

    data = bytes([10, 200, 30, 100])
    wav = (b"RIFF" + (36 + len(data)).to_bytes(4, "little") + b"WAVE"
           + b"fmt " + (16).to_bytes(4, "little")
           + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
           + (8000).to_bytes(4, "little") + (8000).to_bytes(4, "little")
           + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
           + b"data" + len(data).to_bytes(4, "little") + data)
    df = spark.createDataFrame([(1, bytearray(wav)), (2, b"nope")],
                               "media_id long, payload binary")
    got = {r["media_id"]: r for r in audio_features(df).collect()}
    r = got[1]
    assert (r["ok"], r["sample_rate"], r["n_samples"]) == (True, 8000, 4)
    assert (r["byte_sum"], r["byte_mean"]) == (340, 85)
    assert (r["byte_min"], r["byte_max"]) == (10, 200)
    assert got[2]["ok"] is False and got[2]["byte_sum"] is None


def test_resolve_redirects_chains_and_cycles(spark):
    """3-chain resolves with the right hop counts; a 2-cycle is flagged
    unresolved; untouched nodes map to themselves at 0 hops."""
    from transmogrify_webcrawler_spark.operators.graph import (
        resolve_redirects)

    redirects = spark.createDataFrame(
        [(3, 2), (2, 1), (1, 0), (8, 9), (9, 8)], "src long, dst long")
    nodes = spark.createDataFrame(
        [(i,) for i in (0, 1, 2, 3, 5, 8, 9)], "node long")
    got = {r["node"]: (r["final"], r["n_hops"], r["resolved"])
           for r in resolve_redirects(redirects, nodes, hops=4).collect()}
    assert got[0] == (0, 0, True)
    assert got[1] == (0, 1, True)
    assert got[2] == (0, 2, True)
    assert got[3] == (0, 3, True)
    assert got[5] == (5, 0, True)
    assert got[8][2] is False and got[9][2] is False  # the 2-cycle


def test_strip_tracking_cases(spark):
    from transmogrify_webcrawler_spark.operators.cdx import strip_tracking

    urls = [
        ("http://a/p?utm_source=x&id=1", "http://a/p?id=1"),
        ("http://a/p?id=1&utm_campaign=c", "http://a/p?id=1"),
        ("http://a/p?gclid=g", "http://a/p"),
        ("http://a/p?x=1&fbclid=f&y=2#frag", "http://a/p?x=1&y=2#frag"),
        ("http://a/p?utm_a=1&utm_b=2#f", "http://a/p#f"),
        ("http://a/p?id=1", "http://a/p?id=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in urls], "url string")
    got = {r["url"]: (r["url_clean"], r["changed"])
           for r in strip_tracking(df).collect()}
    for u, want in urls:
        assert got[u] == (want, want != u), (u, got[u], want)


def test_canonical_by_quality_argmax_and_singletons(spark):
    """Cluster {1,2,3}: highest quality wins (doc 2); tie-break to the
    smaller id in cluster {10,11}; unpaired doc 5 keeps itself."""
    from transmogrify_webcrawler_spark.operators.graph import (
        canonical_by_quality)

    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 7), (5, 4), (10, 6), (11, 6)],
        "doc_id long, quality long")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)],
                                  "src long, dst long")
    got = {r["doc_id"]: (r["cluster"], r["keep"])
           for r in canonical_by_quality(docs, pairs).collect()}
    assert got == {1: (1, False), 2: (1, True), 3: (1, False),
                   5: (5, True), 10: (10, True), 11: (10, False)}


def test_rebalance_plan_rates_and_deficit(spark):
    """100 docs (80 en / 20 de), target 50/30 pct + absent 'ja': en
    downsamples to 6250bp, de needs 30 > has 20 -> rate caps at 100% with
    deficit 10, ja rows appear with zero supply."""
    from transmogrify_webcrawler_spark.operators.sampling import (
        rebalance_plan)

    df = spark.createDataFrame([("en",)] * 80 + [("de",)] * 20,
                               "lang string")
    got = {r["stratum"]: (r["n_docs"], r["needed"], r["rate_bp"],
                          r["deficit"])
           for r in rebalance_plan(
               df, {"en": 5000, "de": 3000, "ja": 500}).collect()}
    assert got["en"] == (80, 50, 6250, 0)
    assert got["de"] == (20, 30, 10000, 10)
    assert got["ja"] == (0, 5, 0, 5)


def test_session5_plan_shapes(spark):
    """Plan assertions for the session-5 Catalyst ops: chunking is a pure
    map stage (zero shuffles), bpe_encode shuffles exactly once (the
    per-doc count), CMS counters partial-aggregate map-side, and
    normalize_text crosses to Python exactly once."""
    from pyspark.sql import functions as F
    from transmogrify_webcrawler_spark.operators.bpe import bpe_encode
    from transmogrify_webcrawler_spark.operators.chunking import (
        chunk_documents)
    from transmogrify_webcrawler_spark.operators.sketches import (
        cms_counters)
    from transmogrify_webcrawler_spark.operators.textops import (
        normalize_text)

    # createDataFrame (unknown partitioning), NOT spark.range: a range
    # input already clusters doc_id per partition, so the groupBy plans
    # WITHOUT the exchange the assertion is about
    docs = spark.createDataFrame(
        [(i, f"w {i}") for i in range(500)], "doc_id long, text string")

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    p = plan(chunk_documents(docs, 128, 96))
    assert "Exchange" not in p                      # pure map stage

    p = plan(bpe_encode(docs, [("a", "b")]))
    assert p.count("Exchange hashpartitioning") == 1  # one skinny shuffle

    p = plan(cms_counters(docs.select(F.col("text").alias("k")), "k"))
    assert "partial_count" in p                     # map-side combine

    p = plan(normalize_text(docs))
    assert p.count("ArrowEvalPython") == 1          # one UDF crossing
    assert "BatchEvalPython" not in p               # never row-at-a-time


def test_normalize_text_semantics(spark):
    """NFC composes combining marks, controls are stripped, whitespace
    collapses — and the result is a fixed point (idempotence)."""
    from transmogrify_webcrawler_spark.operators.textops import (
        normalize_text)

    messy = "Café\x07  x\t y Å"
    df = spark.createDataFrame([(1, messy), (2, "plain text")],
                               "doc_id long, text string")
    rows = {r["doc_id"]: r for r in normalize_text(df).collect()}
    assert rows[1]["norm_text"] == "Café x y Å"
    assert rows[1]["changed"] is True
    assert rows[2]["norm_text"] == "plain text"
    assert rows[2]["changed"] is False

    again = spark.createDataFrame(
        [(1, rows[1]["norm_text"])], "doc_id long, text string")
    (r2,) = normalize_text(again).collect()
    assert r2["norm_text"] == rows[1]["norm_text"]
    assert r2["changed"] is False

"""Link-graph operators over an edge list (src, dst) — PageRank and
connected components.

Why they belong in a crawler's engine: the frontier already scores URLs by
raw in-link count (operators/frontier.py inlink_score, SURVEY §2 A2);
PageRank is that signal's principled big sibling (crawl prioritization,
training-data quality weighting a la CommonCrawl-derived corpora), and
connected components is the missing last step of every near-dup family in
operators/textops.py and similarity.py — LSH/SimHash/embedding dedup emit
candidate PAIRS, but retention policy ("keep one doc per duplicate
CLUSTER") needs the transitive closure of those pairs.

Determinism contract (what makes these oracle-checkable bit-exactly):

- PageRank here is FIXED-POINT: ranks are BIGINTs scaled by 10^12, every
  non-exact step is integer floor-division (Spark `DIV`, DuckDB `//`, both
  exact on positive longs), and BIGINT sums are associative — so shuffle
  order, partitioning, and engine cannot change a single bit of the result.
  A float PageRank differs across runs in the last ulps because FP addition
  is not associative; at 1000 executors that's a real reproducibility bug
  for any pipeline that hashes its outputs (this repo's correctness gate
  literally does). Dangling-node mass is dropped (documented simplification;
  ranks then sum to < SCALE, which is fine for ranking/weighting use).
- Connected components is k-iteration min-label propagation: after k rounds
  each node's label is the minimum node-id within its k-hop neighborhood,
  which equals the component minimum whenever k >= the component diameter.
  The semantics are defined BY the iteration count, so the DuckDB oracle
  (same k unrolled as CTEs) matches exactly even on graphs with larger
  diameter.

Scale notes (100 TB / 10^10-node graphs):
- Each PageRank iteration is one shuffle of the skinny (node, rank) table
  into the edge partitioning — edges and out-degrees are computed once,
  persisted, and reused across iterations; only 16-byte rank rows move.
  On a real cluster, pre-bucket edges by src so the per-iteration join is
  shuffle-free on the fat side.
- Min-label propagation does O(diameter) rounds; web graphs have small
  effective diameter (~6-20), so it is the pragmatic choice. For adversarial
  long-chain graphs, switch to the large-star/small-star contraction of
  Kiveris et al. (O(log n) rounds) — same join shapes, more rounds fused.
  Lineage across rounds is truncated via localCheckpoint to keep plans flat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PAGERANK_SCALE = 10**12


def _edges_long(edges: DataFrame, src: str, dst: str) -> DataFrame:
    return edges.select(
        F.col(src).cast("long").alias("src"),
        F.col(dst).cast("long").alias("dst"),
    ).distinct()


def pagerank_fixed(edges: DataFrame, iterations: int = 3,
                   damping_pct: int = 85,
                   src: str = "src", dst: str = "dst",
                   n_nodes: int | None = None) -> DataFrame:
    """Fixed-point PageRank over a directed edge list; multi-edges collapse
    to simple edges. Returns (node BIGINT, rank_fp DOUBLE) with
    rank ~= rank_fp / 10^12; rank_fp is an integer computed in BIGINT and
    emitted as DOUBLE (exact, < 2^53).

    Update rule, all-integer (`DIV` = floor division on positive longs):
        r0(v)      = SCALE DIV N
        teleport   = ((100 - damping_pct) * (SCALE DIV N)) DIV 100
        r_{i+1}(v) = teleport + (damping_pct * SUM_{(u,v) in E} (r_i(u) DIV outdeg(u))) DIV 100

    `n_nodes` skips the driver-side count when the caller already knows it
    (same convention as similarity.lsh_knn's n_queries).
    """
    # cache edges partitioned AND sorted on the per-iteration join key: the
    # fat table shuffles/sorts once, every iteration's sort-merge join reuses
    # the cached layout and only skinny (node, rank) rows move per round
    e = (_edges_long(edges, src, dst)
         .repartition("src").sortWithinPartitions("src").persist())
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct().persist())
    n = n_nodes if n_nodes is not None else nodes.count()
    init = PAGERANK_SCALE // n
    teleport = ((100 - damping_pct) * init) // 100

    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg")).persist()
    ranks = nodes.select("node", F.lit(init).cast("long").alias("rank_fp"))
    for _ in range(iterations):
        # skinny x skinny first (per-source contribution weight), so the fat
        # edge table is joined exactly once per iteration
        # explicit aliases: ranks/outdeg/e all share lineage (nodes and
        # outdeg derive from e), so unqualified refs are ambiguous self-joins
        weights = (
            ranks.alias("r")
            .join(outdeg.alias("d"), F.col("r.node") == F.col("d.src"))
            .select(F.col("d.src").alias("wsrc"),
                    F.expr("rank_fp DIV outdeg").alias("w"))
        )
        contrib = (
            e.alias("e")
            .join(weights.alias("wt"), F.col("e.src") == F.col("wt.wsrc"))
            .select(F.col("e.dst").alias("node"), F.col("wt.w").alias("w"))
            .groupBy("node")
            .agg(F.sum("w").alias("s"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (F.lit(teleport) + F.expr(
                    f"({damping_pct} * coalesce(s, 0L)) DIV 100"
                )).cast("long").alias("rank_fp"),
            )
        )
    # all iteration arithmetic is exact BIGINT; the RESULT is emitted as
    # DOUBLE because the DuckDB oracle's contribution sums are HUGEINT and
    # land in pandas as float64 — the driver's value hash compares
    # materialized values (same fix family as repetition_stats; rank_fp
    # <= 10^12 << 2^53, so the double is exact)
    return ranks.select("node", F.col("rank_fp").cast("double")
                        .alias("rank_fp"))


def pagerank_sql(edges_sql: str, iterations: int = 3,
                 damping_pct: int = 85) -> str:
    """DuckDB oracle for pagerank_fixed: the same integer recurrence with
    each iteration unrolled as a CTE. `edges_sql` must yield (src, dst)."""
    # AS MATERIALIZED: each unrolled CTE is referenced by every later one;
    # without it DuckDB may inline, re-expanding the chain combinatorially.
    parts = [
        "WITH edges AS MATERIALIZED"
        f" (SELECT DISTINCT src, dst FROM ({edges_sql})),",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges),",
        "p AS MATERIALIZED (SELECT 1000000000000 // count(*) AS init,"
        f" ((100 - {damping_pct}) * (1000000000000 // count(*))) // 100"
        " AS teleport FROM nodes),",
        "outdeg AS MATERIALIZED"
        " (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),",
        "r0 AS MATERIALIZED"
        " (SELECT node, (SELECT init FROM p) AS rank_fp FROM nodes),",
    ]
    for i in range(iterations):
        parts.append(
            f"r{i + 1} AS MATERIALIZED"
            " (SELECT n.node, (SELECT teleport FROM p)"
            f" + ({damping_pct} * coalesce(c.s, 0)) // 100 AS rank_fp"
            " FROM nodes n LEFT JOIN ("
            "SELECT e.dst AS node, sum(r.rank_fp // o.outdeg) AS s"
            f" FROM edges e JOIN r{i} r ON e.src = r.node"
            " JOIN outdeg o ON e.src = o.src GROUP BY e.dst"
            ") c ON n.node = c.node),"
        )
    parts.append(
        f"SELECT node, rank_fp FROM r{iterations}"
    )
    sql = "\n".join(parts)
    # strip the trailing comma of the last CTE before the final SELECT
    return sql.replace("),\nSELECT", ")\nSELECT")


def cc_labels(edges: DataFrame, iterations: int = 6,
              src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node labels from k-iteration min-label propagation over the
    undirected closure: (node BIGINT, label BIGINT) where label is the min
    node-id within the node's k-hop neighborhood (= the component min when
    k >= diameter). The label IS the cluster's canonical member, which is
    what retention policies join against.
    """
    e = _edges_long(edges, src, dst)
    # partition+sort the undirected closure on v (the per-round join key) so
    # only the skinny labels table shuffles each round
    und = (e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
           .unionByName(e.select(F.col("dst").alias("u"),
                                 F.col("src").alias("v")))
           .distinct()
           .repartition("v").sortWithinPartitions("v").persist())
    labels = (und.select(F.col("u").alias("node")).distinct()
              .withColumn("label", F.col("node")).persist())
    for i in range(iterations):
        neigh_min = (
            und.join(labels, und["v"] == labels["node"])
            .groupBy("u").agg(F.min("label").alias("ml"))
        )
        labels = (
            labels.join(neigh_min, labels["node"] == neigh_min["u"], "left")
            .select("node",
                    F.least("label", F.coalesce("ml", "label")).alias("label"))
        )
        # flatten lineage EVERY round: labels is referenced twice per round
        # (the neighbor join and the carry-through), so the plan doubles
        # between checkpoints — every-3 cadence measured 6.3 s vs 2.9-3.3 s
        # for every-round at sf0.1 dup_clusters (values unchanged). The
        # LAST round stays un-checkpointed: its two inputs are already
        # flat, and the returned frame then still exposes the join over
        # the cached closure to callers (and plan tests) instead of an
        # opaque checkpoint scan.
        if i + 1 < iterations:
            labels = labels.localCheckpoint(eager=True)
    return labels


def connected_components(edges: DataFrame, iterations: int = 6,
                         src: str = "src", dst: str = "dst") -> DataFrame:
    """Component rollup of cc_labels: (component = the k-hop min label,
    n_nodes, min_node) — grouping the near-dup PAIR output of the LSH
    families into retention clusters. Deterministic for any k (see module
    docstring); equals true connected components when k >= diameter."""
    return (cc_labels(edges, iterations, src, dst)
            .groupBy(F.col("label").alias("component"))
            .agg(F.count("*").alias("n_nodes"),
                 F.min("node").alias("min_node")))


def cc_labels_sql(edges_sql: str, iterations: int = 6) -> str:
    """DuckDB oracle for cc_labels: the same k rounds unrolled, final select
    is the per-node (node, label) table."""
    cte = connected_components_sql(edges_sql, iterations)
    head, _, _ = cte.rpartition("\nSELECT")
    return head + f"\nSELECT node, label FROM l{iterations}"


def connected_components_sql(edges_sql: str, iterations: int = 6) -> str:
    """DuckDB oracle for connected_components: identical k rounds unrolled.
    `edges_sql` must yield (src, dst)."""
    # AS MATERIALIZED: l_i is referenced twice by l_{i+1}; inlining would
    # blow the plan up 2^iterations-fold.
    parts = [
        "WITH base AS MATERIALIZED"
        f" (SELECT DISTINCT src, dst FROM ({edges_sql})),",
        "und AS MATERIALIZED (SELECT src AS u, dst AS v FROM base"
        " UNION SELECT dst, src FROM base),",
        "l0 AS MATERIALIZED (SELECT u AS node, u AS label"
        " FROM (SELECT DISTINCT u FROM und)),",
    ]
    for i in range(iterations):
        parts.append(
            f"l{i + 1} AS MATERIALIZED (SELECT n.node,"
            " least(n.label, coalesce(m.ml, n.label)) AS label"
            f" FROM l{i} n LEFT JOIN ("
            f"SELECT und.u AS node, min(l.label) AS ml FROM und"
            f" JOIN l{i} l ON und.v = l.node GROUP BY und.u"
            ") m ON n.node = m.node),"
        )
    parts.append(
        f"SELECT label AS component, count(*) AS n_nodes,"
        f" min(node) AS min_node FROM l{iterations} GROUP BY label"
    )
    return "\n".join(parts).replace("),\nSELECT", ")\nSELECT")


# ---- HITS (hubs & authorities) ------------------------------------------------

HITS_SCALE = 10**6


def hits_fixed(edges: DataFrame, iterations: int = 2,
               src: str = "src", dst: str = "dst") -> DataFrame:
    """Fixed-point HITS (Kleinberg 1999) over a directed edge list —
    hub/authority scoring for crawl frontier prioritization (a page linked
    by good hubs is worth fetching early; a page linking to good
    authorities is worth re-parsing).

    Same determinism contract as pagerank_fixed: scores are BIGINTs scaled
    by 10^6, each iteration is
        auth(v) = SUM_{(u,v)} hub(u);   auth *= SCALE DIV max(auth)
        hub(u)  = SUM_{(u,v)} auth(v);  hub  *= SCALE DIV max(hub)
    with max-normalization instead of the usual L2 norm — a sqrt would
    leave integer arithmetic. BIGINT sums are associative and `DIV` exact,
    so any partitioning yields the identical result. Overflow headroom:
    scores <= 10^6 after normalization, so a node needs > 9*10^12 in-edges
    to overflow a BIGINT sum.

    Scale shape mirrors pagerank_fixed: edges are cached
    repartition+sorted once; per iteration only the skinny (node, score)
    table shuffles; the normalization max is a 1-row agg joined back via
    crossJoin(broadcast) — no driver round-trip.

    Returns (node BIGINT, hub_fp DOUBLE, auth_fp DOUBLE): integer scores
    computed in BIGINT and emitted as DOUBLE (exact, < 2^53)."""
    e = (_edges_long(edges, src, dst)
         .repartition("src").sortWithinPartitions("src").persist())
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct().persist())
    hub = nodes.select("node", F.lit(HITS_SCALE).cast("long").alias("s"))
    auth = None
    for _ in range(iterations):
        # localCheckpoint each round's raw sums: the normalization max
        # rides in a broadcast subtree that Spark evaluates INDEPENDENTLY
        # of the main plan, so the raw agg is consumed twice per round and
        # the chain otherwise re-expands 2^(2*iterations)-fold — the
        # logical plan itself grows exponentially (plan-string OOM at
        # sf0.1), which persist() alone cannot cut (measured 49.6 s vs
        # ~4 s). The checkpointed table is the round's computed BIGINT
        # sums, so results are unchanged.
        a_raw = (e.alias("e")
                 .join(hub.alias("h"), F.col("e.src") == F.col("h.node"))
                 .groupBy(F.col("e.dst").alias("node"))
                 .agg(F.sum("s").alias("raw"))
                 .localCheckpoint(eager=True))
        a_max = a_raw.agg(F.max("raw").alias("mx"))
        auth = (nodes.join(a_raw, "node", "left")
                .crossJoin(F.broadcast(a_max))
                .select("node", F.expr(
                    f"(coalesce(raw, 0L) * {HITS_SCALE}) DIV mx")
                    .cast("long").alias("s")))
        h_raw = (e.alias("e")
                 .join(auth.alias("a"), F.col("e.dst") == F.col("a.node"))
                 .groupBy(F.col("e.src").alias("node"))
                 .agg(F.sum("s").alias("raw"))
                 .localCheckpoint(eager=True))
        h_max = h_raw.agg(F.max("raw").alias("mx"))
        hub = (nodes.join(h_raw, "node", "left")
               .crossJoin(F.broadcast(h_max))
               .select("node", F.expr(
                   f"(coalesce(raw, 0L) * {HITS_SCALE}) DIV mx")
                   .cast("long").alias("s")))
    # emitted as DOUBLE for the same HUGEINT-oracle reason as
    # pagerank_fixed (scores <= 10^6, exact in float64)
    return (hub.alias("h")
            .join(auth.alias("a"), F.col("h.node") == F.col("a.node"))
            .select(F.col("h.node").alias("node"),
                    F.col("h.s").cast("double").alias("hub_fp"),
                    F.col("a.s").cast("double").alias("auth_fp")))


def hits_sql(edges_sql: str, iterations: int = 2) -> str:
    """DuckDB oracle for hits_fixed: the identical integer recurrence,
    iterations unrolled as MATERIALIZED CTEs (see pagerank_sql for why
    MATERIALIZED is load-bearing)."""
    S = HITS_SCALE
    parts = [
        "WITH edges AS MATERIALIZED"
        f" (SELECT DISTINCT src, dst FROM ({edges_sql})),",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges),",
        f"h0 AS MATERIALIZED (SELECT node, {S}::BIGINT AS s FROM nodes),",
    ]
    for i in range(iterations):
        parts.append(
            f"a{i + 1} AS MATERIALIZED (SELECT n.node,"
            f" (coalesce(r.raw, 0) * {S}) //"
            f" (SELECT max(raw) FROM (SELECT e.dst, sum(h.s) AS raw"
            f" FROM edges e JOIN h{i} h ON e.src = h.node GROUP BY e.dst))"
            " AS s FROM nodes n LEFT JOIN ("
            "SELECT e.dst AS node, sum(h.s) AS raw"
            f" FROM edges e JOIN h{i} h ON e.src = h.node GROUP BY e.dst"
            ") r ON n.node = r.node),"
        )
        parts.append(
            f"h{i + 1} AS MATERIALIZED (SELECT n.node,"
            f" (coalesce(r.raw, 0) * {S}) //"
            f" (SELECT max(raw) FROM (SELECT e.src, sum(a.s) AS raw"
            f" FROM edges e JOIN a{i + 1} a ON e.dst = a.node"
            " GROUP BY e.src))"
            " AS s FROM nodes n LEFT JOIN ("
            "SELECT e.src AS node, sum(a.s) AS raw"
            f" FROM edges e JOIN a{i + 1} a ON e.dst = a.node GROUP BY e.src"
            ") r ON n.node = r.node),"
        )
    parts.append(
        f"SELECT h.node, h.s AS hub_fp, a.s AS auth_fp"
        f" FROM h{iterations} h JOIN a{iterations} a ON h.node = a.node"
    )
    sql = "\n".join(parts)
    return sql.replace("),\nSELECT", ")\nSELECT")


# ---- reciprocal links (link-farm signal) --------------------------------------

def reciprocal_links(edges: DataFrame, src: str = "src",
                     dst: str = "dst") -> DataFrame:
    """Per-source reciprocity profile — the classic link-farm/spam signal
    (organic link graphs are overwhelmingly one-directional; farms trade
    links both ways). Returns (node, n_out, n_reciprocal, reciprocal_pct)
    per source node, with reciprocal_pct an exact integer percentage.

    Scale shape: ONE self-join of the deduped edge list on the reversed
    key (a LEFT SEMI, so nothing widens), then a map-side-combining
    groupBy(src). At cluster scale the edge table is bucketed by src and
    the reversed probe side repartitions once — no pair-space blowup, no
    window."""
    e = _edges_long(edges, src, dst)
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                   F.lit(1).alias("_rev"))
    # ONE rollup instead of two groupBys + a join-back: flag each edge with
    # whether its reverse exists (left join on the deduped reversed list —
    # at most one match per edge, so no widening), then count totals and
    # flagged edges together (guide §2.4; the old shape shuffled the edge
    # list twice and joined the two aggregates back on src)
    flagged = e.join(rev, ["src", "dst"], "left")
    agg = flagged.groupBy("src").agg(
        F.count("*").alias("n_out"),
        F.count("_rev").cast("long").alias("n_reciprocal"))
    return (agg.select(F.col("src").alias("node"), "n_out", "n_reciprocal")
            .withColumn("reciprocal_pct", F.expr(
                "(n_reciprocal * 100) DIV n_out").cast("long")))


def reciprocal_links_sql(edges_sql: str) -> str:
    """DuckDB oracle: identical semi-join + rollup."""
    return f"""
WITH e AS (SELECT DISTINCT src, dst FROM ({edges_sql})),
r AS (
  SELECT e.src, count(*) AS n_reciprocal
  FROM e WHERE EXISTS (SELECT 1 FROM e e2
                       WHERE e2.src = e.dst AND e2.dst = e.src)
  GROUP BY e.src
), o AS (
  SELECT src, count(*) AS n_out FROM e GROUP BY src
)
SELECT o.src AS node, o.n_out,
       CAST(coalesce(r.n_reciprocal, 0) AS BIGINT) AS n_reciprocal,
       (coalesce(r.n_reciprocal, 0) * 100) // o.n_out AS reciprocal_pct
FROM o LEFT JOIN r ON o.src = r.src
"""


# ---- redirect-chain resolution ------------------------------------------------

def resolve_redirects(redirects: DataFrame, nodes: DataFrame,
                      hops: int = 4, src: str = "src",
                      dst: str = "dst") -> DataFrame:
    """Follow HTTP-redirect chains to their final target — the resolution
    pass a crawler runs before frontier dedup so chained aliases
    (http -> https -> canonical host) collapse onto one fetch. Returns
    (node, final, n_hops, resolved): `final` after up to `hops` pointer
    jumps, `resolved` false when the chain is still moving at the horizon
    (longer chain OR a redirect cycle — both are trap signals upstream,
    cf. operators' trap_urls).

    POINTER DOUBLING, not linear walking: each round joins the mapping to
    itself (f = f∘f), so a chain of length L resolves in ceil(log2 L)
    rounds — `hops` is therefore 2^rounds, and the semantics are defined
    by the doubled-map fixpoint exactly as cc_labels' are by its round
    count. Each round shuffles only the skinny (node, final) table;
    lineage is cut per round like every iterative operator here.
    """
    e = _edges_long(redirects, src, dst)
    n = nodes.select(F.col(nodes.columns[0]).cast("long").alias("node")) \
             .distinct()
    # f0: one hop if a redirect exists, else self
    f = (n.join(e, n["node"] == e["src"], "left")
         .select("node", F.coalesce("dst", "node").alias("final"),
                 F.when(F.col("dst").isNotNull(), 1).otherwise(0)
                 .cast("long").alias("n_hops"))
         .localCheckpoint(eager=True))
    rounds = max(1, (int(hops) - 1).bit_length())  # 2^rounds >= hops
    for _ in range(rounds):
        g = f.select(F.col("node").alias("g_node"),
                     F.col("final").alias("g_final"),
                     F.col("n_hops").alias("g_hops"))
        f = (f.alias("a")
             .join(g.alias("b"), F.col("a.final") == F.col("b.g_node"))
             .select(F.col("a.node").alias("node"),
                     F.col("b.g_final").alias("final"),
                     (F.col("a.n_hops") + F.col("b.g_hops"))
                     .cast("long").alias("n_hops"))
             .localCheckpoint(eager=True))
    # unresolved: the final node still has an outgoing redirect (cycle or
    # chain longer than the horizon)
    still = e.select(F.col("src").alias("final"),
                     F.lit(False).alias("resolved"))
    return (f.join(still.distinct(), "final", "left")
            .select("node", "final", "n_hops",
                    F.coalesce("resolved", F.lit(True)).alias("resolved")))


def resolve_redirects_sql(redirects_sql: str, nodes_sql: str,
                          hops: int = 4) -> str:
    """DuckDB oracle: the same pointer-doubling recurrence unrolled as
    MATERIALIZED CTEs."""
    rounds = max(1, (int(hops) - 1).bit_length())
    parts = [
        "WITH e AS MATERIALIZED"
        f" (SELECT DISTINCT src, dst FROM ({redirects_sql})),",
        "n AS MATERIALIZED"
        f" (SELECT DISTINCT node FROM ({nodes_sql})),",
        "f0 AS MATERIALIZED (SELECT n.node,"
        " coalesce(e.dst, n.node) AS final,"
        " CASE WHEN e.dst IS NULL THEN 0 ELSE 1 END AS n_hops"
        " FROM n LEFT JOIN e ON n.node = e.src),",
    ]
    for i in range(rounds):
        parts.append(
            f"f{i + 1} AS MATERIALIZED (SELECT a.node, b.final,"
            " a.n_hops + b.n_hops AS n_hops"
            f" FROM f{i} a JOIN f{i} b ON a.final = b.node),"
        )
    parts.append(
        f"SELECT f.node, f.final, CAST(f.n_hops AS BIGINT) AS n_hops,"
        " NOT EXISTS (SELECT 1 FROM e WHERE e.src = f.final) AS resolved"
        f" FROM f{rounds} f"
    )
    return "\n".join(parts).replace("),\nSELECT", ")\nSELECT")


# ---- quality-aware canonical selection ----------------------------------------

def canonical_by_quality(docs: DataFrame, pairs: DataFrame,
                         iterations: int = 6, id_col: str = "doc_id",
                         quality_col: str = "quality",
                         src: str = "src", dst: str = "dst") -> DataFrame:
    """Retention with a QUALITY argmax instead of min-id: for every
    duplicate cluster (connected components over the near-dup pair graph),
    keep the member with the highest quality metric, ties to the smallest
    id — what production pipelines actually do ("keep the most complete /
    highest-scoring copy"), vs dedup_retention's canonical-min-id policy.

    quality must be an integer metric (token count, length, a scaled
    score) so the argmax is exact. Scale shape: cc_labels' skinny rounds,
    then ONE groupBy(cluster) argmax via struct max (map-side combining)
    and a broadcast-size winners join-back — the docs table is scanned
    once and never reshuffled by text.

    Returns (doc_id, cluster, quality, keep) for every input doc; docs in
    no pair form their own singleton cluster and keep=true."""
    labels = cc_labels(pairs, iterations, src, dst)
    d = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                    F.col(quality_col).cast("long").alias("quality"))
    lab = (d.join(labels, d["doc_id"] == labels["node"], "left")
           .select("doc_id", "quality",
                   F.coalesce("label", F.col("doc_id")).alias("cluster")))
    best = (lab.groupBy("cluster")
            .agg(F.max(F.struct(F.col("quality"),
                                (-F.col("doc_id")).alias("neg_id")))
                 .alias("m"))
            .select("cluster", (-F.col("m.neg_id")).alias("best_id")))
    return (lab.join(F.broadcast(best), "cluster")
            .select("doc_id", "cluster", "quality",
                    (F.col("doc_id") == F.col("best_id")).alias("keep")))


def canonical_by_quality_sql(docs_sql: str, pairs_sql: str,
                             iterations: int = 6) -> str:
    """DuckDB oracle: cc rounds unrolled (cc_labels_sql) + the same
    quality/min-id argmax window. docs_sql must yield (doc_id, quality)."""
    cc = cc_labels_sql(pairs_sql, iterations)
    return f"""
WITH labels AS MATERIALIZED ({cc}),
d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(quality AS BIGINT) AS quality FROM ({docs_sql})),
lab AS (
  SELECT d.doc_id, d.quality,
         coalesce(l.label, d.doc_id) AS cluster
  FROM d LEFT JOIN labels l ON d.doc_id = l.node
),
best AS (
  SELECT cluster, doc_id AS best_id FROM (
    SELECT cluster, doc_id,
           row_number() OVER (PARTITION BY cluster
                              ORDER BY quality DESC, doc_id) AS rk
    FROM lab
  ) WHERE rk = 1
)
SELECT lab.doc_id, lab.cluster, lab.quality,
       lab.doc_id = best.best_id AS keep
FROM lab JOIN best USING (cluster)
"""

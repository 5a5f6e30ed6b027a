"""The distributed crawl: checkpointed micro-batch waves over snapshot tables.

This is the Spark rendering of the oracle crawler's pinned wave algorithm
(oracle/crawler.py — [UP webchecker.py Checker.run] semantics). One wave =

    frontier snapshot ──(priority, salted politeness budget, global top-k)──▶ selected
    selected ──(⟕ robots dim, ⟕ pages on url_canon)──▶ fetched+status
    fetched ──(Arrow batch UDFs: sniff, extract_text, extract_links)──▶ emitted
    links ──(scope/ignore Catalyst filters, per-wave dedup)──▶ candidates
    candidates ──(shard-routed Bloom cogroup + exact left_anti vs seen)──▶ new frontier
    atomic multi-table commit {crawled, links, ext_links, errors, seen,
                               metrics, bloom_shards, frontier'} — resumable

Scale shape (the 10^10-URL story):
- NOTHING round-trips through the driver per wave: robots stays a DataFrame
  (broadcast only under a row-count guard), the Bloom seen-set is a snapshot
  TABLE probed via a shard-routed cogroup (operators/dedup.py), and every
  row count the loop needs is read from the parquet footers of the files
  the commit wrote (manifest["counts"]) — zero dedicated count() jobs.
- Everything except the pinned pandas UDFs is Catalyst: filters are Column
  exprs (pushdown-able), the fat `html BINARY` column is pruned before every
  shuffle, the hot-domain budget is salted, the global top-k is
  TakeOrderedAndProject.
- Politeness honors robots Crawl-delay: a wave notionally spans
  cfg.wave_seconds, so a delay-d domain's budget is wave_seconds//d capped
  by per_domain_budget (pinned identically in oracle/crawler.py).
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from ..oracle.crawler import DEFAULT_AGENT
from ..oracle.extract import _TYPE_MAP
from ..functions.exprcache import ecached
from ..functions.udfs import (
    canonicalize_udf, crawl_delay_udf, extract_page_udf,
    registered_domain_udf, robots_allowed_udf, url_to_path_udf,
)
from ..operators.frontier import (
    assign_sortorder, politeness_budget, wave_topk, with_priority,
)
from ..operators.dedup import (
    SHARD_SCHEMA, bloom_probe, build_bloom_fragments, build_bloom_shards,
    merge_bloom_fragments, seen_anti_join,
)
from ..sources.icetable import SnapshotStore
from ..shipping import ship_package

FRONTIER_SCHEMA = StructType([
    StructField("url_canon", StringType()),
    StructField("depth", IntegerType()),
    StructField("n_refs", LongType()),
    # carried in the table so politeness never recomputes it and the
    # materialized frontier buckets by it (O1: sorted, bucketed frontier)
    StructField("registered_domain", StringType()),
])
SEEN_SCHEMA = StructType([
    StructField("url_canon", StringType()),
    StructField("wave", IntegerType()),
])


@dataclass
class SparkCrawlConfig:
    wave_size: int = 1000
    per_domain_budget: int = 100
    max_pages: int = 10**9
    maxsize: int = 1 << 20
    max_waves: int = 100
    ignore: tuple[str, ...] = ()
    roots: tuple[str, ...] = ()
    agent: str = DEFAULT_AGENT
    nonames: bool = False  # F6 [UP webchecker -n]: drop <a name=…> anchors
    # politeness window a wave notionally spans; robots Crawl-delay d caps a
    # domain's wave budget at wave_seconds//d (pinned, oracle _domain_budget)
    wave_seconds: float = 30.0
    n_salts: int = 8
    # above this wave_size the global top-k switches from
    # TakeOrderedAndProject (driver merges n_partitions x k rows — a
    # straggler/OOM at a 10^10-URL frontier) to the range-partitioned exact
    # top-k (operators.frontier.range_topk: no task holds more than ~n/P
    # rows, driver sees only P counts; costs one extra small job per wave)
    topk_single_pass_limit: int = 2_000_000
    # up to this wave budget the fetch join first BROADCASTS the wave's
    # selected url set into an inner join against the corpus — the corpus
    # side then only ever SCANS (no shuffle) and the left-outer fetch join
    # shuffles wave-sized data instead of the whole corpus. Measured
    # (ENGINE shape, 50k heavy pages): per-wave mode otherwise sort-merge-
    # shuffles all ~12 GB of page bodies EVERY wave through one disk.
    # Beyond the guard (10^7+-URL waves) the corpus-wide shuffle join is
    # the honest plan and AQE keeps it.
    selected_broadcast_rows: int = 2_000_000
    use_bloom: bool = True
    n_bloom_shards: int = 32
    # fixed shard size so incremental OR-merges line up. 128 KiB/shard x 32
    # shards = 4 MiB total = ~10 bits/key for ~3.4M URLs. At the 10^10
    # design point: n_bloom_shards=1024, shard_bytes=12<<20 (~12 MiB/shard,
    # 12.5 GB total, fpp~1% at k=7) — per-executor probe only ever holds the
    # shards its candidates hash to (shard-routed cogroup).
    bloom_shard_bytes: int = 1 << 17
    # fragment dirs accumulate one per wave; every Nth wave the shard table
    # is OR-compacted back to one row per shard (bounds read amplification)
    bloom_compact_every: int = 8
    # AQE's starting partition count for every shuffle. AQE can only
    # COALESCE partitions, never split non-skewed ones — with
    # shuffle.partitions at the usual 2x-cores, a per-wave fat-corpus
    # shuffle (0.5 MB rows) lands ~750 MB on each sort task and concurrent
    # commit jobs OOM'd a 12 g heap (measured, ENGINE shape at 50k heavy
    # pages). Start high; AQE coalesces small stages back down to the
    # 32 MB advisory, so skinny state tables still run few tasks.
    shuffle_initial_partitions: int = 512
    n_buckets: int = 16  # bucket(registered_domain) for table layout
    # store parquet codec; lz4_raw measured ~12% faster crawl wall than
    # snappy on commit-encode-bound waves (BENCH/BASELINE.md round-5 A/B)
    parquet_codec: str = "lz4_raw"
    # >0: expire all but the newest K snapshots after each commit,
    # reclaiming superseded frontier/bloom replace dirs (disk otherwise
    # grows linearly with waves). 0 (default) retains full time-travel
    # history. Resume only ever reads CURRENT, so any K >= 1 is safe.
    expire_keep_last: int = 0
    # Arrow transfer granularity for the fat html column. Measured on the
    # 50k x ~240KB-page corpus (extraction pass, local[32]): batch 64 beats
    # 256 by ~13% and the old 2048 default would put ~50 MB per batch in
    # flight per worker — 64 keeps the per-worker working set ~15 MB at
    # real web page sizes while batch-call overhead stays negligible.
    arrow_batch: int = 64
    # robots is broadcast to the politeness/fetch joins only while it fits;
    # beyond this row count it becomes a plain shuffle join on
    # registered_domain (web scale: one row per domain = tens of millions)
    robots_broadcast_rows: int = 4_000_000
    # 'latest capture wins' dim: broadcast the skinny winners table into the
    # corpus join-back while it fits — the alternative is a sort-merge join
    # that EXCHANGES the fat html column (measured: the 12 GB shuffle write
    # made the 50k-page extraction pass SLOWER at 32 cores than 8; with the
    # broadcast the fat side never leaves its scan tasks). Beyond the guard
    # (a deduplicated 10^10-row corpus) the shuffle join is the only
    # correct plan and the cost is inherent to corpus-wide dedup.
    winners_broadcast_rows: int = 4_000_000
    # scan-split size for the fat `html BINARY` corpus. The Spark default
    # (128 MB) is tuned for skinny columnar rows; over ~100 KB binary pages
    # it makes each scan task buffer >100 MB of bodies through the Arrow
    # boundary — measured on this engine: the 50k-page extraction pass ran
    # 223.7 s at local[32]/128m vs 43.8 s at local[32]/16m (5x), and 128m
    # made 32 cores SLOWER than 8. Small splits also bound per-task memory
    # at the 100 TB design point and smooth hot-domain stragglers.
    max_partition_bytes: str = "16m"
    # parquet WRITER row-group size, same story on the output side: with the
    # 128 MB default every concurrent writer task buffers a full row group
    # of fat text/binary rows on-heap before flushing — at 32 writer tasks
    # that is >4 GB of write buffers and the extraction pass measured 82 s
    # at local[32] vs 27 s with 16 MB groups (and 32 cores were SLOWER than
    # 8). Small groups also raise downstream scan parallelism (Spark splits
    # parquet at row-group granularity).
    parquet_block_bytes: int = 16 << 20
    # corpus caching strategy: "full" persists the prepared corpus (right for
    # corpora that fit executor storage); "skinny" persists only the dedup
    # winners (url_canon, warc_ts, url) and re-scans the corpus parquet each
    # wave — the 100 TB shape, where the fetch join is a fresh parallel scan
    # (pure scalable work) and nothing body-sized is ever pinned in memory
    cache_corpus: str = "full"
    # fetch strategy:
    # - "per-wave": join each wave's frontier against the raw corpus and
    #   extract only that wave's pages. Lazy — right when the crawl will
    #   visit a small fraction of the corpus.
    # - "precompute": ONE extraction pass over the whole corpus up front
    #   (embarrassingly parallel CPU) writing an extracted table; waves then
    #   join against it with the fat text column COLUMN-PRUNED out of every
    #   scan, and extracted_text is attached by a single join at finalize.
    #   Right when the crawl visits most of the corpus (Common-Crawl-style):
    #   per-wave work stops decoding terabytes of body bytes it won't emit.
    fetch_mode: str = "per-wave"


def fetch_join_plan(sel: DataFrame, selected: DataFrame,
                    pages_prepared: DataFrame, budget: int,
                    selected_broadcast_rows: int) -> DataFrame:
    """S1/J2 fetch as plan surgery: semi-join the corpus against the wave's
    selected url set FIRST, broadcast-hinted only while the wave budget is
    under `selected_broadcast_rows` — then the corpus side never shuffles
    (scan + broadcast hash join) and only the wave-sized hit set enters the
    left-outer join's exchange. Above the guard (10^7+-URL waves) the hint
    is dropped: a broadcast of that key set would OOM the executors, so the
    corpus-wide shuffle join is the honest plan and AQE keeps (or at
    runtime re-derives) the right strategy. A left join against the raw
    corpus finds matches among selected keys anyway, so both regimes are
    semantically identical (plan-tested in tests/test_plans.py)."""
    sel_keys = selected.select("url_canon")
    if budget <= selected_broadcast_rows:
        sel_keys = F.broadcast(sel_keys)
    hits = pages_prepared.join(sel_keys, "url_canon")
    return sel.join(hits, "url_canon", "left")


def content_type_expr(mimetype):
    """T2 typerecognitor as a Catalyst CASE, generated FROM the oracle's
    pinned map so the two cannot diverge."""
    expr = F.when(mimetype.startswith("image/"), F.lit("Image"))
    for mt, ct in _TYPE_MAP.items():
        expr = expr.when(mimetype == mt, F.lit(ct))
    return expr.otherwise(F.lit("File"))


def host_root_expr(url):
    """scheme://host/ of a canonical URL (oracle._root_of)."""
    return F.concat(F.split(url, "/", 4)[0], F.lit("//"),
                    F.split(url, "/", 4)[2], F.lit("/"))


def all_host_form(roots: tuple[str, ...]) -> bool:
    """True when every root is a bare host root (scheme://host/) — the
    derived-from-seeds shape. Then `url startswith root` ⟺
    `host_root(url) == root`, so scope checks and site resolution collapse
    from a |roots|-deep startswith OR/CASE chain (240+ exprs with dense
    seeds — measured seconds of per-wave analysis/codegen) to ONE
    hash-set membership / ONE concat. Empty roots must NOT take this path:
    all() over () is vacuously True and isin() with zero args errors at
    analysis — the legacy chain's lit(False) (nothing in scope) is the
    correct empty-roots semantics."""
    return bool(roots) and all(
        r.count("/") == 3 and r.endswith("/") for r in roots)


def in_scope_expr(url, roots: tuple[str, ...]):
    """F2 scope predicate: url starts with one of the roots."""
    if all_host_form(roots):
        return host_root_expr(url).isin(*roots)
    expr = F.lit(False)
    for r in sorted(roots):
        expr = expr | url.startswith(r)
    return expr


def site_url_expr(url, roots: tuple[str, ...]):
    """First matching root in sorted order (pinned, oracle._site_of).
    For host-form roots every CASE branch returns the url's own host root,
    so the whole expression reduces to host_root_expr unconditionally."""
    if all_host_form(roots):
        return host_root_expr(url)
    expr = None
    for r in sorted(roots):
        c = F.when(url.startswith(r), F.lit(r))
        expr = c if expr is None else expr.when(url.startswith(r), F.lit(r))
    host = host_root_expr(url)
    return expr.otherwise(host) if expr is not None else host


class SparkCrawler:
    """Drives checkpointed waves against a SnapshotStore. Resumable: a fresh
    instance pointed at the same store continues from the last committed
    wave (BASELINE.json north_rule)."""

    def __init__(self, spark: SparkSession, store_path: str,
                 cfg: SparkCrawlConfig):
        self.spark = spark
        self.cfg = cfg
        self.store = SnapshotStore(store_path, compression=cfg.parquet_codec)
        self.timings: list[dict] = []  # per-wave step wall times (lineage)
        self.write_timings: list[dict] = []  # per-table commit write times
        self._winners: DataFrame | None = None  # pinned dedup dim (skinny)
        self._ckpt_dirs: list = []  # checkpoint subdirs we rotated into
        # reusable unresolved Column/WindowSpec objects (exprcache.ecached):
        # build_wave constructs ~1,900 expression nodes per wave, each a
        # Py4J round trip — measured 1.9 s/wave of pure driver time
        # (cProfile at local[4]: build_wave 19.2 s of a 92.7 s ten-wave
        # crawl), a SERIAL cost that lands on N->4N scaling as an Amdahl
        # term. Expressions are immutable JVM trees bound to no DataFrame,
        # so every wave-invariant one is built once and replanted;
        # run-varying inputs (roots, ignore, precompute shape) key the
        # cache entries, and only F.lit(wave)/the sortorder offset rebuild.
        self._exprs: dict = {}
        ship_package(spark)  # executors need the oracle inside the UDFs
        # crawler tuning must not bleed into whatever the session runs next
        # (bench.py times harness queries on the same session): remember the
        # prior values of every conf this constructor overrides and restore
        # them when run() finishes.
        self._conf_keys = (
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        )
        self._saved_confs = {k: spark.conf.get(k, None)
                             for k in self._conf_keys}
        self._saved_parquet_block = (
            spark.sparkContext._jsc.hadoopConfiguration()
            .get("parquet.block.size"))
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       str(cfg.arrow_batch))
        spark.conf.set("spark.sql.files.maxPartitionBytes",
                       cfg.max_partition_bytes)
        spark.sparkContext._jsc.hadoopConfiguration().set(
            "parquet.block.size", str(cfg.parquet_block_bytes))
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        # frontier-state tables are tiny relative to shuffle.partitions —
        # let AQE coalesce aggressively instead of keeping parallelism-many
        # micro-tasks per stage (dominant fixed cost per wave otherwise)
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(cfg.shuffle_initial_partitions))
        # cached plans freeze their output partitioning unless this is on —
        # without it every stage over a persisted state table runs
        # shuffle.partitions-many micro-tasks
        spark.conf.set(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true")

    def restore_session_confs(self) -> None:
        """Undo every session-global conf __init__ set (idempotent)."""
        for k in self._conf_keys:
            prev = self._saved_confs.get(k)
            if prev is None:
                try:
                    self.spark.conf.unset(k)
                except Exception:
                    pass
            else:
                self.spark.conf.set(k, prev)
        hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
        if self._saved_parquet_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", self._saved_parquet_block)

    @contextmanager
    def _timed(self, wave: int, step: str):
        t0 = time.time()
        yield
        self.timings.append(
            dict(wave=wave, step=step, sec=round(time.time() - t0, 3)))

    # -- corpus prep ---------------------------------------------------------
    def prepare_pages(self, pages: DataFrame) -> DataFrame:
        """Canonicalize + 'latest capture wins' dedup (max (warc_ts, url) per
        url_canon).

        Scale-critical shape: the winner is chosen on SKINNY columns
        (url_canon, warc_ts, url, physical row address) via a map-side-
        combinable max(struct(...)), then joined back — the fat
        `html BINARY` column is scanned once and never shuffles (the
        winners dim stays small; an html-bearing digest was measured to
        force a second full fat scan AND a fat sort-merge exchange).

        The tie-break id is the PHYSICAL ROW ADDRESS
        (xxhash64(_metadata.file_path), _metadata.row_index) — the Spark
        rendering of Iceberg's _pos. It is (a) unique per row, so EXACT
        duplicate corpus rows (same url, timestamp, body — common in dirty
        crawl data) still resolve to one winner with no post-join dedup
        pass, and (b) deterministic across recomputations because snapshot
        files are immutable — unlike monotonically_increasing_id, which
        Spark documents as nondeterministic: in cache_corpus='skinny' the
        canon branch is re-derived EVERY WAVE against winners persisted
        once, and divergent ids would silently drop url_canon groups.
        Non-file sources (in-memory test fixtures) fall back to mIID,
        which is stable for a materialized local relation.

        Pinning note: for the pathological same-(url, warc_ts)-different-
        body case the engine's winner is address-determined while the
        single-process oracle (sources/corpus.py pages_index) pins the
        bytewise-max body; the two agree whenever tied captures carry
        identical bodies (always, outside adversarial dirty data)."""
        try:
            with_rid = pages.withColumns({
                "_ridf": F.xxhash64(F.col("_metadata.file_path")),
                "_ridx": F.col("_metadata.row_index"),
            })
        except Exception:  # non-file source: no _metadata column
            with_rid = pages.withColumns({
                "_ridf": F.monotonically_increasing_id(),
                "_ridx": F.lit(0).cast("long"),
            })
        canon = with_rid.select("url", "warc_ts", "html", "_ridf", "_ridx") \
            .withColumn("url_canon", canonicalize_udf("url"))
        winners = (
            canon.select("url_canon", "warc_ts", "url", "_ridf", "_ridx")
            .groupBy("url_canon")
            .agg(F.max(F.struct("warc_ts", "url", "_ridf", "_ridx"))
                 .alias("_w"))
            .select("url_canon", F.col("_w._ridf").alias("_ridf"),
                    F.col("_w._ridx").alias("_ridx"))
            .persist()  # skinny (3 cols, no bodies) — pinned in ALL modes:
        )              # every wave / the size guard below re-reads it
        self._winners = winners
        # one skinny job decides the join strategy (Spark's own estimate
        # can't: the column-pruned agg inherits the full file-size stat, so
        # auto-broadcast never fires and the fat side would shuffle)
        n_winners = winners.count()
        dim = (F.broadcast(winners)
               if n_winners <= self.cfg.winners_broadcast_rows else winners)
        return canon.join(dim, ["url_canon", "_ridf", "_ridx"]) \
            .drop("_ridf", "_ridx")

    def robots_table(self, pages: DataFrame) -> DataFrame:
        """S6: robots universe = pages rows whose canonical PATH is exactly
        /robots.txt — ROOT-path only (a deep mirror copy like
        http://host/mirror/robots.txt must never shadow the real root file;
        the raw endswith is kept as the cheap pushdown-able prefilter, the
        canonical-path equality is the binding rule, mirrored in
        sources/corpus.py robots_best). Reduced to EXACTLY one row per
        registered_domain (the normal Common-Crawl case has robots.txt on
        several hosts of one domain, e.g. www.example.com and example.com).
        Pinned winner: max (url_canon, warc_ts, robots_txt).

        Takes the RAW pages table on purpose: the raw-url filter is a plain
        Catalyst predicate, so finding ~one row per domain costs one
        JVM-side scan — routing this through prepare_pages would run the
        canonicalize UDF + the corpus-wide dedup (measured: 38 s of the
        local[8] crawl on the 120k corpus) to keep a few hundred rows."""
        rows = (
            pages
            .filter(F.col("url").endswith("/robots.txt"))
            .select(canonicalize_udf("url").alias("url_canon"), "warc_ts",
                    F.decode("html", "UTF-8").alias("robots_txt"))
            .filter(F.parse_url("url_canon", F.lit("PATH")) == "/robots.txt")
            .withColumn("registered_domain",
                        registered_domain_udf("url_canon"))
        )
        return (
            rows.groupBy("registered_domain")
            .agg(F.max(F.struct("url_canon", "warc_ts", "robots_txt"))
                 .alias("_w"))
            .select("registered_domain",
                    F.col("_w.robots_txt").alias("robots_txt"))
        )

    # -- bootstrap -----------------------------------------------------------
    def bootstrap(self, seeds: list[str],
                  robots_store: DataFrame | None = None) -> None:
        """S5: seeds -> frontier snapshot v0, depth=0; seeds enter seen (and
        the Bloom shard table — the zero-false-negative invariant requires
        every seen URL to be bloom-visible)."""
        from ..oracle.urlnorm import canonicalize as _canon
        from ..oracle.urlnorm import registered_domain as _regdom

        cfg, spark = self.cfg, self.spark
        seeds_c = sorted({_canon(u) for u in seeds})
        frontier = spark.createDataFrame(
            [(u, 0, 0, _regdom(u)) for u in seeds_c], FRONTIER_SCHEMA
        )
        seen = spark.createDataFrame([(u, -1) for u in seeds_c], SEEN_SCHEMA)
        appends = {"seen": seen}
        if robots_store is not None:
            appends["robots"] = robots_store
        if cfg.use_bloom:
            appends["bloom_shards"] = build_bloom_fragments(
                seen, cfg.n_bloom_shards, cfg.bloom_shard_bytes)
        self.store.commit_wave(
            -1, appends=appends, replaces={"frontier": frontier},
            extra={"crawled_count": 0,
                   "bloom_params": [cfg.n_bloom_shards,
                                    cfg.bloom_shard_bytes],
                   "roots": list(self.cfg.roots) or sorted(
                {u.split("://", 1)[0] + "://" + u.split("://", 1)[1].split("/", 1)[0] + "/"
                 for u in seeds_c}
            )},
        )

    # -- bloom state ---------------------------------------------------------
    def _bloom_shards_df(self) -> tuple[DataFrame, bool]:
        """Current shard table, validated against the config. A resumed
        store whose recorded (n_shards, shard_bytes) differ from cfg would
        route probes to shard ids the table doesn't hold — bloom would say
        'definitely new' for seen URLs and silently re-crawl them. On
        mismatch the table is REBUILT distributed from the seen table (the
        exact source of truth); the caller commits it as a replace."""
        cfg = self.cfg
        m = self.store.current_manifest() or {}
        params_ok = (m.get("bloom_params")
                     == [cfg.n_bloom_shards, cfg.bloom_shard_bytes])
        if params_ok and "bloom_shards" in m.get("tables", {}):
            return (self.store.read(self.spark, "bloom_shards",
                                    SHARD_SCHEMA), False)
        seen = self.store.read(self.spark, "seen", SEEN_SCHEMA)
        return (build_bloom_shards(seen, cfg.n_bloom_shards,
                                   cfg.bloom_shard_bytes), True)

    # -- one wave ------------------------------------------------------------
    def build_wave(self, wave: int, frontier: DataFrame, seen: DataFrame,
                   shards: DataFrame | None, pages_prepared: DataFrame,
                   robots: DataFrame, domain_budgets: DataFrame | None,
                   roots: tuple[str, ...], crawled_count: int, budget: int,
                   bloom_rebuild: bool = False) -> dict:
        """Construct ONE wave's full dataflow (selection -> fetch ->
        extraction -> link pipeline -> frontier update -> metrics) against
        caller-supplied state DataFrames, WITHOUT committing. Returns the
        handle dict `_commit` writes. Pure DAG construction plus persist()
        marks; the only Spark actions are inside wave_topk's scale path."""
        cfg = self.cfg
        ex = self._exprs  # wave-invariant expression cache (see __init__)
        wave_lit = F.lit(wave)

        # --- selection: priority -> salted politeness -> global top-k ------
        # (no count() gate: a nonempty frontier always selects >= 1 row —
        # politeness keeps at least one per domain, top-k limit >= 1 — and
        # frontier emptiness is known from the previous commit's counts)
        f = with_priority(frontier, exprs=ex)
        f = politeness_budget(f, cfg.per_domain_budget, cfg.n_salts,
                              domain_budgets, exprs=ex)
        topk_caches: list = []
        selected = wave_topk(f, budget, cfg.topk_single_pass_limit,
                             caches=topk_caches).persist()

        # --- robots gate (dim join) + fetch join -----------------------------
        sel = selected.join(robots, "registered_domain", "left")
        sel = sel.withColumn(
            "allowed",
            ecached(ex, "allowed", lambda: robots_allowed_udf(
                "robots_txt", "url_canon", F.lit(cfg.agent))),
        ).drop("robots_txt")
        fetched = fetch_join_plan(sel, selected, pages_prepared, budget,
                                  cfg.selected_broadcast_rows)
        is_precomputed = "n_bytes" in pages_prepared.columns

        def _status_col():
            body_len = (F.col("n_bytes") if is_precomputed
                        else F.length("html"))
            return (F.when(~F.col("allowed"), F.lit("robots"))
                    .when(body_len.isNull(), F.lit("notfound"))
                    .when(body_len > cfg.maxsize, F.lit("maxsize"))
                    .otherwise(F.lit("ok")))

        fetched = fetched.withColumn(
            "status", ecached(ex, ("status", is_precomputed), _status_col))

        is_ok = ecached(ex, "is_ok", lambda: F.col("status") == "ok")
        if is_precomputed:
            # extraction already ran corpus-wide (fetch_mode="precompute");
            # null out gated rows so downstream semantics match the lazy
            # path (one withColumns call: the four columns are mutually
            # independent, so simultaneous application == the old chain)
            parsed = fetched.withColumns(ecached(ex, "parsed_cols_pre", lambda: {
                "mimetype": F.when(is_ok, F.col("mimetype")),
                "links": F.coalesce(F.when(is_ok, F.col("links")),
                                    F.array().cast("array<string>")),
                "extracted_text": F.when(is_ok, F.lit(None).cast("string")),
                "n_bytes": F.when(is_ok, F.col("n_bytes")).otherwise(0),
            })).persist()
        else:
            # --- extraction (ONE Arrow boundary), lazy per-wave --------------
            # fused sniff+links+text UDF: the fat html column crosses to
            # Python once and the parser runs once per page (extract_page).
            # Gated rows pass null html → the oracle returns (None, [], '')
            # DISK_ONLY cache: parsed carries the wave's extracted_text —
            # at real page weights (~200 KB text) an on-heap cache of a
            # 10^5-page wave competes with the commit jobs' sort/write
            # buffers for the same heap (measured OOM at 50k heavy pages,
            # 12 g); local disk + page cache serve the few re-reads fine.
            from pyspark import StorageLevel

            pg = ecached(ex, "pg", lambda: extract_page_udf(
                F.when(is_ok, F.col("html")), F.col("url_canon"),
                F.lit(cfg.nonames)))
            parsed = (
                fetched
                .withColumn("_pg", pg)
                .withColumns(ecached(ex, "parsed_cols_lazy", lambda: {
                    "mimetype": F.when(is_ok, F.col("_pg.mimetype")),
                    "extracted_text":
                        F.when(is_ok, F.coalesce(F.col("_pg.text"),
                                                 F.lit(""))),
                    "links": F.coalesce(F.col("_pg.links"),
                                        F.array().cast("array<string>")),
                    "n_bytes":
                        F.when(is_ok, F.length("html")).otherwise(0),
                }))
                .drop("html", "_pg")
                .persist(StorageLevel.DISK_ONLY)
            )
        is_html = ecached(ex, "is_html", lambda:
                          is_ok & (F.col("mimetype") == "text/html"))

        errors = parsed.filter(ecached(ex, "not_ok", lambda: ~is_ok)).select(
            ecached(ex, "url_canon_col", lambda: F.col("url_canon")),
            wave_lit.alias("wave"),
            ecached(ex, "reason", lambda: F.col("status").alias("reason")),
        )

        emitted = parsed.filter(is_ok).withColumn(
            "site_url", ecached(ex, ("site", roots), lambda:
                                site_url_expr(F.col("url_canon"), roots)))
        crawled_base = ecached(ex, "crawled_cols", lambda: (
            [F.col("url"), F.col("url_canon")],
            [F.col("depth"), F.col("priority"),
             url_to_path_udf("url_canon", "site_url").alias("path"),
             F.col("site_url"), F.col("mimetype"),
             content_type_expr(F.col("mimetype")).alias("content_type"),
             (F.parse_url("url_canon", F.lit("PATH")).endswith("/")
              ).alias("isindex"),
             F.col("extracted_text")]))
        crawled_new = assign_sortorder(
            emitted.select(*crawled_base[0], wave_lit.alias("wave"),
                           *crawled_base[1]),
            offset=crawled_count,
            approx_rows=budget,
            exprs=ex,
        )

        # --- link pipeline: scope -> ignore -> dedup -> candidates ----------
        lk = parsed.filter(is_html).select(
            *ecached(ex, "lk_cols", lambda: [
                F.col("url_canon").alias("src"), F.col("depth"),
                F.explode("links").alias("dst")]))
        in_scope = ecached(ex, ("in_scope", roots), lambda:
                           in_scope_expr(F.col("dst"), roots))
        src_dst = ecached(ex, "src_dst", lambda: [F.col("src"),
                                                  F.col("dst")])
        ext_links = lk.filter(ecached(ex, ("not_in_scope", roots), lambda:
                                      ~in_scope)) \
            .select(*src_dst, wave_lit.alias("wave"))
        scoped = lk.filter(in_scope)

        def _keep_cond():
            ignored = F.lit(False)
            for pat in cfg.ignore:  # re.search semantics == rlike (F1)
                ignored = ignored | F.col("dst").rlike(pat)
            return ~ignored, ignored

        keep_cond, ignored_cond = ecached(
            ex, ("ignore", cfg.ignore), _keep_cond)
        # hash-partition by dst BEFORE the (src, dst) dedup: dst-partitioning
        # satisfies the dedup's clustering requirement (subset of the keys),
        # AND the candidates groupBy("dst") right after it — one exchange
        # where the old dropDuplicates/groupBy pair planned two (guide §2.4:
        # two operations keyed compatibly share one exchange)
        kept = (scoped.filter(keep_cond)
                .repartition(ecached(ex, "dst_col", lambda: F.col("dst")))
                .dropDuplicates(["src", "dst"]))
        links_new = kept.select(*src_dst, wave_lit.alias("wave"))

        candidates = kept.groupBy("dst").agg(
            *ecached(ex, "cand_aggs", lambda: [
                (F.min("depth") + 1).alias("depth"),
                F.count("*").alias("new_refs"),  # src distinct after dedup
            ])
        ).withColumnRenamed("dst", "url_canon")

        # --- frontier update: pending-entry merge + seen anti-join ----------
        remaining = frontier.join(selected.select("url_canon"), "url_canon",
                                  "left_anti")
        cand = candidates.persist()
        merged = (
            remaining.alias("f")
            .join(cand.alias("c"), "url_canon", "left")
            .select(*ecached(ex, "merged_cols", lambda: [
                F.col("url_canon"),
                F.least(F.col("f.depth"), F.coalesce(F.col("c.depth"),
                        F.lit(2**31 - 1))).alias("depth"),
                (F.col("f.n_refs") + F.coalesce(F.col("c.new_refs"),
                        F.lit(0))).alias("n_refs"),
                F.col("f.registered_domain").alias("registered_domain"),
            ]))
        )
        # frontier ⊆ seen (every pending URL was added to seen at discovery),
        # so the seen anti-join alone yields exactly the fresh candidates —
        # no separate anti-join against `remaining` is needed
        if cfg.use_bloom:
            flagged = bloom_probe(cand, shards, cfg.n_bloom_shards,
                                  cfg.bloom_shard_bytes, exprs=ex)
            maybe_seen = ecached(ex, "maybe_seen",
                                 lambda: F.col("_maybe_seen"))
            definitely_new = flagged.filter(~maybe_seen) \
                .drop("_maybe_seen")
            suspects = flagged.filter(maybe_seen).drop("_maybe_seen")
            new_entries = definitely_new.unionByName(
                seen_anti_join(suspects, seen))
        else:
            new_entries = seen_anti_join(cand, seen)
        new_entries = new_entries.select(
            *ecached(ex, "ne_cols", lambda: [
                F.col("url_canon"), F.col("depth"),
                F.col("new_refs").alias("n_refs"),
                registered_domain_udf("url_canon")
                .alias("registered_domain"),
            ])).persist()  # consumed by frontier', seen', the bloom update

        frontier_next = merged.unionByName(new_entries)
        seen_new = new_entries.select(
            ecached(ex, "url_canon_col", lambda: F.col("url_canon")),
            wave_lit.alias("wave"))

        # --- lineage metrics (A3): per-partition rows + ONE wave-level row --
        # (wave-level scalars like skipped_ignore live on partition_id=-1 so
        # a uniform SUM over the table is correct; both aggregates ride the
        # same metrics write job — no dedicated count() jobs per wave)
        zero = ecached(ex, "zero", lambda: F.lit(0).cast("long"))
        part_metrics = (
            parsed.groupBy(ecached(ex, "pid_col", lambda:
                                   F.spark_partition_id()
                                   .alias("partition_id")))
            .agg(*ecached(ex, "part_aggs", lambda: [
                F.sum(F.when(is_ok, 1).otherwise(0)).alias("fetched"),
                F.sum(F.when(is_html, 1).otherwise(0)).alias("parsed"),
                F.sum(F.when(F.col("status") == "robots", 1).otherwise(0))
                 .alias("skipped_robots"),
                F.sum(F.when(F.col("status") == "maxsize", 1).otherwise(0))
                 .alias("skipped_maxsize"),
                F.sum(F.when(F.col("status") == "notfound", 1).otherwise(0))
                 .alias("skipped_notfound"),
                F.sum("n_bytes").alias("bytes"),
            ]))
            .withColumns({"wave": wave_lit, "skipped_ignore": zero})
        )
        wave_metrics = lk.agg(
            ecached(ex, ("ign_agg", roots, cfg.ignore), lambda:
                    F.coalesce(F.sum(F.when(in_scope & ignored_cond, 1)
                                     .otherwise(0)), F.lit(0))
                    .cast("long").alias("skipped_ignore"))
        ).select(
            *ecached(ex, "wave_metric_cols", lambda: [
                F.lit(-1).alias("partition_id"), zero.alias("fetched"),
                zero.alias("parsed"), zero.alias("skipped_robots"),
                zero.alias("skipped_maxsize"), zero.alias("skipped_notfound"),
                zero.alias("bytes")]),
            wave_lit.alias("wave"),
            ecached(ex, "ign_col", lambda: F.col("skipped_ignore")),
        )
        metrics = part_metrics.unionByName(wave_metrics)

        w = dict(
            selected=selected, parsed=parsed, cand=cand,
            new_entries=new_entries, topk_caches=topk_caches,
            crawled_new=crawled_new, links_new=links_new,
            ext_links=ext_links, errors=errors, seen_new=seen_new,
            metrics=metrics, frontier_next=frontier_next,
            bloom_replace=None, bloom_append=None,
        )
        if cfg.use_bloom:
            new_frags = build_bloom_fragments(
                seen_new.select("url_canon"), cfg.n_bloom_shards,
                cfg.bloom_shard_bytes, exprs=ex)
            compact = (bloom_rebuild
                       or wave % cfg.bloom_compact_every
                       == cfg.bloom_compact_every - 1)
            if compact:
                # OR-compact everything back to one row per shard (and fold
                # in a rebuild, which REPLACES stale-parameter fragments)
                w["bloom_replace"] = merge_bloom_fragments(
                    shards.unionByName(new_frags), cfg.bloom_shard_bytes)
            else:
                w["bloom_append"] = new_frags
        return w

    def run_wave(self, wave: int, pages_prepared: DataFrame,
                 robots: DataFrame, domain_budgets: DataFrame | None,
                 roots: tuple[str, ...], crawled_count: int) -> int:
        """One wave end-to-end: state read from the store, the wave built,
        committed (blocking), then its caches and checkpoints released.
        Returns the number of rows the wave selected (0 = nothing to do)."""
        cfg, spark = self.cfg, self.spark
        budget = min(cfg.wave_size, cfg.max_pages - crawled_count)
        if budget <= 0:
            return 0
        # range_topk checkpoints into the active dir when one is set; give
        # this wave its own subdir and reap earlier waves' (the commit below
        # is synchronous, so their files are unreferenced by now)
        self._rotate_ckpt_dir()
        t_build = time.time()
        frontier = self.store.read(spark, "frontier",
                                   FRONTIER_SCHEMA).persist()
        seen = self.store.read(spark, "seen", SEEN_SCHEMA)
        shards, bloom_rebuild = (self._bloom_shards_df() if cfg.use_bloom
                                 else (None, False))
        w = self.build_wave(wave, frontier, seen, shards, pages_prepared,
                            robots, domain_budgets, roots, crawled_count,
                            budget, bloom_rebuild)
        self.timings.append(dict(wave=wave, step="plan_build",
                                 sec=round(time.time() - t_build, 3)))
        with self._timed(wave, "commit"):
            manifest = self._commit(wave, w, roots, crawled_count)
        counts = manifest["counts"]
        self._unpersist_wave(w)
        frontier.unpersist()
        self._reap_ckpt_dirs()
        # every selected row lands in exactly one of crawled/errors
        return counts["crawled"] + counts["errors"]

    def _rotate_ckpt_dir(self) -> None:
        """Reliable checkpoint files are NEVER removed by Spark itself
        (only `spark.cleaner.referenceTracking.cleanCheckpoints`, off by
        default, ties them to GC; `unpersist()` on a checkpointed frame is
        a no-op) — so a long crawl whose range_topk checkpoints every wave
        grows the checkpoint dir without bound. Bound it by rotation: each
        `setCheckpointDir(base)` call creates a fresh `base/<UUID>` subdir,
        so giving every wave its own subdir makes cleanup a recursive
        delete of whole retired subdirs, no per-RDD file tracking. The
        commit is synchronous, so once a wave returns nothing reads its
        checkpoints and `_reap_ckpt_dirs` drops every dir but the active
        one. No-op when no checkpoint dir is configured (range_topk then
        persists instead)."""
        sc = self.spark.sparkContext
        opt = sc._jsc.sc().getCheckpointDir()
        if not opt.isDefined():
            return
        base = (sc._jvm.org.apache.hadoop.fs.Path(opt.get())
                .getParent().toString())
        sc.setCheckpointDir(base)
        self._ckpt_dirs.append(sc._jsc.sc().getCheckpointDir().get())

    def _reap_ckpt_dirs(self) -> None:
        """Delete every rotated checkpoint subdir we created except the
        session's ACTIVE one, so later user checkpoints on the same session
        still have a home. Hadoop FileSystem delete, so object-store
        checkpoint dirs reap the same way as file:/."""
        sc = self.spark.sparkContext
        opt = sc._jsc.sc().getCheckpointDir()
        active = opt.get() if opt.isDefined() else None
        for d in self._ckpt_dirs:
            if d != active:
                p = sc._jvm.org.apache.hadoop.fs.Path(d)
                p.getFileSystem(sc._jsc.hadoopConfiguration()).delete(p, True)
        self._ckpt_dirs = [d for d in self._ckpt_dirs if d == active]

    @staticmethod
    def _unpersist_wave(w: dict) -> None:
        for name in ("selected", "parsed", "cand", "new_entries"):
            w[name].unpersist()
        for c in w["topk_caches"]:
            c.unpersist()

    def _commit(self, wave, w: dict, roots, crawled_count):
        cfg = self.cfg
        appends = {
            "crawled": w["crawled_new"], "links": w["links_new"],
            "ext_links": w["ext_links"], "errors": w["errors"],
            "seen": w["seen_new"], "metrics": w["metrics"],
        }
        replaces = {"frontier": w["frontier_next"]}
        if w["bloom_replace"] is not None:
            replaces["bloom_shards"] = w["bloom_replace"]
        elif w["bloom_append"] is not None:
            appends["bloom_shards"] = w["bloom_append"]
        manifest = self.store.commit_wave(
            wave,
            appends=appends,
            replaces=replaces,
            bucket_keys={"crawled": "url_canon",
                         "frontier": "registered_domain"},
            sort_keys={"frontier": ["depth", "url_canon"]},
            n_buckets=cfg.n_buckets,
            extra={"roots": list(roots),
                   "bloom_params": [cfg.n_bloom_shards,
                                    cfg.bloom_shard_bytes]},
            extra_fn=lambda counts: {
                "crawled_count": crawled_count + counts["crawled"]},
        )
        self.write_timings.append(
            dict(wave=wave, **self.store.last_write_times))
        if cfg.expire_keep_last > 0:
            # driver-side metadata/file ops only (no Spark job); reclaims
            # superseded replace dirs — frontier and compacted bloom-shard
            # snapshots — which otherwise grow disk linearly with waves
            self.store.expire_snapshots(keep_last=cfg.expire_keep_last)
        return manifest

    def _extracted_path(self) -> str:
        return os.path.join(self.store.root, "data", "corpus_extracted")

    def _precompute_extraction(self, pages_prepared: DataFrame) -> DataFrame:
        """ONE extraction pass over the whole corpus -> corpus_extracted
        parquet (url, warc_ts, url_canon, mimetype, n_bytes, links,
        extracted_text). Idempotent (resume skips it). Returns the SLIM view
        (text column dropped — parquet column pruning keeps body-sized bytes
        out of every wave scan)."""
        path = self._extracted_path()
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            pg = extract_page_udf("html", "url_canon",
                                  F.lit(self.cfg.nonames))
            ext = pages_prepared.select(
                "url", "warc_ts", "url_canon",
                F.length("html").alias("n_bytes"), pg.alias("_pg"),
            ).select(
                "url", "warc_ts", "url_canon",
                F.col("_pg.mimetype").alias("mimetype"), "n_bytes",
                F.coalesce(F.col("_pg.links"),
                           F.array().cast("array<string>")).alias("links"),
                F.coalesce(F.col("_pg.text"), F.lit(""))
                 .alias("extracted_text"),
            )
            ext.write.mode("overwrite").parquet(path)
        # the slim view is small by design (no bodies, no text): pin it so
        # every wave's fetch join probes memory, not parquet. Coalesce first
        # — the extraction output is written with small row groups (good for
        # the fat write path, see parquet_block_bytes), which would
        # otherwise pin hundreds of micro-partitions that every per-wave
        # scan pays task-scheduling overhead for.
        n_slim = max(self.spark.sparkContext.defaultParallelism, 8)
        return (self.spark.read.parquet(path).drop("extracted_text")
                .coalesce(n_slim).persist())

    # -- full crawl ------------------------------------------------------------
    def run(self, pages: DataFrame, seeds: list[str]) -> DataFrame:
        try:
            return self._run(pages, seeds)
        finally:
            # session-global tuning (arrow batch, partition bytes, AQE
            # knobs, parquet block size) must not outlive the crawl: the
            # same session may run unrelated queries next (bench.py does)
            self.restore_session_confs()
            # checkpoints are never needed after the crawl (resume anchors
            # on the store, finalize reads the store): reap every rotated
            # dir, keeping only the session's active one
            self._reap_ckpt_dirs()

    def _run(self, pages: DataFrame, seeds: list[str]) -> DataFrame:
        from concurrent.futures import ThreadPoolExecutor

        cfg, spark = self.cfg, self.spark
        # robots stays a DataFrame end to end (never collected): one row per
        # registered_domain with the parsed crawl_delay, persisted because
        # every wave consults it. Broadcast ONLY under the row-count guard —
        # at web scale (one row per domain) it becomes a shuffle join. The
        # size-guard count is submitted from a thread so the (small) robots
        # job OVERLAPS corpus prep / the precompute extraction pass instead
        # of serializing ~a full raw-url scan in front of them.
        robots_full = (
            self.robots_table(pages)
            .withColumn("crawl_delay",
                        crawl_delay_udf("robots_txt", F.lit(cfg.agent)))
            .persist()
        )
        def _count_robots():
            t0 = time.time()
            n = robots_full.count()
            return n, round(time.time() - t0, 3)

        # `with` reaps the count thread on every exit path — if corpus prep
        # raises, the background Spark job is not left running against a
        # torn-down driver (shutdown cancels the pending future).
        with ThreadPoolExecutor(max_workers=1) as pool:
            fut_robots = pool.submit(_count_robots)
            pages_prepared = self.prepare_pages(pages)
            # Crawl-delay politeness dim: only delay-bearing domains carry
            # a row
            domain_budgets = robots_full.filter(
                F.col("crawl_delay") > 0
            ).select(
                "registered_domain",
                F.least(
                    F.lit(cfg.per_domain_budget),
                    F.greatest(F.lit(1), F.floor(
                        F.lit(float(cfg.wave_seconds))
                        / F.col("crawl_delay"))),
                ).cast("int").alias("dom_budget"),
            )
            if cfg.fetch_mode == "precompute":
                with self._timed(-1, "precompute_extraction"):
                    pages_prepared = self._precompute_extraction(
                        pages_prepared)
            elif cfg.cache_corpus == "full":
                pages_prepared = pages_prepared.persist()
            n_robots, robots_sec = fut_robots.result(
                timeout=3600)  # overlapped with prep
        self.timings.append(dict(wave=-1, step="robots_prep",
                                 sec=robots_sec))
        robots = robots_full.select("registered_domain", "robots_txt")
        if n_robots <= cfg.robots_broadcast_rows:
            robots = F.broadcast(robots)
            domain_budgets = F.broadcast(domain_budgets)
        manifest = self.store.current_manifest()
        if manifest is None:
            with self._timed(-1, "bootstrap"):
                self.bootstrap(seeds, robots_full)
            manifest = self.store.current_manifest()
        roots = tuple(manifest["roots"])
        wave = manifest["wave"] + 1
        while wave < cfg.max_waves:
            manifest = self.store.current_manifest()
            n_frontier = manifest.get("counts", {}).get("frontier")
            if n_frontier is None:  # pre-counts store/foreign manifest
                n_frontier = self.store.read(spark, "frontier",
                                             FRONTIER_SCHEMA).count()
            if n_frontier == 0:
                break
            n = self.run_wave(wave, pages_prepared, robots, domain_budgets,
                              roots, manifest.get("crawled_count", 0))
            if n == 0:
                break
            wave += 1
        pages_prepared.unpersist()
        robots_full.unpersist()
        if self._winners is not None:
            self._winners.unpersist()
        with self._timed(98, "finalize_build"):
            out = self.finalize()
        return out

    def finalize(self) -> DataFrame:
        """Backlinks = ALL in-scope referrers over the whole crawl
        [UP: upstream accumulates into done items, yields at the end]."""
        spark = self.spark
        crawled = self.store.read(spark, "crawled")
        links = self.store.read(
            spark, "links",
            StructType([StructField("src", StringType()),
                        StructField("dst", StringType()),
                        StructField("wave", IntegerType())]))
        backs = links.groupBy("dst").agg(
            F.sort_array(F.collect_set("src")).alias("backlinks"))
        out = (
            crawled.join(backs, crawled["url_canon"] == backs["dst"], "left")
            .drop("dst")
            .withColumn("backlinks",
                        F.coalesce("backlinks",
                                   F.array().cast("array<string>")))
        )
        if self.cfg.fetch_mode == "precompute":
            # attach deferred text in ONE equi-join on url_canon (the only
            # time the fat extracted_text column is scanned after the
            # precompute pass). No broadcast hint: AQE broadcasts the slim
            # crawled side while it fits and falls back to a sort-merge
            # join at scale — at the 10^10 design point "crawled minus
            # text" is billions of rows, which must never be broadcast.
            text = spark.read.parquet(self._extracted_path()).select(
                "url_canon", F.col("extracted_text").alias("_text"))
            out = (text.join(out.drop("extracted_text"), "url_canon")
                   .withColumnRenamed("_text", "extracted_text"))
        return out

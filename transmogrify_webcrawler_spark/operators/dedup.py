"""URL-seen dedup: partitioned Bloom-shard prefilter + exact anti-join backstop
(SURVEY.md J1/A4 — the core 10^10-scale idea, BASELINE.json north_star).

Upstream [UP webchecker.py Checker.newlink]: ``if url in self.done or url in
self.todo`` — an exact in-RAM dict, O(n) memory, single process. At a 10^10-URL
frontier an exact distributed anti-join shuffles every candidate against every
seen URL. The scale fix: candidates are first probed against SHARDED Bloom
filters (shard = pmod(xxhash64(url), n_shards)); only probable-positives
proceed to the exact ``left_anti`` join that kills false positives. Bloom says
"definitely new" for the overwhelming majority of candidates (crawl frontiers
are mostly-new), so the exact join's build side shrinks by ~1/fpp.

State lives DISTRIBUTED, never on the driver:

- the shard set is a snapshot TABLE (SHARD_SCHEMA rows; fragments appended
  per wave, OR-compacted periodically) — at the design point (1024 shards x
  ~12 MiB = 12.5 GB for 10^10 URLs at 10 bits/key) no single process ever
  holds it;
- the probe is a SHARD-ROUTED cogroup: candidates are shuffled by shard id
  (skinny columns only) and meet exactly the fragments of their own shard —
  each task ORs one shard's fragments and tests its candidates, so an
  executor only ever materializes the shards its candidates hash to;
- fragment build is mapInPandas over new URLs hash-partitioned by shard id
  and sorted on it — one row per shard touched, per-wave cost
  O(|new this wave|), never a seen-set rescan; the OR-merge
  (groupBy(shard_id).applyInPandas) is the DataFrame form of treeAggregate.

Hashing is JVM-side: h1 = xxhash64(url), h2 = xxhash64(1, url) | 1 are
Catalyst columns (whole-stage codegen); Python only does vectorized numpy bit
ops on int64 arrays (double-hashing h_i = h1 + i*h2). Zero false negatives by
construction (property-tested): build and probe derive bits from the SAME
Catalyst hash exprs, so an inserted URL always tests positive — the exact
anti-join only ever sees fewer candidates, never loses one.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, BooleanType, IntegerType, LongType, StructField, StructType,
)

from ..functions.exprcache import ecached

BLOOM_K = 7  # number of hash probes (optimal for ~10 bits/key)

SHARD_SCHEMA = StructType([
    StructField("shard_id", IntegerType()),
    StructField("filter_bytes", BinaryType()),
    StructField("n_items", LongType()),
])


def with_bloom_hashes(df: DataFrame, n_shards: int,
                      col: str = "url_canon",
                      exprs: dict | None = None) -> DataFrame:
    """JVM-side double-hash + shard routing: one source of truth for build
    AND probe (the zero-false-negative invariant hangs on this)."""
    def _build():
        h1 = F.xxhash64(col)
        return {"_h1": h1,
                "_h2": F.xxhash64(F.lit(1), F.col(col)),
                "_sid": F.pmod(h1, F.lit(n_shards)).cast("int")}

    return df.withColumns(
        ecached(exprs, ("bloom_hashes", col, n_shards), _build))


def _np_hashes(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """int64 Catalyst hashes -> uint64 (two's-complement view, exact);
    h2 forced odd for a full double-hashing cycle."""
    h1 = pdf["_h1"].to_numpy(dtype=np.int64).view(np.uint64)
    h2 = pdf["_h2"].to_numpy(dtype=np.int64).view(np.uint64) | np.uint64(1)
    return h1, h2


def _set_bits(bits: np.ndarray, h1: np.ndarray, h2: np.ndarray) -> None:
    m = np.uint64(bits.size * 8)
    for k in range(BLOOM_K):
        idx = (h1 + np.uint64(k) * h2) % m
        np.bitwise_or.at(bits, (idx // 8).astype(np.int64),
                         (1 << (idx % 8)).astype(np.uint8))


def _test_bits(bits: np.ndarray, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    m = np.uint64(bits.size * 8)
    out = np.ones(len(h1), dtype=bool)
    for k in range(BLOOM_K):
        idx = (h1 + np.uint64(k) * h2) % m
        out &= (bits[(idx // 8).astype(np.int64)]
                >> (idx % 8).astype(np.uint8)) & 1 == 1
    return out


def build_bloom_fragments(urls: DataFrame, n_shards: int, nbytes: int,
                          col: str = "url_canon",
                          exprs: dict | None = None) -> DataFrame:
    """One fixed-size fragment row per shard touched, built distributed.

    The skinny (sid + two int64s) shuffle is by column, not by count, so AQE
    sizes the stage from the data: the number of Python tasks follows the
    input size, not ``n_shards``. That matters because each Python task has
    a fixed cost of its own (~0.2 CPU-s measured on 4 vCPUs, PySpark 4.1,
    Python 3.11, mostly worker set-up), which at 32 tasks a wave outweighed
    the bit work on a few thousand URLs. Coalesced partitions hold several shards, so rows are
    sorted on the shard id and ``build`` streams them: it keeps one open
    shard bitmap (carried across Arrow batch boundaries) and yields it when
    the shard id changes. A task therefore holds one shard's bits at a time.
    """
    hashed = (with_bloom_hashes(urls.select(col), n_shards, col, exprs)
              .select("_sid", "_h1", "_h2")
              .repartition("_sid").sortWithinPartitions("_sid"))

    def fragment(sid, bits, n):
        return pd.DataFrame({"shard_id": [sid],
                             "filter_bytes": [bits.tobytes()],
                             "n_items": [n]})

    def build(pdfs):
        sid, bits, n = None, None, 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            sids = pdf["_sid"].to_numpy()
            h1, h2 = _np_hashes(pdf)
            cuts = np.flatnonzero(np.diff(sids)) + 1
            for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, len(sids)]):
                if sids[lo] != sid:
                    if bits is not None:
                        yield fragment(sid, bits, n)
                    sid, bits, n = int(sids[lo]), np.zeros(nbytes, np.uint8), 0
                _set_bits(bits, h1[lo:hi], h2[lo:hi])
                n += int(hi - lo)
        if bits is not None:
            yield fragment(sid, bits, n)

    return hashed.mapInPandas(build, SHARD_SCHEMA)


def merge_bloom_fragments(fragments: DataFrame, nbytes: int) -> DataFrame:
    """Compaction: OR all fragments of a shard into one row —
    groupBy(shard_id).applyInPandas, the DataFrame treeAggregate(OR)."""

    def merge(key, pdf):
        acc = np.zeros(nbytes, dtype=np.uint8)
        for b in pdf["filter_bytes"]:
            frag = np.frombuffer(b, dtype=np.uint8)
            if frag.size == acc.size:  # size-mismatched fragments are stale
                acc |= frag            # config state — rebuilt by the caller
        return pd.DataFrame({
            "shard_id": [key[0]],
            "filter_bytes": [acc.tobytes()],
            "n_items": [int(pdf["n_items"].sum())],
        })

    return fragments.groupBy("shard_id").applyInPandas(merge, SHARD_SCHEMA)


def build_bloom_shards(seen: DataFrame, n_shards: int,
                       nbytes: int | None = None, bits_per_key: int = 10,
                       col: str = "url_canon") -> DataFrame:
    """A4 full (re)build: fragments + compaction in one plan. Used at
    bootstrap-from-existing-seen and when resume finds the shard table's
    parameters diverged from the config (the blob-validation rule)."""
    if nbytes is None:
        n = seen.count()
        per_shard = max(n // max(n_shards, 1), 1024)
        nbytes = max((per_shard * bits_per_key + 7) // 8, 64)
    return merge_bloom_fragments(
        build_bloom_fragments(seen, n_shards, nbytes, col), nbytes)


def bloom_probe(candidates: DataFrame, shards: DataFrame, n_shards: int,
                nbytes: int, col: str = "url_canon",
                exprs: dict | None = None) -> DataFrame:
    """Shard-routed probe: cogroup(candidates by shard id, fragments by
    shard id) — each task receives one shard's candidate rows AND exactly
    that shard's fragments, ORs the fragments, tests vectorized. Adds
    boolean ``_maybe_seen``. A shard with no fragments (or none at all, the
    bootstrap wave) probes everything 'definitely new'."""
    # candidates.schema is a JVM round trip; within one crawler run the
    # candidate shape is fixed, so the exprs cache (owned by the caller)
    # may pin it — callers with varying candidate shapes pass exprs=None
    out_schema, cand_cols = ecached(
        exprs, "bloom_probe_schema",
        lambda: (StructType(list(candidates.schema.fields)
                            + [StructField("_maybe_seen", BooleanType())]),
                 [f.name for f in candidates.schema.fields]))
    hashed = with_bloom_hashes(candidates, n_shards, col, exprs)

    def probe(key, cdf, sdf):
        flags = np.zeros(len(cdf), dtype=bool)
        if len(sdf):
            acc = np.zeros(nbytes, dtype=np.uint8)
            for b in sdf["filter_bytes"]:
                frag = np.frombuffer(b, dtype=np.uint8)
                if frag.size != acc.size:
                    # inside the PROBE, state is supposed to be validated
                    # (bloom_params manifest check) — a mismatched fragment
                    # here is a latent state bug, and silently skipping it
                    # would turn into false negatives (seen URLs re-crawled,
                    # duplicate emission). Fail loud; only the COMPACTION
                    # path (merge_bloom_fragments) tolerates stale sizes.
                    raise ValueError(
                        f"bloom shard {key[0]}: fragment of {frag.size} B "
                        f"!= configured {acc.size} B — shard table/state "
                        "mismatch; rebuild the shard table")
                acc |= frag
            h1, h2 = _np_hashes(cdf)
            flags = _test_bits(acc, h1, h2)
        out = cdf[cand_cols].copy()
        out["_maybe_seen"] = flags
        return out

    return hashed.groupBy("_sid").cogroup(
        shards.groupBy("shard_id")).applyInPandas(probe, out_schema)


def seen_anti_join(candidates: DataFrame, seen: DataFrame,
                   col: str = "url_canon") -> DataFrame:
    """J1 exact backstop: left_anti against the seen table. At scale the
    candidates side arrives pre-filtered by the Bloom probe."""
    return candidates.join(seen.select(col), on=col, how="left_anti")

#!/usr/bin/env python
"""Builder-side mirror of the driver's correctness gate, with a
DTYPE-STRICT value hash (the driver's comparator distinguishes 475.0 from
475 — CORRECTNESS_r05's red family — while tests/test_harness_oracle.py
compares with check_dtype=False, so this tool is the one that can verify
the float64/int64 alignment fixes).

Runs every harness query with an oracle at $SELFCHECK_SF_DIR (default
sf0.01) via Spark AND DuckDB, compares rows + schema + an
order-insensitive hash of the stringified materialized values, and writes
SELFCHECK_r06.json in the driver's row format. Rows-only keys get a
rows>0 smoke entry.

Usage: python selfcheck.py [key ...]   (no args = all keys)
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SELFCHECK_SF_DIR", "/root/testdata/sf0.01")
OUT = os.environ.get("SELFCHECK_OUT", "SELFCHECK_r06.json")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _value_hash(pdf) -> str:
    """Order-insensitive, dtype-sensitive: stringify every cell with repr
    (so 475.0 != 475), sort the row strings, hash."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "|".join(repr(v) for v in rec)
        for rec in pdf[cols].itertuples(index=False, name=None)
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def _norm(pdf):
    # normalize engine-independent representation differences the driver
    # also has to tolerate (timestamps come back as different objects)
    out = pdf.copy()
    for c in out.columns:
        dt = str(out[c].dtype)
        if "datetime" in dt:
            out[c] = out[c].astype(str)
        elif out[c].dtype == object:
            out[c] = out[c].apply(
                lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else v)
    return out


def main():
    import duckdb
    from bench import build_spark
    from transmogrify_webcrawler_spark import harness

    only = set(sys.argv[1:])
    spark = build_spark(int(os.environ.get("SPARK_GRAFT_CPUS")
                            or len(os.sched_getaffinity(0))))
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    qs, oracles = harness.queries(), harness.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name == "crawl_mini" and not only:
            continue  # exercised by the byte-identity pytest, minutes-long
        try:
            if name in oracles:
                got = _norm(fn(spark, SF_DIR).toPandas())
                want = _norm(con.sql(oracles[name]).df())
                res = {
                    "rows_match": len(got) == len(want),
                    "schema_match":
                        sorted(got.columns) == sorted(want.columns),
                    "hash_match": _value_hash(got) == _value_hash(want),
                    "spark_rows": len(got), "oracle_rows": len(want),
                    "err": None,
                }
                if not res["hash_match"] and res["rows_match"]:
                    # record WHERE it diverges (dtype vs values)
                    res["spark_dtypes"] = {c: str(t) for c, t
                                           in got.dtypes.items()}
                    res["oracle_dtypes"] = {c: str(t) for c, t
                                            in want.dtypes.items()}
            else:
                n = fn(spark, SF_DIR).count()
                res = {"rows_only": True, "spark_rows": n,
                       "nonzero": n > 0, "err": None}
        except Exception as e:  # noqa: BLE001 — recorded, not swallowed
            res = {"err": f"{type(e).__name__}: {e}"[:500]}
        results[name] = res
        ok = res.get("hash_match", res.get("nonzero"))
        print(f"{name}: {'OK' if ok else 'RED'} {res.get('err') or ''}",
              file=sys.stderr)
        spark.catalog.clearCache()
    with open(OUT, "w") as f:
        json.dump(results, f, indent=1)
    bad = [k for k, v in results.items()
           if v.get("err") or not v.get("hash_match",
                                        v.get("nonzero", True))]
    print(json.dumps({"keys": len(results), "red": bad}))
    spark.stop()


if __name__ == "__main__":
    main()

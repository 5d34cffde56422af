#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at the given sf dir, then compares
row count, column names, and an order-insensitive value hash
(columns sorted by name, rows sorted, values stringified).

Usage: python3 scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v) -> str:
    # Deliberately dtype-strict: a DuckDB HUGEINT/DECIMAL that pandas
    # renders as 123.0 must NOT hash equal to Spark's LongType 123 —
    # the external driver distinguishes them, so the local gate must
    # too (round-1 verdict: collapsing int-valued floats here masked
    # five driver hash-fails). Fix mismatches by CASTing the oracle,
    # never by loosening this function.
    import math

    if v is None:
        return ""
    if isinstance(v, float):
        if math.isnan(v):
            return ""
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if type(v).__module__ == "numpy" and getattr(v, "ndim", 0) > 0:
        # DuckDB list columns come back as numpy arrays; normalize to
        # the same form as Spark's Python lists
        return norm_cell(v.tolist())
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def frame_hash(pdf) -> str:
    cols = sorted(pdf.columns)
    rows = [
        "\x1f".join(norm_cell(row[c]) for c in cols)
        for _, row in pdf[cols].iterrows()
    ]
    rows.sort()
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def compare(sdf, odf) -> list:
    """Problems found comparing an entry's Spark output with its oracle's
    (both pandas): row count, column names, then the value hash, with a
    few differing rows as a sample. Empty when they match."""
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount {len(sdf)} != {len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns {sorted(sdf.columns)} != {sorted(odf.columns)}")
    if problems:
        return problems
    hs, ho = frame_hash(sdf), frame_hash(odf)
    if hs != ho:
        problems.append(f"value hash {hs[:12]} != {ho[:12]}")
        cols = sorted(sdf.columns)
        a, b = (
            sorted(df[cols].astype(str).apply(lambda r: "|".join(r), axis=1))
            for df in (sdf, odf)
        )
        for x, y in [(x, y) for x, y in zip(a, b) if x != y][:3]:
            problems.append(f"  spark: {x[:160]}")
            problems.append(f"  duck : {y[:160]}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from spark_eventhubs_spark.session import build_session

    spark = build_session("check-oracle", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle — rows-only) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = compare(sdf, odf)
        status = "OK  " if not problems else "FAIL"
        if problems:
            failures += 1
        print(f"{status}  {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]"
              + ("" if not problems else "\n      " + "\n      ".join(problems)))
    spark.stop()
    print("RESULT:", "PASS" if failures == 0 else f"{failures} FAILURES")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

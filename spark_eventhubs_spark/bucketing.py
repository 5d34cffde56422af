"""Bucketed materialization — the co-located join path at 100 TB.

SURVEY §8 notes that the one remaining big shuffle in the TPC-H-shaped
joins (lineitem ⋈ orders on orderkey) disappears if both tables are
bucketed by the join key at ingest. This module materializes that
layout and is pinned by a test asserting the bucketed join plans with
NO Exchange on either side — the concrete 100 TB story:

    ingest once:   materialize_bucketed(spark, sf_dir, workdir)
    every query:   fact-fact joins on orderkey are shuffle-free

Bucket counts must match on both sides; Spark then treats bucket id as
the partitioning and sorts within buckets at write, so the join needs
neither Exchange nor (with sorted buckets) Sort.
"""

from __future__ import annotations

import os
import re
from spark_eventhubs_spark import workdirs

from pyspark.sql import DataFrame, SparkSession

DEFAULT_BUCKETS = 8

# Auto-sizing for the PageRank edge artifact (round-9: the fixed
# 8-bucket layout capped every steady-state iteration at 8 scan+join
# tasks — measured 15.4 s median at 30x data vs 9.5 s with 64 buckets
# on the same corpus, NOTES_r09.md item 3; re-measure with
# ``scripts/probe.py graph_copurchase_pagerank`` on a replica — the
# same fixed-parameter-breaks-linearity class as semdedup's fixed k).
# Bucket SIZE is the constant, bucket COUNT scales: the target holds
# per-bucket edge rows ~1.5M. Edge cardinality is estimated from the
# lineitem row count (distinct co-purchase pairs per row are bounded
# by parts-per-order, ~4x on the TPC-H shape), so the oracle-checked
# sfs (<= sf0.1, ~2.4M edges) keep exactly the historical 8 buckets.
EDGE_ROWS_PER_BUCKET = 1_500_000
EDGES_PER_LINEITEM_ROW = 4
MAX_EDGE_BUCKETS = 256


def auto_edge_buckets(li_rows: int) -> int:
    """Smallest power-of-two bucket count (floor 8, cap 256) holding
    estimated per-bucket edges <= EDGE_ROWS_PER_BUCKET."""
    est = li_rows * EDGES_PER_LINEITEM_ROW
    b = DEFAULT_BUCKETS
    while b < MAX_EDGE_BUCKETS and est > b * EDGE_ROWS_PER_BUCKET:
        b *= 2
    return b


_FACT_KEYS = {"lineitem": "l_orderkey", "orders": "o_orderkey"}

# (applicationId, table_name) -> scratch location backing the table.
# The ensure_* idempotency checks validate the DIRECTORY, not just the
# catalog entry: a mid-process workdirs.sweep() reclaims scratch trees
# while the catalog still lists the table, and reusing it would
# silently return empty scans — re-materializing at a fresh location
# self-heals instead (same pattern as layout._ZCACHE).
_TABLE_DIRS: dict = {}


def _table_alive(spark: SparkSession, tbl: str) -> bool:
    if not spark.catalog.tableExists(tbl):
        return False
    loc = _TABLE_DIRS.get((spark.sparkContext.applicationId, tbl))
    return loc is not None and os.path.isdir(loc)


def _drop_stale_plans(spark: SparkSession, tables) -> None:
    """Before re-materializing over a swept table, drop the session's
    memoized DataFrame plans: a cached plan has already resolved the
    old table's file listing and would keep scanning deleted files."""
    if any(spark.catalog.tableExists(t) for t in tables):
        from spark_eventhubs_spark.plans.hubview import clear_cached_plans

        clear_cached_plans(spark)


def ensure_bucketed(
    spark: SparkSession, sf_dir: str, n_buckets: int = DEFAULT_BUCKETS
) -> dict:
    """Idempotent per-(session, sf_dir) bucketed ingest: materialize
    the orderkey-bucketed fact layout once, then reuse the registered
    catalog tables on every later call. This is the ingest-once /
    query-many contract the 100 TB layout relies on (SURVEY §8 row
    "TPC-H joins") — the catalog query ``bucketed_order_revenue``
    routes through here so the co-located path is exercised
    end-to-end, not just in isolation."""
    # Key the idempotency on the FULL path and bucket count, not just
    # the directory basename: two corpora named sf0.01 in different
    # locations (or a re-request with a different n_buckets) must not
    # silently reuse each other's tables.
    import hashlib

    abspath = os.path.abspath(os.path.normpath(sf_dir))
    fp = hashlib.md5(abspath.encode()).hexdigest()[:8]
    base = re.sub(r"[^A-Za-z0-9]", "_", os.path.basename(abspath))
    tag = f"{base}_{fp}_b{n_buckets}"
    out = {name: f"bkt_{tag}_{name}" for name in _FACT_KEYS}
    if all(_table_alive(spark, t) for t in out.values()):
        return out
    _drop_stale_plans(spark, out.values())
    # a FRESH directory per materialization: within a session the
    # catalog check above short-circuits, and a fixed shared path
    # would let two concurrent sessions overwrite files the other's
    # registered tables are still reading
    location = workdirs.scratch_dir(f"seh_bucketed_{tag}_")
    return materialize_bucketed(
        spark,
        sf_dir,
        location,
        n_buckets=n_buckets,
        tables=_FACT_KEYS,
        names=out,
    )


def materialize_bucketed(
    spark: SparkSession,
    sf_dir: str,
    location: str,
    n_buckets: int = DEFAULT_BUCKETS,
    tables: dict | None = None,
    names: dict | None = None,
) -> dict:
    """Write orderkey-bucketed copies of the fact tables as external
    tables; returns {table_name: qualified_name}. Idempotent per
    location (overwrites)."""
    tables = tables or dict(_FACT_KEYS)
    out = {}
    for name, key in tables.items():
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        tbl = (names or {}).get(name, f"bkt_{name}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            df.write.format("parquet")
            .option("path", f"{location}/{tbl}")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .mode("overwrite")
            .saveAsTable(tbl)
        )
        _TABLE_DIRS[(spark.sparkContext.applicationId, tbl)] = location
        out[name] = tbl
    return out


def ensure_copurchase_edges(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int | None = None,
    location: str | None = None,
) -> str:
    """Idempotent per-(session, sf_dir): materialize the co-purchase
    PageRank edge artifact ``(src, dst, deg)`` bucketed + sorted by
    ``src`` as an external table; returns the table name. This is the
    100 TB layout the graph module's docstring promises: with the edge
    side bucketed on the iteration join key, every PageRank iteration
    plans with NO Exchange on the |edges|-row side — only the
    |nodes|-row ranks frame shuffles (pinned in
    tests/test_graph.py). STEPUP_r09.json records this ingest's
    medians separately from the steady-state iterations'.

    ``n_buckets=None`` (default) derives the count from the corpus via
    :func:`auto_edge_buckets` — a bucketed scan plans exactly one task
    per bucket, so a FIXED count caps iteration parallelism no matter
    how many executors exist; pass an explicit count to pin it."""
    import hashlib

    from spark_eventhubs_spark.operators.graph import (
        copurchase_edge_artifact,
    )

    if n_buckets is None:
        # metadata-only row count: the parquet footer's num_rows is
        # exact, so no Spark count() job runs on the steady-state
        # (already-materialized) path (r13; Spark fallback for
        # multi-file layouts)
        try:
            import pyarrow.parquet as _pq

            n_rows = int(
                _pq.ParquetFile(f"{sf_dir}/lineitem.parquet").metadata.num_rows
            )
        except Exception:
            n_rows = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
        n_buckets = auto_edge_buckets(n_rows)
    abspath = os.path.abspath(os.path.normpath(sf_dir))
    fp = hashlib.md5(abspath.encode()).hexdigest()[:8]
    base = re.sub(r"[^A-Za-z0-9]", "_", os.path.basename(abspath))
    tbl = f"bkt_{base}_{fp}_b{n_buckets}_copurchase_edges"
    if _table_alive(spark, tbl):
        return tbl
    _drop_stale_plans(spark, [tbl])
    # callers that manage their own workdir (e.g. the step-up sweep,
    # which must not leak one edge tree per scale level into /tmp)
    # pass an explicit location; default is a fresh tempdir like
    # ensure_bucketed
    if location is None:
        location = workdirs.scratch_dir(f"seh_bucketed_{tbl}_")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        copurchase_edge_artifact(li)
        .write.format("parquet")
        .option("path", f"{location}/{tbl}")
        .bucketBy(n_buckets, "src")
        .sortBy("src")
        .mode("overwrite")
        .saveAsTable(tbl)
    )
    _TABLE_DIRS[(spark.sparkContext.applicationId, tbl)] = location
    return tbl


def bucketed_join(spark: SparkSession, tables: dict) -> DataFrame:
    """The Q3-shaped fact-fact join over the bucketed layout: revenue
    per order. With matching bucket counts this plans with zero
    Exchange operators (asserted in tests/test_bucketing.py)."""
    from pyspark.sql import functions as F

    li = spark.table(tables["lineitem"])
    o = spark.table(tables["orders"])
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("bigint")
            ).alias("revenue_c")
        )
    )

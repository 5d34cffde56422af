"""Bucketed co-located join: the 100 TB shuffle-elimination story must
be real — the fact-fact join over the bucketed layout plans with no
Exchange on the join inputs."""

import io
import shutil
import tempfile
from contextlib import redirect_stdout

import pytest

from spark_eventhubs_spark.bucketing import bucketed_join, materialize_bucketed

from conftest import SF_DIR


@pytest.fixture(scope="module")
def bucketed(spark):
    work = tempfile.mkdtemp(prefix="bkt_")
    tables = materialize_bucketed(spark, SF_DIR, work)
    yield tables
    for t in tables.values():
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    shutil.rmtree(work, ignore_errors=True)


def _explain(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_bucketed_join_has_no_exchange(spark, bucketed):
    # disable auto-broadcast so the plan shows the co-located fact-fact
    # path a 100 TB orders table would take (at test sf it broadcasts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bucketed_join(spark, bucketed)
        plan = _explain(df, "simple")
        assert "SortMergeJoin" in plan
        # bucket layout == join partitioning: NO shuffle anywhere —
        # neither for the join nor for the groupBy on the same key
        assert "Exchange" not in plan
        assert "Bucketed: true" in _explain(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_matches_unbucketed(spark, bucketed):
    from pyspark.sql import functions as F

    got = {
        r["o_orderkey"]: r["revenue_c"]
        for r in bucketed_join(spark, bucketed).collect()
    }
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    want = {
        r["o_orderkey"]: r["revenue_c"]
        for r in li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("bigint")
            ).alias("revenue_c")
        )
        .collect()
    }
    assert got == want


def test_auto_edge_buckets_scales_with_corpus():
    """The edge artifact's bucket count derives from corpus size (a
    fixed count caps every PageRank iteration at n_buckets tasks:
    measured 15.4 s -> 9.5 s at 30x data moving 8 -> 64 buckets,
    NOTES_r09.md item 3). Floor 8 keeps every
    oracle-checked sf (<= sf0.1, ~600k lineitem rows) on the
    historical layout; growth is power-of-two with per-bucket edge
    rows bounded by EDGE_ROWS_PER_BUCKET; cap 256."""
    from spark_eventhubs_spark.bucketing import (
        EDGE_ROWS_PER_BUCKET,
        EDGES_PER_LINEITEM_ROW,
        auto_edge_buckets,
    )

    assert auto_edge_buckets(0) == 8
    assert auto_edge_buckets(600_000) == 8      # sf0.1
    assert auto_edge_buckets(6_000_000) == 16   # 10x replica
    assert auto_edge_buckets(18_000_000) == 64  # 30x replica
    assert auto_edge_buckets(10**10) == 256     # capped
    for rows in (1, 10**5, 10**6, 10**7, 10**8):
        b = auto_edge_buckets(rows)
        assert b & (b - 1) == 0 and 8 <= b <= 256
        est = rows * EDGES_PER_LINEITEM_ROW
        assert b == 256 or est <= b * EDGE_ROWS_PER_BUCKET

"""Salted aggregation must be bit-equal to the direct groupBy and must
actually shard hot keys in phase 1."""

from pyspark.sql import functions as F

from spark_eventhubs_spark.functions.skew import salted_agg
from spark_eventhubs_spark.plans.hubview import load_hub_flat

from conftest import SF_DIR


def test_salted_equals_direct(spark):
    hub = load_hub_flat(spark, SF_DIR)
    direct = {
        r["user_id_str"]: (r["n"], r["s"])
        for r in hub.groupBy("user_id_str")
        .agg(F.count("*").alias("n"), F.sum("value_cents").alias("s"))
        .collect()
    }
    salted = {
        r["user_id_str"]: (r["n_events"], r["total_value_c"])
        for r in salted_agg(
            hub,
            keys=["user_id_str"],
            aggs=[("count", F.lit(1), "n_events"),
                  ("sum", F.col("value_cents"), "total_value_c")],
            salt_col=F.col("sequenceNumber"),
        ).collect()
    }
    assert salted == direct


def test_phase1_shards_hot_key(spark):
    hub = load_hub_flat(spark, SF_DIR)
    hot = (
        hub.groupBy("user_id_str").count().orderBy(F.desc("count")).first()
    )
    shards = (
        hub.where(F.col("user_id_str") == hot["user_id_str"])
        .groupBy(F.pmod(F.hash("sequenceNumber"), F.lit(16)))
        .count()
        .count()
    )
    assert shards > 1  # the hottest key splits across salt shards


def test_non_algebraic_rejected(spark):
    import pytest

    hub = load_hub_flat(spark, SF_DIR)
    with pytest.raises(ValueError, match="non-algebraic"):
        salted_agg(hub, ["user_id_str"], [("avg", F.col("value_cents"), "a")],
                   F.col("sequenceNumber"))


def test_aqe_splits_skewed_join_partition(spark):
    """The engine's other skew lever: AQE skew-join splits an oversized
    join partition at runtime (OptimizeSkewedJoin). Pinned so a config
    regression (AQE off, thresholds broken) is caught — salting
    (above) covers aggregations, AQE covers joins."""
    import io
    from contextlib import redirect_stdout

    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
    )}
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(2_000_000).select(
            F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id")).alias("k"),
            F.lit("x" * 64).alias("pad"),
        )
        right = spark.range(200_000).select(F.col("id").alias("k"), F.lit("y").alias("v"))
        j = left.join(right, "k").select(F.sum(F.length("pad")).alias("s"))
        j.collect()  # AQE finalizes the plan at execution
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("simple")
        plan = buf.getvalue()
        assert "skew=true" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_scd2_hot_user_enrich_join(spark):
    """The §8 skew story for the SCD2/funnel user-key family, pinned on
    the REAL topology (NOTES_r06.md records the measured 20M-row
    hot-user runs): one user holds 10% of events; the SCD2 window
    runs (per-key sequential scan — not splittable by design), and the
    downstream current-state enrich join's oversized probe partition IS
    split by AQE. Thresholds are scaled down because skew stats are
    compressed shuffle bytes."""
    import io
    from contextlib import redirect_stdout

    from spark_eventhubs_spark.queries import scd2_compact

    n = 1_000_000
    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.autoBroadcastJoinThreshold",
    )}
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            str(n // 4))
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                       str(n // 8))
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        skewed = spark.range(n).select(
            F.when(F.col("id") % 10 == 0, F.lit("hot_user"))
            .otherwise((F.col("id") % 50_000).cast("string"))
            .alias("user_id_str"),
            F.element_at(
                F.array(F.lit("a"), F.lit("b"), F.lit("c")),
                (F.pmod(F.xxhash64("id"), F.lit(3)) + 1).cast("int"),
            ).alias("event_type"),
            (F.lit(1_700_000_000_000_000) + F.col("id") * 50_000).alias("enq_us"),
            F.col("id").alias("sequenceNumber"),
        )
        current = scd2_compact(skewed).where(
            F.col("valid_to_us").isNull()
        ).select("user_id_str", "state").localCheckpoint(eager=True)
        j = (
            skewed.join(current, "user_id_str")
            .groupBy("state")
            .agg(F.count("*").alias("cnt"), F.sum("sequenceNumber").alias("s"))
        )
        rows = j.collect()
        assert len(rows) == 3
        # exactly-once despite the split: counts total the input
        assert sum(r["cnt"] for r in rows) == n
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("simple")
        assert "skew=true" in buf.getvalue()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

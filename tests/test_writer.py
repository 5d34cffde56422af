"""Write-path tests — modeled on EventHubsSinkSuite (SURVEY §5 tier 5):
round trips, partition pinning, save-mode rejection, schema errors,
batchId idempotence, all through ``write_eventhubs`` and the
``format("eventhubs")`` sink it wraps."""

import os

import pytest
from pyspark.sql import functions as F

from spark_eventhubs_spark.conf import EventHubsConf
from spark_eventhubs_spark.connstr import file_hub_connection_string
from spark_eventhubs_spark.sources.datasource import read_eventhubs, write_eventhubs


@pytest.fixture()
def out_hub(tmp_path):
    return EventHubsConf(file_hub_connection_string(str(tmp_path), "hub"))


def test_body_only_roundtrip(spark, out_hub):
    # EventHubsSinkSuite.scala:93-106
    df = spark.range(0, 20).select(F.col("id").cast("string").alias("body"))
    n = write_eventhubs(df, out_hub)
    assert n == 20
    back = read_eventhubs(spark, out_hub)
    assert back.count() == 20
    got = sorted(r["body"].decode() for r in back.select("body").collect())
    assert got == sorted(str(i) for i in range(20))


def test_pinned_partition(spark, out_hub):
    # EventHubsSinkSuite.scala:108-124
    df = spark.range(0, 10).select(
        F.lit("2").alias("partition"), F.col("id").cast("string").alias("body")
    )
    write_eventhubs(df, out_hub)
    back = read_eventhubs(spark, out_hub)
    parts = back.select("partition").distinct().collect()
    assert [r["partition"] for r in parts] == ["2"]
    seqs = sorted(r["sequenceNumber"] for r in back.select("sequenceNumber").collect())
    assert seqs == list(range(10))  # dense from 0


def test_seqnos_continue_after_second_write(spark, out_hub):
    df = spark.range(0, 4).select(
        F.lit("1").alias("partition"), F.col("id").cast("string").alias("body")
    )
    write_eventhubs(df, out_hub)
    write_eventhubs(df, out_hub)
    seqs = sorted(
        r["sequenceNumber"]
        for r in read_eventhubs(spark, out_hub).select("sequenceNumber").collect()
    )
    assert seqs == list(range(8))


def test_partition_key_routing_deterministic(spark, out_hub):
    df = spark.createDataFrame(
        [("a", "x")] * 5 + [("b", "y")] * 5, "body string, partitionKey string"
    )
    write_eventhubs(df, out_hub)
    rows = read_eventhubs(spark, out_hub).select("partitionKey", "partition").distinct().collect()
    routes = {r["partitionKey"]: r["partition"] for r in rows}
    assert len(routes) == 2  # each key maps to exactly one partition


def test_write_eventhubs_routes_and_lays_out_like_the_datasource(spark, tmp_path):
    """One routing rule and one layout: the same keyed rows land on the
    same partition through write_eventhubs and through
    df.write.format("eventhubs"), and format("eventhubs") reads back
    everything write_eventhubs wrote."""
    keys = [f"key-{i}" for i in range(8)]
    df = spark.createDataFrame([(k, k) for k in keys], "body string, partitionKey string")
    conf = EventHubsConf(file_hub_connection_string(str(tmp_path), "a"))
    assert write_eventhubs(df, conf) == 8
    df.write.format("eventhubs").mode("append").option("path", str(tmp_path / "b")).save()

    def routes(hub):
        rows = spark.read.format("eventhubs").option("path", hub).load().collect()
        assert sorted(r["body"].decode() for r in rows) == keys
        return {r["partitionKey"]: r["partition"] for r in rows}

    assert routes(str(tmp_path / "a")) == routes(str(tmp_path / "b"))


def test_properties_roundtrip(spark, out_hub):
    # EventHubsSinkSuite.scala:237-318
    df = spark.range(0, 3).select(
        F.col("id").cast("string").alias("body"),
        F.create_map(F.lit("k1"), F.lit("v1")).alias("properties"),
    )
    write_eventhubs(df, out_hub)
    props = read_eventhubs(spark, out_hub).select("properties").collect()
    assert len(props) == 3 and all(r["properties"] == {"k1": "v1"} for r in props)


def test_save_mode_rejection(spark, out_hub):
    # EventHubsSourceProvider.scala:108-141
    df = spark.range(1).select(F.lit("x").alias("body"))
    with pytest.raises(Exception, match="Append"):
        df.write.format("eventhubs").mode("overwrite").options(**out_hub.to_map()).save()


def test_schema_errors(spark, out_hub):
    # EventHubsSinkSuite.scala:320-468
    with pytest.raises(Exception, match="'body' not found"):
        write_eventhubs(spark.range(1).select(F.lit("p").alias("partition")), out_hub)
    with pytest.raises(Exception, match="string or binary"):
        write_eventhubs(spark.range(1).select(F.col("id").alias("body")), out_hub)
    with pytest.raises(Exception, match="'partition' must be string"):
        write_eventhubs(
            spark.range(1).select(F.lit("x").alias("body"), F.col("id").alias("partition")),
            out_hub,
        )
    with pytest.raises(Exception, match="'partitionKey' must be string"):
        write_eventhubs(
            spark.range(1).select(F.lit("x").alias("body"), F.col("id").alias("partitionKey")),
            out_hub,
        )
    with pytest.raises(Exception, match="mutually exclusive"):
        write_eventhubs(
            spark.range(1).select(
                F.lit("x").alias("body"),
                F.lit("0").alias("partition"),
                F.lit("k").alias("partitionKey"),
            ),
            out_hub,
        )


def test_batchid_idempotence(spark, out_hub):
    # EventHubsSink.scala:35-42 — redelivered batch skipped by batchId
    df = spark.range(0, 5).select(F.col("id").cast("string").alias("body"))
    assert write_eventhubs(df, out_hub, batch_id=7) == 5
    assert write_eventhubs(df, out_hub, batch_id=7) == 0
    assert read_eventhubs(spark, out_hub).count() == 5


def test_to_json_struct_body(spark, out_hub):
    # EventHubsSinkSuite.scala:158-172
    df = spark.range(1, 100).select(F.to_json(F.struct("*")).alias("body"))
    assert write_eventhubs(df, out_hub) == 99


def test_writer_crash_window_contract_is_at_least_once(spark, out_hub, tmp_path):
    """Fault injection on the write-then-marker protocol. The data lands
    BEFORE the ``_batch_commits/<id>`` marker, so a crash in between
    makes the redelivered batch write again — duplicates, i.e.
    AT-LEAST-ONCE, exactly the reference sink's documented contract
    (EventHubsSink provides no transactional dedup;
    EventHubsSink.scala:35-42 only skips batches whose marker survived).
    A crash AFTER the marker is exactly-once on redelivery. Both sides
    pinned."""
    df = spark.range(0, 6).select(F.col("id").cast("string").alias("body"))
    assert write_eventhubs(df, out_hub, batch_id=3) == 6
    # crash window: data committed, marker lost
    marker = os.path.join(str(tmp_path), "hub", "_batch_commits", "3")
    assert os.path.exists(marker)
    os.remove(marker)
    assert write_eventhubs(df, out_hub, batch_id=3) == 6  # re-writes
    back = read_eventhubs(spark, out_hub)
    assert back.count() == 12  # at-least-once duplicates
    # seqNos stay gapless and strictly ordered per partition even
    # across the duplicate write (continuation from current latest)
    by_part = {}
    for r in back.select("partition", "sequenceNumber").collect():
        by_part.setdefault(r["partition"], []).append(r["sequenceNumber"])
    for pid, seqs in by_part.items():
        assert sorted(seqs) == list(range(len(seqs))), (pid, seqs)
    # crash after marker: redelivery is exactly-once
    assert write_eventhubs(df, out_hub, batch_id=3) == 0
    assert read_eventhubs(spark, out_hub).count() == 12

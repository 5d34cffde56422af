"""Hub view, position translation and batch relation tests — modeled
on the reference's EventHubsRelationSuite + EventHubsRDDSuite +
SimulatedClient.scala behaviors (SURVEY §5 tiers 1, 4, 6), over a
materialized hub read through ``format("eventhubs")``."""

import logging
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from spark_eventhubs_spark.conf import EventHubsConf
from spark_eventhubs_spark.connstr import file_hub_connection_string
from spark_eventhubs_spark.plans.hubview import EVENT_HUBS_SCHEMA, load_hub
from spark_eventhubs_spark.position import EventPosition
from spark_eventhubs_spark.sources.datasource import (
    EventHubsBatchReader,
    _plan_range_partitions,
    _resolve_positions,
    hub_bounds,
    materialize_hub,
    read_eventhubs,
    truncate_hub_log,
)


@pytest.fixture(scope="module")
def hub_root(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("hubroot"))
    materialize_hub(spark, sf_dir, f"{root}/events")
    return root


@pytest.fixture(scope="module")
def hub(hub_root):
    return f"{hub_root}/events"


@pytest.fixture(scope="module")
def bounds(hub):
    return hub_bounds(hub)


def conf_for(hub_root):
    return EventHubsConf(file_hub_connection_string(hub_root, "events"))


def _names_types(schema):
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def test_hub_schema_is_canonical(spark, sf_dir):
    # view mode over the raw events table: the fixed 9-col schema
    # (EventHubsSourceProvider.scala:152-165); nullability flags are
    # Catalyst-inferred, so compare names + types
    assert _names_types(load_hub(spark, sf_dir).schema) == _names_types(EVENT_HUBS_SCHEMA)


def test_seqnos_dense_per_partition(spark, sf_dir):
    # dense, zero-based, gap-free — EventHubsRDDSuite.scala:100-118
    rows = (
        load_hub(spark, sf_dir)
        .groupBy("partition")
        .agg(
            F.min("sequenceNumber").alias("lo"),
            F.max("sequenceNumber").alias("hi"),
            F.count("*").alias("n"),
            F.countDistinct("sequenceNumber").alias("nd"),
        )
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r["lo"] == 0
        assert r["n"] == r["nd"] == r["hi"] + 1


def test_bounded_seq_nos_latest_is_last_plus_one(spark, hub_root, bounds):
    total = sum(hi - lo for lo, hi in bounds.values())
    assert total == read_eventhubs(spark, conf_for(hub_root)).count()


def test_translate_start_end_sentinels(hub_root, hub, bounds):
    conf = conf_for(hub_root)  # defaults: start-of-stream → end-of-stream
    assert _resolve_positions(conf, hub, bounds, True) == {p: b[0] for p, b in bounds.items()}
    assert _resolve_positions(conf, hub, bounds, False) == {p: b[1] for p, b in bounds.items()}


def test_translate_seqno_passthrough(hub_root, hub, bounds):
    # seqNos pass through raw — SimulatedClient.scala:89-113
    conf = conf_for(hub_root)
    conf.set_starting_position(EventPosition.from_sequence_number(10, is_inclusive=True))
    assert _resolve_positions(conf, hub, bounds, True) == {p: 10 for p in range(4)}
    conf.set_starting_position(EventPosition.from_sequence_number(10, is_inclusive=False))
    assert _resolve_positions(conf, hub, bounds, True) == {p: 10 for p in range(4)}


def test_translate_enqueued_time(spark, sf_dir, hub_root, hub, bounds):
    # time → earliest seqNo with enqueuedTime >= t (EventHubsClient.scala:306-338)
    t = datetime(2024, 1, 10, tzinfo=timezone.utc)
    conf = conf_for(hub_root)
    conf.set_starting_position(EventPosition.from_enqueued_time(t))
    got = _resolve_positions(conf, hub, bounds, True)
    expected_rows = (
        load_hub(spark, sf_dir)
        .where(F.col("enqueuedTime") >= F.lit(t.replace(tzinfo=None)))
        .groupBy("partition")
        .agg(F.min("sequenceNumber").alias("s"))
        .collect()
    )
    expected = {int(r["partition"]): r["s"] for r in expected_rows}
    for p in range(4):
        assert got[p] == expected.get(p, bounds[p][1])


def test_time_seq_nos_job_count_independent_of_bound_count(spark, hub_root, hub, bounds):
    """enqueuedTime positions resolve from parquet footers, so planning
    runs no Spark job however many distinct time bounds it resolves —
    the reference resolves each bound with per-partition service probes
    (EventHubsClient.scala:306-338)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ts = [datetime(2024, 1, d, tzinfo=timezone.utc) for d in (5, 10, 15, 20)]
    conf = conf_for(hub_root)
    conf.set_starting_positions(
        {p: EventPosition.from_enqueued_time(t) for p, t in enumerate(ts)}
    )
    sc.setJobGroup("tsn-four", "four bounds")
    four = _resolve_positions(conf, hub, bounds, True)
    sc.setJobGroup("tsn-done", "")
    assert tracker.getJobIdsForGroup("tsn-four") == []
    # and the per-partition result matches per-bound resolution
    for p, t in enumerate(ts):
        single = conf_for(hub_root).set_starting_position(EventPosition.from_enqueued_time(t))
        assert _resolve_positions(single, hub, bounds, True)[p] == four[p]


def test_translate_time_past_latest_resolves_to_latest(hub_root, hub, bounds):
    conf = conf_for(hub_root)
    conf.set_starting_position(
        EventPosition.from_enqueued_time(datetime(2999, 1, 1, tzinfo=timezone.utc))
    )
    assert _resolve_positions(conf, hub, bounds, True) == {p: b[1] for p, b in bounds.items()}


def test_full_scan_equals_table(spark, sf_dir, hub_root):
    df = read_eventhubs(spark, conf_for(hub_root))
    assert df.count() == load_hub(spark, sf_dir).count()
    assert _names_types(df.schema) == _names_types(EVENT_HUBS_SCHEMA)


def test_bounded_scan_and_metadata_count(spark, hub_root):
    conf = conf_for(hub_root)
    conf.set_starting_position(EventPosition.from_sequence_number(10))
    conf.set_ending_position(EventPosition.from_sequence_number(40))
    # [10, 40) per partition — 30 events each, counted from the plan
    # alone (ref EventHubsRDD.scala:59-61)
    parts = EventHubsBatchReader(conf).partitions()
    assert sum(r.width for p in parts for r in p.ranges) == 4 * 30
    df = read_eventhubs(spark, conf)
    assert df.count() == 4 * 30
    got = df.groupBy("partition").agg(
        F.min("sequenceNumber").alias("lo"), F.max("sequenceNumber").alias("hi")
    ).collect()
    for r in got:
        assert r["lo"] == 10 and r["hi"] == 39


def test_data_loss_guard_clamps_to_earliest(spark, sf_dir, tmp_path, caplog):
    """A start below a partition's earliest seqNo (events expired by
    retention) clamps to earliest with a warning naming the partition,
    the requested seqNo and the earliest (EventHubsSource.scala:246-260)."""
    hub = materialize_hub(spark, sf_dir, str(tmp_path / "events"))
    truncate_hub_log(spark, hub, {0: 50})
    bounds = hub_bounds(hub)
    assert bounds[0][0] == 50
    with caplog.at_level(logging.WARNING, logger="spark_eventhubs_spark.sources.datasource"):
        parts = _plan_range_partitions(hub, {p: 0 for p in bounds},
                                       {p: b[1] for p, b in bounds.items()}, bounds)
    froms = {r.partition_id: r.from_seq_no for p in parts for r in p.ranges}
    assert froms == {0: 50, 1: 0, 2: 0, 3: 0}
    warnings = [r.getMessage() for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert "partition 0" in warnings[0] and "seqNo 0" in warnings[0] and "seqNo 50" in warnings[0]


def test_take_ordered(spark, hub_root):
    # take(num) fills from partitions in order (EventHubsRDD.scala:63-89)
    df = read_eventhubs(spark, conf_for(hub_root)).orderBy("partition", "sequenceNumber").limit(7)
    rows = df.collect()
    assert len(rows) == 7
    assert [int(r["sequenceNumber"]) for r in rows] == [0, 1, 2, 3, 4, 5, 6]


def test_receive_contract(hub, bounds):
    # exactly the requested events, seqNo-sorted (CachedEventHubsReceiver.scala:227-287)
    reader = EventHubsBatchReader({"path": hub})
    (part,) = _plan_range_partitions(hub, {1: 5}, {1: 15}, bounds)
    seqs = [s for b in reader.read(part) for s in b.column("sequenceNumber").to_pylist()]
    assert seqs == list(range(5, 15))
    # a range the log does not hold breaks the contract
    (past,) = _plan_range_partitions(hub, {1: 10 ** 9}, {1: 10 ** 9 + 5}, bounds)
    with pytest.raises(RuntimeError, match="receive contract violated"):
        list(reader.read(past))


def test_kafka_key_extraction(spark):
    """Events produced via a Kafka endpoint carry their key in
    systemProperties['x-opt-kafka-key'] (ref
    docs/receive-events-sent-using-kafka-protocol.md); the helper
    surfaces it, NULL for non-Kafka events."""
    from pyspark.sql import functions as F

    from spark_eventhubs_spark.plans.hubview import kafka_key

    df = spark.createDataFrame(
        [(b"v1", {"x-opt-kafka-key": "42"}), (b"v2", {})],
        "body BINARY, systemProperties MAP<STRING,STRING>",
    )
    rows = df.select(
        F.col("body").cast("string").alias("value"),
        kafka_key().alias("key"),
    ).collect()
    assert {(r["value"], r["key"]) for r in rows} == {("v1", "42"), ("v2", None)}


def test_hub_view_survives_ts_dtype_drift(spark, tmp_path):
    """The driver's testdata has shipped ``ts`` as parquet
    TIMESTAMP(NANOS) (read as bigint epoch-nanos under nanosAsLong),
    TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ — the legacy conf is a
    no-op there), and could legitimately ship raw bigint epoch-nanos.
    hub_view_flat must build and produce identical rows for all three
    physical encodings of the same instants."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_eventhubs_spark.plans.hubview import hub_view_flat

    base_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in epoch-µs
    n = 40
    cols = {
        "event_id": pa.array(range(1, n + 1), pa.int64()),
        "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
        "event_type": pa.array(["click"] * n),
        "value": pa.array([i * 1.25 for i in range(n)], pa.float64()),
        "props": pa.array(['{"k":"%d"}' % (i % 5) for i in range(n)]),
    }
    us = [base_us + i * 1_000_003 for i in range(n)]

    # int64 -> timestamp(unit) casts interpret the integer in that unit
    variants = {
        "ns": pa.array([u * 1000 for u in us], pa.int64()).cast(pa.timestamp("ns")),
        "us": pa.array(us, pa.int64()).cast(pa.timestamp("us")),
        "bigint": pa.array([u * 1000 for u in us], pa.int64()),  # epoch-nanos
    }

    results = {}
    for name, ts_arr in variants.items():
        path = str(tmp_path / f"events_{name}.parquet")
        tbl = pa.table({"event_id": cols["event_id"], "ts": ts_arr,
                        "user_id": cols["user_id"], "event_type": cols["event_type"],
                        "value": cols["value"], "props": cols["props"]})
        pq.write_table(tbl, path)
        df = hub_view_flat(spark.read.parquet(path))
        results[name] = sorted(tuple(r) for r in df.collect())

    assert results["ns"] == results["us"] == results["bigint"]
    # and the event-time key is real epoch-µs
    assert results["us"][0][4] == base_us

"""Streaming tier tests — modeled on EventHubsSourceSuite (SURVEY §5
tier 3): proportional rate limiting with the reference's exact
rounding, slow-partition tracker math, micro-batch progression,
checkpoint stop/restart recovery, and planned-but-uncommitted replay."""

import os

import pytest
from pyspark.sql import functions as F

from spark_eventhubs_spark.conf import EventHubsConf
from spark_eventhubs_spark.connstr import file_hub_connection_string
from spark_eventhubs_spark.offsets import NameAndPartition, OffsetRange
from spark_eventhubs_spark.sources.hub import SimulatedEventHubs
from spark_eventhubs_spark.sources.writer import write_eventhubs
from spark_eventhubs_spark.streaming.ratelimit import rate_limit
from spark_eventhubs_spark.streaming.source import EventHubsSource, MicroBatchRunner
from spark_eventhubs_spark.streaming.tracker import PartitionsStatusTracker


# ---- rate limit math (ref EventHubsSource.scala:263-319, fixture from
#      EventHubsSourceSuite.scala:331-393: 101/11/1/0 skew) ----

def test_rate_limit_proportional_skewed():
    from_ = {0: 0, 1: 0, 2: 0, 3: 0}
    until = {0: 101, 1: 11, 2: 1, 3: 0}
    got = rate_limit(10, from_, until, from_)
    # p0: 10*101/113 = 8.93 -> floor 8; p1: 0.973 -> ceil 1; p2: 0.088 -> ceil 1
    assert got == {0: 8, 1: 1, 2: 1, 3: 0}


def test_ratelimit_import_leaves_runner_and_pandas_unloaded():
    """The native reader imports the rate limiter in Spark's source runner,
    a fresh process per streaming query; the package's names stay lazy."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys; import spark_eventhubs_spark.streaming.ratelimit; "
         "print(sorted(m for m in ('pandas', 'spark_eventhubs_spark.streaming.source') "
         "if m in sys.modules))"],
        cwd=root, capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == "[]"
    from spark_eventhubs_spark.streaming import MicroBatchRunner as lazy_runner
    from spark_eventhubs_spark.streaming import rate_limit as lazy_rate_limit

    assert lazy_runner is MicroBatchRunner and lazy_rate_limit is rate_limit


def test_rate_limit_passthrough_when_no_backlog():
    until = {0: 5, 1: 7}
    assert rate_limit(100, {0: 5, 1: 7}, until, {}) == until


def test_rate_limit_never_past_end():
    got = rate_limit(1000, {0: 0, 1: 0}, {0: 3, 1: 2}, {})
    assert got == {0: 3, 1: 2}


def test_rate_limit_new_partition_uses_from_new():
    got = rate_limit(10, {0: 0}, {0: 50, 1: 50}, {0: 0, 1: 0})
    assert got == {0: 5, 1: 5}


def test_rate_limit_performance_factor_throttles():
    # factor 0.5 on p0 halves its quota
    got = rate_limit(10, {0: 0, 1: 0}, {0: 100, 1: 100}, {}, {0: 0.5, 1: 1.0})
    assert got == {0: 2, 1: 5}  # 10*0.5*0.5=2.5 -> floor 2


# ---- tracker (ref PartitionsStatusTracker.scala) ----

def _ranges(sizes, name="eh", start=0):
    return [
        OffsetRange(NameAndPartition(name, pid), start, start + n)
        for pid, n in sizes.items()
    ]


def test_tracker_quorum_and_outlier_math():
    tr = PartitionsStatusTracker(partition_count=4, acceptable_batch_receive_time_ms=1000)
    tr.add_batch(0, _ranges({0: 100, 1: 100, 2: 100, 3: 100}))
    # only 2 of 4 updated -> below quorum (3) -> None
    tr.update_partition_performance(0, 0, 100, 10_000)
    tr.update_partition_performance(1, 0, 100, 1_000)
    assert tr.partitions_performance_percentage() is None
    # third update reaches quorum
    tr.update_partition_performance(2, 0, 100, 1_000)
    ppp = tr.partitions_performance_percentage()
    # per-event: p0=100, p1=10, p2=10 -> avg=40, std=sqrt(((60)^2+2*(30)^2)/3)=sqrt(1800)=42.43
    # p0: 100 > 82.43 -> 40/100 = 0.4 ; p1,p2: 1.0 ; p3 (no update): 1.0
    assert ppp is not None
    assert abs(ppp[0] - 0.4) < 1e-9
    assert ppp[1] == 1.0 and ppp[2] == 1.0 and ppp[3] == 1.0


def test_tracker_all_fast_returns_defaults():
    tr = PartitionsStatusTracker(partition_count=2, acceptable_batch_receive_time_ms=30_000)
    tr.add_batch(0, _ranges({0: 10, 1: 10}))
    tr.update_partition_performance(0, 0, 10, 100)
    tr.update_partition_performance(1, 0, 10, 900)
    # nobody exceeded acceptable time -> all 1.0 even though p1 is 9x slower
    assert tr.partitions_performance_percentage() == {0: 1.0, 1: 1.0}


def test_tracker_zero_size_partitions_count_as_updated():
    tr = PartitionsStatusTracker(partition_count=4, acceptable_batch_receive_time_ms=100)
    # p2, p3 have empty batches -> pre-updated; quorum (3) reached after 1 real update
    tr.add_batch(0, _ranges({0: 10, 1: 10}) + _ranges({2: 0, 3: 0}))
    tr.update_partition_performance(0, 0, 10, 2000)
    ppp = tr.partitions_performance_percentage()
    # per-event list = [200.0] (only p0; empties excluded) -> avg=200, std=0
    # p0: 200 > 200 is false -> 1.0 everywhere
    assert ppp == {0: 1.0, 1: 1.0, 2: 1.0, 3: 1.0}


def test_tracker_window_eviction_and_stale_metrics():
    tr = PartitionsStatusTracker(partition_count=1, acceptable_batch_receive_time_ms=10)
    for b in range(4):
        tr.add_batch(b, _ranges({0: 5}, start=b * 5))
    assert tr.batch_ids_in_tracker == {1, 2, 3}  # batch 0 evicted (window=3)
    # stale metric for evicted batch 0 (requestSeqNo 0) is ignored
    tr.update_partition_performance(0, 0, 5, 99999)
    assert tr.partitions_performance_percentage() is None
    # metric for live batch 3 (requestSeqNo 15) lands
    tr.update_partition_performance(0, 15, 5, 50)
    assert tr.partitions_performance_percentage() == {0: 1.0}


def test_tracker_duplicate_batch_logged_not_fatal():
    tr = PartitionsStatusTracker(partition_count=1)
    tr.add_batch(0, _ranges({0: 5}))
    tr.add_batch(0, _ranges({0: 5}))  # logged error, no raise
    assert tr.batch_ids_in_tracker == {0}


# ---- micro-batch source over a writable hub ----

@pytest.fixture()
def stream_hub(spark, tmp_path):
    hub = SimulatedEventHubs(spark, hub_dir=str(tmp_path / "hub"), partition_count=4)
    for pid in range(4):
        hub.send([str(pid * 100 + i).encode() for i in range(20)], partition_id=pid)
    return hub


def _conf(max_events=None):
    conf = EventHubsConf(file_hub_connection_string("/unused", "eh"))
    if max_events is not None:
        conf.set_max_events_per_trigger(max_events)
    return conf


def test_microbatch_progression_rate_limited(spark, stream_hub, tmp_path):
    # 80 events, 40 per trigger -> 2 batches of 40 (10 per partition)
    source = EventHubsSource(spark, _conf(40), stream_hub,
                             metadata_path=str(tmp_path / "meta"))
    seen = []
    runner = MicroBatchRunner(
        source, str(tmp_path / "ckpt"),
        lambda df, bid: seen.append((bid, df.count())),
    )
    n = runner.run()
    assert n == 2
    assert seen == [(0, 40), (1, 40)]


def test_microbatch_no_limit_single_batch(spark, stream_hub, tmp_path):
    source = EventHubsSource(spark, _conf(None), stream_hub,
                             metadata_path=str(tmp_path / "meta"))
    seen = []
    runner = MicroBatchRunner(source, str(tmp_path / "ckpt"),
                              lambda df, bid: seen.append(df.count()))
    assert runner.run() == 1
    assert seen == [80]


def test_checkpoint_recovery_no_duplicates(spark, stream_hub, tmp_path):
    """Stop after 1 batch, restart with a fresh source+runner on the
    same checkpoint: every event is processed exactly once
    (ref EventHubsSourceSuite recovery-after-restart behaviors)."""
    ckpt = str(tmp_path / "ckpt")
    meta = str(tmp_path / "meta")
    got = []

    def collect(df, bid):
        got.extend((r["partition"], r["sequenceNumber"]) for r in df.collect())

    r1 = MicroBatchRunner(EventHubsSource(spark, _conf(24), stream_hub, metadata_path=meta),
                          ckpt, collect)
    assert r1.run(max_batches=1) == 1
    # restart: new source instance, same checkpoint
    r2 = MicroBatchRunner(EventHubsSource(spark, _conf(24), stream_hub, metadata_path=meta),
                          ckpt, collect)
    r2.run()
    assert sorted(got) == sorted((str(p), s) for p in range(4) for s in range(20))


def test_uncommitted_batch_replayed(spark, stream_hub, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    meta = str(tmp_path / "meta")
    counts = []
    r1 = MicroBatchRunner(EventHubsSource(spark, _conf(40), stream_hub, metadata_path=meta),
                          ckpt, lambda df, bid: counts.append((bid, df.count())))
    r1.run()
    assert counts == [(0, 40), (1, 40)]
    # simulate crash after planning: drop the last commit marker
    os.remove(os.path.join(ckpt, "commits", "1"))
    r2 = MicroBatchRunner(EventHubsSource(spark, _conf(40), stream_hub, metadata_path=meta),
                          ckpt, lambda df, bid: counts.append((bid, df.count())))
    r2.run()
    # batch 1 re-executed with identical contents, nothing else ran
    assert counts == [(0, 40), (1, 40), (1, 40)]


def test_stream_growing_hub_picks_up_new_events(spark, stream_hub, tmp_path):
    source = EventHubsSource(spark, _conf(None), stream_hub,
                             metadata_path=str(tmp_path / "meta"))
    counts = []
    runner = MicroBatchRunner(source, str(tmp_path / "ckpt"),
                              lambda df, bid: counts.append(df.count()))
    runner.run()
    assert counts == [80]
    stream_hub.send([b"new-1", b"new-2"], partition_id=0)
    runner.run()
    assert counts == [80, 2]


def test_stream_to_hub_roundtrip_with_batchid_dedup(spark, stream_hub, tmp_path):
    """stream-in -> transform -> stream-out (ref EventHubsSinkSuite
    round-trip): micro-batches append to an output hub; re-running a
    batch with the same batchId is a no-op."""
    out_hub = SimulatedEventHubs(spark, hub_dir=str(tmp_path / "out"), partition_count=4)
    source = EventHubsSource(spark, _conf(40), stream_hub,
                             metadata_path=str(tmp_path / "meta"))

    def process(df, bid):
        body_str = df.select(F.col("body").cast("string").alias("body"))
        write_eventhubs(body_str, out_hub, batch_id=bid)
        write_eventhubs(body_str, out_hub, batch_id=bid)  # redelivery -> skipped

    MicroBatchRunner(source, str(tmp_path / "ckpt"), process).run()
    back = out_hub.dataframe()
    assert back.count() == 80
    vals = sorted(int(r["body"].decode()) for r in back.select("body").collect())
    assert vals == sorted(p * 100 + i for p in range(4) for i in range(20))


def test_slow_partition_adjustment_moduates_next_batch(spark, stream_hub, tmp_path):
    """Scripted perf metrics throttle a slow partition's next quota
    (ref EventHubsSourceSuite.scala:780-1051 uses scripted updates via
    SimulatedPartitionStatusTracker the same way)."""
    conf = _conf(40)
    conf.set_slow_partition_adjustment(True)
    conf.set_max_acceptable_batch_receive_time_ms(100)
    source = EventHubsSource(spark, conf, stream_hub, metadata_path=str(tmp_path / "meta"))
    counts = {}

    def process(df, bid):
        counts[bid] = {
            r["partition"]: r["cnt"]
            for r in df.groupBy("partition").agg(F.count("*").alias("cnt")).collect()
        }

    runner = MicroBatchRunner(source, str(tmp_path / "ckpt"), process)
    runner.run(max_batches=1)
    assert counts[0] == {"0": 10, "1": 10, "2": 10, "3": 10}
    # script: partition 0 was pathologically slow in batch 0
    tr = source.tracker
    tr.update_partition_performance(0, 0, 10, 10_000)   # 1000 ms/event
    tr.update_partition_performance(1, 0, 10, 100)      # 10 ms/event
    tr.update_partition_performance(2, 0, 10, 100)
    tr.update_partition_performance(3, 0, 10, 100)
    # avg=257.5, std=sqrt((742.5^2+3*157.5^2)/4)=sqrt(156431.25)=395.5
    # p0: 1000 > 653 -> factor 0.2575; quota 10*0.2575=2.575 -> floor 2
    runner.run(max_batches=1)
    assert counts[1]["0"] == 2
    assert counts[1]["1"] == 10 and counts[1]["2"] == 10 and counts[1]["3"] == 10


def test_dynamic_partition_growth_mid_stream(spark, stream_hub, tmp_path):
    """A partition that appears between micro-batches is picked up from
    its default start position (ref EventHubsSourceSuite.scala:257-329;
    EventHubsSource.scala:183-192, 350-366)."""
    source = EventHubsSource(spark, _conf(), stream_hub,
                             metadata_path=str(tmp_path / "meta_grow"))
    off1 = source.get_offset()
    df1, _ = source.get_batch(None, off1)
    assert df1.count() == 80  # the 4 original partitions

    # partition 4 appears with 7 events
    stream_hub.send([f"new-{i}".encode() for i in range(7)], partition_id=4)
    off2 = source.get_offset()
    df2, ranges = source.get_batch(off1, off2)
    got = df2.select("partition", "sequenceNumber").collect()
    assert {(r["partition"], r["sequenceNumber"]) for r in got} == {
        ("4", i) for i in range(7)
    }
    # and the new partition's range started at the default position 0
    new_range = [r for r in ranges if r.partition_id == 4][0]
    assert new_range.from_seq_no == 0 and new_range.until_seq_no == 7


def test_max_rate_per_partition_clamp(spark, stream_hub, tmp_path):
    """The DStream-era maxRatePerPartition clamp survives into the
    Structured Streaming source: each micro-batch admits at most
    min(from + maxRate_p, latest) per partition
    (EventHubsDirectDStream.scala:97-105), per-partition overrides
    beating the global scalar (EventHubsConf.scala:344-346)."""
    conf = _conf(None).set_max_rate_per_partition(6)
    conf.set_max_rates_per_partition({0: 3})  # partition 0 tighter
    source = EventHubsSource(spark, conf, stream_hub,
                             metadata_path=str(tmp_path / "meta"))
    seen = []
    runner = MicroBatchRunner(
        source, str(tmp_path / "ckpt"),
        lambda df, bid: seen.append(
            {r["partition"]: r["n"] for r in
             df.groupBy("partition").agg(F.count("*").alias("n")).collect()}
        ),
    )
    n = runner.run()
    # 20 events/partition: p0 at 3/batch -> 7 batches drain it; others
    # at 6/batch finish in 4
    assert n == 7
    for batch in seen:
        assert batch.get("0", 0) <= 3
        assert all(v <= 6 for v in batch.values())
    total = {}
    for batch in seen:
        for p, v in batch.items():
            total[p] = total.get(p, 0) + v
    assert total == {"0": 20, "1": 20, "2": 20, "3": 20}


def test_max_rate_unset_means_no_clamp(spark, stream_hub, tmp_path):
    """Without the explicit knob, the source keeps SQL-source
    semantics: no per-partition cap, one batch drains everything."""
    source = EventHubsSource(spark, _conf(None), stream_hub,
                             metadata_path=str(tmp_path / "meta"))
    runner = MicroBatchRunner(source, str(tmp_path / "ckpt"),
                              lambda df, bid: None)
    assert runner.run() == 1

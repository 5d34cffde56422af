"""Streaming tier tests — modeled on EventHubsSourceSuite (SURVEY §5
tier 3): proportional rate limiting with the reference's exact
rounding and slow-partition tracker math as pure functions; then
micro-batch progression, restart, crash-window replay, hub growth and
both admission controls through ``spark.readStream.format("eventhubs")``."""

import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as papq
import pytest
from pyspark.sql import functions as F

from spark_eventhubs_spark.conf import EventHubsConf
from spark_eventhubs_spark.connstr import file_hub_connection_string
from spark_eventhubs_spark.plans.hubview import configure_session
from spark_eventhubs_spark.sources.datasource import (
    PlannedRange,
    _ReceiveLog,
    commit_staged_paths,
    read_eventhubs,
    register_eventhubs,
    write_eventhubs,
)
from spark_eventhubs_spark.streaming.ratelimit import rate_limit
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
    a fresh process per streaming query; that import stays free of pandas,
    and the package re-exports the same function."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys; import spark_eventhubs_spark.streaming.ratelimit; "
         "print('pandas' in sys.modules)"],
        cwd=root, capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == "False"
    from spark_eventhubs_spark.streaming import rate_limit as exported

    assert exported is rate_limit


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

def _ranges(sizes, start=0):
    return [PlannedRange(pid, start, start + n, ()) for pid, n in sizes.items()]


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


# ---- format("eventhubs") stream over a writable hub ----

def _send(hub, bodies, pid, partition_count=None):
    """Append events pinned to partition ``pid`` through the sink's
    commit, which numbers them on from the partition's latest seqNo."""
    staging = os.path.join(hub, "_staging")
    os.makedirs(staging, exist_ok=True)
    tag = uuid.uuid4().hex
    path = os.path.join(staging, f"send-{tag}.parquet")
    papq.write_table(pa.table({
        "body": pa.array(bodies, pa.binary()),
        "partition": pa.array([str(pid)] * len(bodies), pa.string()),
        "partitionKey": pa.nulls(len(bodies), pa.string()),
        "properties": pa.array([[]] * len(bodies), pa.map_(pa.string(), pa.string())),
    }), path)
    commit_staged_paths(hub, [path], tag, partition_count)


@pytest.fixture()
def stream_hub(spark, tmp_path):
    register_eventhubs(spark)
    hub = str(tmp_path / "hub")
    for pid in range(4):
        _send(hub, [str(pid * 100 + i).encode() for i in range(20)], pid)
    return hub


def _stream(spark, hub, opts=None):
    r = spark.readStream.format("eventhubs").option("path", hub)
    for k, v in (opts or {}).items():
        r = r.option(k, str(v))
    return r.load()


def _run(query, available_now=False):
    """Drain a started query: an availableNow query to its single
    snapshot, any other until nothing new is available."""
    try:
        if available_now:
            query.awaitTermination(300)
        else:
            query.processAllAvailable()
    finally:
        query.stop()


def _drain(spark, hub, ckpt, process, opts=None, available_now=False):
    """Run ``process`` as the foreachBatch function of a query over
    ``hub`` with checkpoint ``ckpt``."""
    w = (_stream(spark, hub, opts).writeStream.foreachBatch(process)
         .option("checkpointLocation", ckpt))
    if available_now:
        w = w.trigger(availableNow=True)
    _run(w.start(), available_now)


def _per_partition(df):
    return {r["partition"]: r["n"]
            for r in df.groupBy("partition").agg(F.count("*").alias("n")).collect()}


def test_microbatch_progression_rate_limited(spark, stream_hub, tmp_path):
    # 80 events, 40 per trigger -> 2 batches of 40 (10 per partition)
    seen = []
    before = sorted(os.listdir(stream_hub))
    _drain(spark, stream_hub, str(tmp_path / "ckpt"),
           lambda df, bid: seen.append((bid, df.count())),
           {"maxEventsPerTrigger": 40})
    assert seen == [(0, 40), (1, 40)]
    # the reader adds nothing to the hub: no receive log (slowPartition-
    # Adjustment is off) and no throttle state beside the partition logs
    assert sorted(os.listdir(stream_hub)) == before


def test_earlier_query_on_the_group_leaves_the_throttle_intact(spark, stream_hub, tmp_path):
    """A throttled query's first trigger admits one quota from the
    configured start, whatever an earlier query on the same consumer
    group consumed: the throttle position lives in the query, not in
    the hub."""
    _drain(spark, stream_hub, str(tmp_path / "ck1"), lambda df, bid: df.count())
    seen = []
    _drain(spark, stream_hub, str(tmp_path / "ck2"),
           lambda df, bid: seen.append((bid, df.count())),
           {"maxEventsPerTrigger": 40})
    assert seen == [(0, 40), (1, 40)]


def test_microbatch_no_limit_single_batch(spark, stream_hub, tmp_path):
    seen = []
    _drain(spark, stream_hub, str(tmp_path / "ckpt"),
           lambda df, bid: seen.append(df.count()))
    assert seen == [80]


def test_checkpoint_recovery_no_duplicates(spark, stream_hub, tmp_path):
    """Stop after 1 batch, restart a new query on the same checkpoint:
    every event is processed exactly once (ref EventHubsSourceSuite
    recovery-after-restart behaviors)."""
    ckpt = str(tmp_path / "ckpt")
    got = []

    def collect(df, bid):
        got.extend((r["partition"], r["sequenceNumber"])
                   for r in df.select("partition", "sequenceNumber").collect())

    opts = {"maxEventsPerTrigger": 24}
    _drain(spark, stream_hub, ckpt, collect, opts, available_now=True)
    assert len(got) == 24
    _drain(spark, stream_hub, ckpt, collect, opts)
    assert sorted(got) == sorted((str(p), s) for p in range(4) for s in range(20))


def test_uncommitted_batch_replayed(spark, stream_hub, tmp_path):
    """Crash window between the offset log and the commit log: a relay
    query (format("eventhubs") -> format("eventhubs")) loses its last
    ``commits/<id>`` and restarts. The engine re-runs that batch from
    its offsets file and the sink's epoch marker drops the re-delivered
    rows, so every source event lands in the output hub exactly once."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def relay():
        q = (_stream(spark, stream_hub, {"maxEventsPerTrigger": 40})
             .select("body", "partition")
             .writeStream.format("eventhubs")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .start())
        _run(q)

    relay()
    last = os.path.join(ckpt, "commits", "1")
    assert os.path.exists(last) and not os.path.exists(os.path.join(ckpt, "offsets", "2"))
    os.remove(last)
    os.remove(os.path.join(ckpt, "commits", ".1.crc"))  # Hadoop's checksum
    relay()
    assert os.path.exists(last)  # batch 1 ran again and committed
    rows = [(r["partition"], r["body"].decode())
            for r in spark.read.format("eventhubs").option("path", out).load().collect()]
    assert sorted(rows) == sorted((str(p), str(p * 100 + i)) for p in range(4) for i in range(20))


def test_second_query_into_one_sink_keeps_its_batches(spark, stream_hub, tmp_path):
    """Batch ids count per query: a second relay with its own checkpoint
    writes batch 0 again, and the sink must not take it for a re-delivery
    of the first query's batch 0. Each relay lands every event once."""
    out = str(tmp_path / "out")

    for ck in ("ck-a", "ck-b"):
        q = (_stream(spark, stream_hub, {"eventhubs.consumerGroup": ck})
             .select("body", "partition")
             .writeStream.format("eventhubs")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / ck))
             .trigger(availableNow=True)
             .start())
        _run(q, available_now=True)
    rows = [(r["partition"], r["body"].decode())
            for r in spark.read.format("eventhubs").option("path", out).load().collect()]
    want = [(str(p), str(p * 100 + i)) for p in range(4) for i in range(20)]
    assert sorted(rows) == sorted(want * 2)
    markers = [f for f in os.listdir(os.path.join(out, "_commits")) if f.startswith("epoch-")]
    assert len(markers) == 2


def test_stream_sink_refuses_a_query_without_a_checkpoint_option(spark, stream_hub, tmp_path):
    """A checkpoint set only through the session conf never reaches the
    sink, so its per-query batch markers could not tell two such queries
    apart: the sink refuses the query and names the option to set."""
    out = str(tmp_path / "out")
    spark.conf.set("spark.sql.streaming.checkpointLocation", str(tmp_path / "ck-conf"))
    try:
        with pytest.raises(Exception, match=r'option\("checkpointLocation"'):
            q = (_stream(spark, stream_hub)
                 .select("body", "partition")
                 .writeStream.format("eventhubs")
                 .option("path", out)
                 .trigger(availableNow=True)
                 .start())
            _run(q, available_now=True)
    finally:
        spark.conf.unset("spark.sql.streaming.checkpointLocation")
    assert not os.path.exists(os.path.join(out, "_commits"))


_CHECKPOINT_CONF = "spark.sql.streaming.checkpointFileManagerClass"


def _checkpoint_manager_class(spark, path):
    """The class of the manager the engine builds for a checkpoint at
    ``path`` under the session's current confs."""
    jvm = spark._jvm
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path), spark._jsparkSession.sessionState().newHadoopConf())
    return mgr.getClass().getName()


def test_checkpoint_file_manager_takes_effect(spark, tmp_path):
    """configure_session makes the engine write checkpoints through
    Spark's FileSystem-based manager, not the FileContext default."""
    pkg = "org.apache.spark.sql.execution.streaming.checkpointing."
    assert (_checkpoint_manager_class(spark, str(tmp_path))
            == pkg + "FileSystemBasedCheckpointFileManager")
    spark.conf.unset(_CHECKPOINT_CONF)
    try:
        assert (_checkpoint_manager_class(spark, str(tmp_path))
                == pkg + "FileContextBasedCheckpointFileManager")
    finally:
        configure_session(spark)


def test_filecontext_checkpoint_resumes_under_filesystem_manager(spark, stream_hub, tmp_path):
    """A relay checkpoint written by the FileContext manager (the
    engine's default) resumes under the manager configure_session sets:
    the next batch starts at the committed offset and every source
    event lands in the output hub exactly once."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def relay(available_now):
        w = (_stream(spark, stream_hub, {"maxEventsPerTrigger": 40})
             .select("body", "partition")
             .writeStream.format("eventhubs")
             .option("path", out)
             .option("checkpointLocation", ckpt))
        if available_now:
            w = w.trigger(availableNow=True)
        _run(w.start(), available_now)

    def relayed():
        return [(int(r["partition"]), int(r["body"].decode()) % 100)
                for r in spark.read.format("eventhubs").option("path", out).load().collect()]

    spark.conf.unset(_CHECKPOINT_CONF)
    try:
        relay(available_now=True)  # one throttled batch
    finally:
        configure_session(spark)
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))
    assert not os.path.exists(os.path.join(ckpt, "offsets", "1"))
    with open(os.path.join(ckpt, "offsets", "0")) as fh:
        committed = {int(p): s for p, s in json.loads(fh.read().splitlines()[-1])["hub"].items()}
    assert sum(committed.values()) == 40
    first = relayed()
    assert sorted(first) == sorted((p, s) for p, end in committed.items() for s in range(end))

    relay(available_now=False)
    got = relayed()
    assert sorted(got) == sorted((p, s) for p in range(4) for s in range(20))
    new = sorted(set(got) - set(first))
    assert new == sorted((p, s) for p, end in committed.items() for s in range(end, 20))
    for log in ("offsets", "commits"):  # written by the new manager, checksums kept
        assert os.path.exists(os.path.join(ckpt, log, ".1.crc"))


def test_stream_growing_hub_picks_up_new_events(spark, stream_hub, tmp_path):
    counts = []
    q = (_stream(spark, stream_hub).writeStream
         .foreachBatch(lambda df, bid: counts.append(df.count()))
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    try:
        q.processAllAvailable()
        assert counts == [80]
        _send(stream_hub, [b"new-1", b"new-2"], 0)
        q.processAllAvailable()
    finally:
        q.stop()
    assert counts == [80, 2]


def test_stream_to_hub_roundtrip_with_batchid_dedup(spark, stream_hub, tmp_path):
    """stream-in -> transform -> stream-out (ref EventHubsSinkSuite
    round-trip): micro-batches append to an output hub; re-running a
    batch with the same batchId is a no-op."""
    out = EventHubsConf(file_hub_connection_string(str(tmp_path), "out"))
    written = []

    def process(df, bid):
        body_str = df.select(F.col("body").cast("string").alias("body"))
        written.append(write_eventhubs(body_str, out, batch_id=bid))
        written.append(write_eventhubs(body_str, out, batch_id=bid))  # redelivery

    _drain(spark, stream_hub, str(tmp_path / "ckpt"), process, {"maxEventsPerTrigger": 40})
    assert written == [40, 0, 40, 0]
    back = read_eventhubs(spark, out)
    assert back.count() == 80
    vals = sorted(int(r["body"].decode()) for r in back.select("body").collect())
    assert vals == sorted(p * 100 + i for p in range(4) for i in range(20))


def test_slow_partition_adjustment_moduates_next_batch(spark, stream_hub, tmp_path):
    """Scripted receive times throttle a slow partition's next quota
    (ref EventHubsSourceSuite.scala:780-1051 scripts the tracker the
    same way): batch 0 runs, its receive records are replaced by
    scripted ones, and the next latestOffset weights the split by the
    tracker built from them."""
    ckpt = str(tmp_path / "ckpt")
    opts = {"maxEventsPerTrigger": 40,
            "eventhubs.consumerGroup": "slow",
            "eventhubs.slowPartitionAdjustment": "true",
            "eventhubs.maxAcceptableBatchReceiveTime": 100}
    counts = {}

    def process(df, bid):
        counts[bid] = _per_partition(df)

    _drain(spark, stream_hub, ckpt, process, opts, available_now=True)
    assert counts[0] == {"0": 10, "1": 10, "2": 10, "3": 10}
    # script: partition 0 was pathologically slow in batch 0
    log = _ReceiveLog(stream_hub, "slow")
    log.record_receive(0, 0, 10, 10_000)   # 1000 ms/event
    for pid in (1, 2, 3):
        log.record_receive(pid, 0, 10, 100)  # 10 ms/event
    # avg=257.5, std=sqrt((742.5^2+3*157.5^2)/4)=sqrt(156431.25)=395.5
    # p0: 1000 > 653 -> factor 0.2575; quota 10*0.2575=2.575 -> floor 2
    _drain(spark, stream_hub, ckpt, process, opts, available_now=True)
    assert counts[1] == {"0": 2, "1": 10, "2": 10, "3": 10}


def test_receive_log_keeps_the_tracker_window(tmp_path):
    """The receive log holds the tracker's last 3 batches and only the
    receive records those batches can still match."""
    log = _ReceiveLog(str(tmp_path), "g")
    for b in range(5):
        log.record_batch([[0, 10 * b, 10 * b + 10], [1, 10 * b, 10 * b + 10]])
        log.record_receive(0, 10 * b, 10, 5)
        log.record_receive(1, 10 * b, 10, 5)
    names = sorted(os.listdir(log.dir))
    assert [n for n in names if n.startswith("batch-")] == [
        f"batch-{k:020d}.json" for k in (40, 60, 80)]
    # batch 4's records were written after its batch file, so they stay
    assert [n for n in names if n.startswith("recv-")] == sorted(
        f"recv-{p}-{f}.json" for p in (0, 1) for f in (20, 30, 40))
    assert log.performance_percentages(2, 100) == {0: 1.0, 1: 1.0}
    log.reset()
    assert os.listdir(log.dir) == []


def test_receive_log_concurrent_writers_lose_nothing(tmp_path):
    """Read tasks write receive records from many processes and threads,
    a retried task rewriting its first attempt's record, while the
    planner prunes: no write fails and every record stays readable."""
    from concurrent.futures import ThreadPoolExecutor

    log = _ReceiveLog(str(tmp_path), "g")
    log.record_batch([[pid, 0, 10] for pid in range(16)])

    def work(i):
        for _ in range(50):
            log.record_receive(i % 16, 0, 10, i)
        log.record_batch([[pid, 0, 10] for pid in range(16)])

    with ThreadPoolExecutor(max_workers=32) as pool:
        for f in [pool.submit(work, i) for i in range(32)]:
            f.result(timeout=60)
    names = sorted(os.listdir(log.dir))
    assert names == sorted(["batch-00000000000000000000.json"]
                           + [f"recv-{pid}-0.json" for pid in range(16)])
    assert log.performance_percentages(16, 100) == {pid: 1.0 for pid in range(16)}


def test_dynamic_partition_growth_mid_stream(spark, stream_hub, tmp_path):
    """A partition that appears between micro-batches is picked up from
    its default start position (ref EventHubsSourceSuite.scala:257-329;
    EventHubsSource.scala:183-192, 350-366)."""
    batches = []
    q = (_stream(spark, stream_hub).writeStream
         .foreachBatch(lambda df, bid: batches.append(
             {(r["partition"], r["sequenceNumber"])
              for r in df.select("partition", "sequenceNumber").collect()}))
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    try:
        q.processAllAvailable()
        assert len(batches) == 1 and len(batches[0]) == 80  # the 4 original partitions
        # partition 4 appears with 7 events
        _send(stream_hub, [f"new-{i}".encode() for i in range(7)], 4, partition_count=5)
        q.processAllAvailable()
    finally:
        q.stop()
    assert batches[1:] == [{("4", i) for i in range(7)}]


def test_max_rate_per_partition_clamp(spark, stream_hub, tmp_path):
    """The DStream-era maxRatePerPartition clamp on the Structured
    Streaming source: each micro-batch admits at most
    min(from + maxRate_p, latest) per partition
    (EventHubsDirectDStream.scala:97-105), per-partition overrides
    beating the global scalar (EventHubsConf.scala:344-346)."""
    conf = EventHubsConf().set_max_rate_per_partition(6)
    conf.set_max_rates_per_partition({0: 3})  # partition 0 tighter
    seen = []
    _drain(spark, stream_hub, str(tmp_path / "ckpt"),
           lambda df, bid: seen.append(_per_partition(df)), conf.to_map())
    # 20 events/partition: p0 at 3/batch -> 7 batches drain it; others
    # at 6/batch finish in 4
    assert len(seen) == 7
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
    seen = []
    _drain(spark, stream_hub, str(tmp_path / "ckpt"), lambda df, bid: seen.append(bid))
    assert seen == [0]

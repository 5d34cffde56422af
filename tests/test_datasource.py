"""Native format("eventhubs") DataSource tests.

Mirrors the reference suites over the hive-log hub:
- relation scans: T/sql/eventhubs/EventHubsRelationSuite.scala:72-186
- streaming source semantics: T/sql/eventhubs/EventHubsSourceSuite.scala
- sink schema/save-mode errors + round-trips:
  T/sql/eventhubs/EventHubsSinkSuite.scala:93-468
"""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from spark_eventhubs_spark.sources.datasource import (
    hub_bounds,
    materialize_hub,
    register_eventhubs,
)

from conftest import SF_DIR


@pytest.fixture(scope="module")
def hub_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("dshub") / "events")
    materialize_hub(spark, SF_DIR, d)
    register_eventhubs(spark)
    return d


def _read(spark, hub_dir, **opts):
    r = spark.read.format("eventhubs").option("path", hub_dir)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


# ---------------------------------------------------------------- batch read

def test_full_scan_matches_hub_view(spark, hub_dir):
    df = _read(spark, hub_dir)
    assert df.count() == 1000
    assert [f.name for f in df.schema.fields] == [
        "body", "partition", "offset", "sequenceNumber", "enqueuedTime",
        "publisher", "partitionKey", "properties", "systemProperties",
    ]
    # parity with the Spark-side hub view on a value sample
    from spark_eventhubs_spark.plans.hubview import load_hub

    expect = {
        (r["partition"], r["sequenceNumber"]): bytes(r["body"])
        for r in load_hub(spark, SF_DIR).collect()
    }
    got = {
        (r["partition"], r["sequenceNumber"]): bytes(r["body"])
        for r in df.collect()
    }
    assert got == expect


def test_bounded_scan_and_seq_contiguity(spark, hub_dir):
    df = _read(
        spark, hub_dir,
        **{"eventhubs.startingPosition": '{"seqNo": 50, "isInclusive": true}',
           "eventhubs.endingPosition": '{"seqNo": 150, "isInclusive": false}'},
    )
    assert df.count() == 400
    rows = df.groupBy("partition").agg(
        F.min("sequenceNumber").alias("lo"),
        F.max("sequenceNumber").alias("hi"),
        F.count("*").alias("n"),
    ).collect()
    for r in rows:
        assert (r["lo"], r["hi"], r["n"]) == (50, 149, 100)


def test_time_position(spark, hub_dir):
    # pick the enqueuedTime of the global median event, then start there
    mid = _read(spark, hub_dir).approxQuantile("sequenceNumber", [0.5], 0)[0]
    t = (
        _read(spark, hub_dir)
        .where(F.col("sequenceNumber") == int(mid))
        .select(F.max("enqueuedTime"))
        .first()[0]
    )
    pos = json.dumps({"enqueuedTime": t.isoformat() + "+00:00", "isInclusive": True})
    df = _read(spark, hub_dir, **{"eventhubs.startingPosition": pos})
    expect = (
        _read(spark, hub_dir).where(F.col("enqueuedTime") >= F.lit(t)).count()
    )
    assert df.count() == expect > 0


def test_bounds_are_metadata_only(hub_dir):
    b = hub_bounds(hub_dir)
    assert set(b) == {0, 1, 2, 3}
    assert all(lo == 0 and hi > 0 for lo, hi in b.values())
    assert sum(hi - lo for lo, hi in b.values()) == 1000


def test_pushdown_prunes_partitions(spark, hub_dir):
    # partition filter prunes to one InputPartition's directory worth of rows
    df = _read(spark, hub_dir).where(F.col("partition") == "2")
    n2 = df.count()
    assert 0 < n2 < 1000
    assert n2 == hub_bounds(hub_dir)[2][1]


# ------------------------------------------------------------- stream read

def test_stream_read_rate_limited(spark, hub_dir, tmp_path):
    # NOTE: Trigger.AvailableNow wraps a plain MicroBatchStream and
    # drains to the captured end in ONE batch (admission control is not
    # surfaced to python sources), so per-trigger limits need a normal
    # processing-time trigger.
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sdf = (
        spark.readStream.format("eventhubs")
        .option("path", hub_dir)
        .option("eventhubs.maxEventsPerTrigger", "300")
        .load()
    )
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(out)
    assert got.count() == 1000
    assert got.select("partition", "sequenceNumber").distinct().count() == 1000
    # multiple micro-batches were planned (rate limit respected)
    offsets = os.listdir(os.path.join(ckpt, "offsets"))
    assert len([f for f in offsets if f.isdigit()]) >= 2


def test_stream_restart_resumes_from_checkpoint(spark, hub_dir, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        sdf = (
            spark.readStream.format("eventhubs")
            .option("path", hub_dir)
            .option("eventhubs.maxEventsPerTrigger", "400")
            .load()
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    first = spark.read.parquet(out).count()
    assert first == 1000
    run_once()  # no new data: restart must not duplicate
    assert spark.read.parquet(out).count() == 1000


# ------------------------------------------------------------------- write

def test_stream_write_roundtrip_partition_pinned(spark, hub_dir, tmp_path):
    hub2 = str(tmp_path / "hub2")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(hub2)
    src = (
        spark.readStream.format("eventhubs").option("path", hub_dir).load()
    )
    q = (
        src.select("body", "partition", "properties")
        .writeStream.format("eventhubs")
        .option("path", hub2)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    back = _read(spark, hub2)
    assert back.count() == 1000
    # partition-pinned routing preserved the source spread
    src_counts = {
        r["partition"]: r["count"]
        for r in _read(spark, hub_dir).groupBy("partition").count().collect()
    }
    got_counts = {
        r["partition"]: r["count"]
        for r in back.groupBy("partition").count().collect()
    }
    assert got_counts == src_counts
    # dense per-partition seqNos from 0
    lo_hi = back.groupBy("partition").agg(
        F.min("sequenceNumber").alias("lo"),
        (F.max("sequenceNumber") + 1).alias("hi"),
        F.count("*").alias("n"),
    ).collect()
    for r in lo_hi:
        assert r["lo"] == 0 and r["hi"] == r["n"]


def test_batch_write_roundrobin_and_key_routing(spark, tmp_path):
    hub3 = str(tmp_path / "hub3")
    os.makedirs(hub3)
    tiny = spark.createDataFrame([(str(i),) for i in range(8)], "body string")
    tiny.write.format("eventhubs").mode("append").option("path", hub3).save()
    back = _read(spark, hub3)
    assert back.count() == 8
    # round-robin: every partition got 2 of the 8
    counts = [r["count"] for r in back.groupBy("partition").count().collect()]
    assert sorted(counts) == [2, 2, 2, 2]

    keyed = spark.createDataFrame(
        [("x", "k1"), ("y", "k1"), ("z", "k2")], "body string, partitionKey string"
    )
    keyed.write.format("eventhubs").mode("append").option("path", hub3).save()
    back = _read(spark, hub3)
    k1 = back.where(F.col("partitionKey") == "k1").select("partition").distinct()
    assert k1.count() == 1  # same key -> same partition


def test_write_rejects_overwrite_and_bad_schema(spark, tmp_path):
    hub4 = str(tmp_path / "hub4")
    os.makedirs(hub4)
    tiny = spark.createDataFrame([("a",)], "body string")
    with pytest.raises(Exception, match="Append"):
        tiny.write.format("eventhubs").mode("overwrite").option("path", hub4).save()
    nobody = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(Exception, match="body"):
        nobody.write.format("eventhubs").mode("append").option("path", hub4).save()
    badbody = spark.createDataFrame([(1,)], "body int")
    with pytest.raises(Exception, match="body"):
        badbody.write.format("eventhubs").mode("append").option("path", hub4).save()


def test_stream_watermark_window_agg(spark, hub_dir, tmp_path):
    """The reference's flagship end-to-end query: event-time watermark +
    tumbling window count over enqueuedTime, answered by the native
    streaming source (ref EventHubsSourceSuite.scala:737-778, scaled to
    the testdata's hour-granularity timestamps)."""
    ckpt = str(tmp_path / "ckpt")
    sdf = spark.readStream.format("eventhubs").option("path", hub_dir).load()
    agg = (
        sdf.withWatermark("enqueuedTime", "1 hour")
        .groupBy(F.window("enqueuedTime", "6 hours").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("ws"), "cnt")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_counts")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["ws"]: r["cnt"] for r in spark.sql("SELECT * FROM wm_counts").collect()
    }
    expect = {
        r["ws"]: r["cnt"]
        for r in (
            _read(spark, hub_dir)
            .groupBy(F.window("enqueuedTime", "6 hours").alias("w"))
            .agg(F.count("*").alias("cnt"))
            .select(F.col("w.start").alias("ws"), "cnt")
            .collect()
        )
    }
    assert got == expect and sum(got.values()) == 1000


def test_foreach_writer_sink(spark, hub_dir, tmp_path):
    from spark_eventhubs_spark.sources.foreach import (
        EventHubsForeachWriter,
        flush_foreach_staged,
    )

    hub6 = str(tmp_path / "hub6")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(hub6)
    src = spark.readStream.format("eventhubs").option("path", hub_dir).load()
    q = (
        src.select(F.col("body").cast("string").alias("body"), "partition")
        .writeStream.foreach(EventHubsForeachWriter(hub6))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    n = flush_foreach_staged(hub6)
    assert n == 1000
    back = _read(spark, hub6)
    assert back.count() == 1000
    # partition-pinned routing preserved
    src_counts = {
        r["partition"]: r["count"]
        for r in _read(spark, hub_dir).groupBy("partition").count().collect()
    }
    got_counts = {
        r["partition"]: r["count"]
        for r in back.groupBy("partition").count().collect()
    }
    assert got_counts == src_counts
    # flushing again is a no-op
    assert flush_foreach_staged(hub6) == 0


def test_write_rejects_partition_and_key_both_set(spark, tmp_path):
    hub5 = str(tmp_path / "hub5")
    os.makedirs(hub5)
    both = spark.createDataFrame(
        [("a", "1", "k")], "body string, partition string, partitionKey string"
    )
    with pytest.raises(Exception, match="[Mm]utually exclusive"):
        both.write.format("eventhubs").mode("append").option("path", hub5).save()


def test_compact_hub_log_preserves_data_and_metadata(spark, tmp_path):
    """Compaction folds per-commit files into one per partition while
    keeping rows, seqNo density, cursors, and the batchId ledger."""
    import os

    from spark_eventhubs_spark.sources.datasource import (
        compact_hub_log,
        materialize_hub,
        register_eventhubs,
    )

    register_eventhubs(spark)
    hub = materialize_hub(spark, SF_DIR, str(tmp_path / "hub"))
    # simulate streaming commits: write a few extra commit files
    df = spark.createDataFrame(
        [(f"m{i}".encode(), str(i % 4)) for i in range(20)],
        "body BINARY, partition STRING",
    )
    for i in range(3):
        (
            df.write.format("eventhubs").mode("append")
            .option("path", hub).save()
        )
    os.makedirs(os.path.join(hub, "_cursors"), exist_ok=True)
    with open(os.path.join(hub, "_cursors", "grp.json"), "w") as fh:
        fh.write('{"0": 5}')

    pre = spark.read.parquet(hub)
    pre_count = pre.count()
    pre_max = {
        r["partition"]: r["m"]
        for r in pre.groupBy("partition").agg(
            F.max("sequenceNumber").alias("m")).collect()
    }

    n_before = compact_hub_log(spark, hub)
    assert any(v > 1 for v in n_before.values())  # there WAS fragmentation

    post = spark.read.parquet(hub)
    assert post.count() == pre_count
    post_max = {
        r["partition"]: r["m"]
        for r in post.groupBy("partition").agg(
            F.max("sequenceNumber").alias("m")).collect()
    }
    assert post_max == pre_max
    # one data file per partition after compaction
    for name in os.listdir(hub):
        if name.startswith("partition="):
            files = [f for f in os.listdir(os.path.join(hub, name))
                     if f.endswith(".parquet")]
            assert len(files) == 1
    # metadata survived
    assert os.path.exists(os.path.join(hub, "_cursors", "grp.json"))
    # seqNos stay dense per partition
    for pid_s, m in post_max.items():
        n = post.where(F.col("partition") == pid_s).count()
        assert m == n - 1


def test_truncate_hub_log_retention_and_data_loss_guard(spark, tmp_path):
    """After retention truncation, bounds move forward and a read from
    an expired position clamps to the new earliest (S5 guard)."""
    import os
    import pytest as _pytest

    from spark_eventhubs_spark.sources.datasource import (
        hub_bounds,
        materialize_hub,
        register_eventhubs,
        truncate_hub_log,
    )

    register_eventhubs(spark)
    hub = materialize_hub(spark, SF_DIR, str(tmp_path / "hub_t"))
    pre = hub_bounds(hub)
    keep = {pid: 50 for pid in pre}
    dropped = truncate_hub_log(spark, hub, keep)
    assert all(n == 50 for n in dropped.values())

    post = hub_bounds(hub)
    for pid, (lo, hi) in post.items():
        assert lo == 50 and hi == pre[pid][1]

    # an expired start position (seq 0) silently clamps to earliest=50
    df = _read(spark, hub,
               **{"eventhubs.startingPosition": '{"seqNo": 0, "isInclusive": true}'})
    assert df.agg(F.min("sequenceNumber")).first()[0] == 50

    # emptying a partition is refused (seqNo high-water mark would be lost)
    with _pytest.raises(ValueError, match="full truncation"):
        truncate_hub_log(spark, hub, {0: post[0][1]})


def test_per_partition_starting_positions(spark, hub_dir):
    """eventhubs.startingPositions (per-partition JSON map) overrides
    the global position for the named partitions only — reference
    precedence: per-partition > global > default
    (EventHubsConf.scala:242-245)."""
    import json

    positions = json.dumps({
        "0": {"seqNo": 50, "isInclusive": True},
        "1": {"seqNo": 100, "isInclusive": True},
    })
    df = _read(
        spark, hub_dir,
        **{
            "eventhubs.startingPosition": '{"seqNo": 10, "isInclusive": true}',
            "eventhubs.startingPositions": positions,
        },
    )
    mins = {
        r["partition"]: r["m"]
        for r in df.groupBy("partition").agg(
            F.min("sequenceNumber").alias("m")).collect()
    }
    assert mins["0"] == 50      # per-partition override
    assert mins["1"] == 100     # per-partition override
    assert mins["2"] == 10      # global fallback
    assert mins["3"] == 10


def test_available_now_rate_limited_drains_incrementally(spark, tmp_path):
    """Python streaming sources have no SupportsTriggerAvailableNow
    hook, so availableNow + maxEventsPerTrigger = ONE admission-
    controlled batch per run (the reference's Trigger.Once semantics).
    Pin the useful half of that contract: repeated runs against the
    same checkpoint resume from the offset log, drain the backlog
    incrementally, and never emit a duplicate."""
    hub = str(tmp_path / "anhub" / "events")
    materialize_hub(spark, SF_DIR, hub)
    register_eventhubs(spark)
    ckpt = str(tmp_path / "anck")
    out_dir = str(tmp_path / "an_out")
    total_hub = 1000
    prev = 0
    for i in range(6):
        q = (
            spark.readStream.format("eventhubs")
            .option("path", hub)
            .option("eventhubs.maxEventsPerTrigger", "300")
            .option("eventhubs.consumerGroup", "an_inc")
            .load()
            .select("partition", "sequenceNumber")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = [(r["partition"], r["sequenceNumber"])
                for r in spark.read.parquet(out_dir).collect()]
        assert len(rows) == len(set(rows)), "duplicate events emitted"
        assert len(rows) >= prev, "sink shrank between runs"
        prev = len(rows)
        if len(rows) == total_hub:
            break
    assert prev == total_hub, f"backlog not drained: {prev}"


# ------------------------------------------------- _seq_at_time (stats-first)

def test_seq_at_time_matches_bruteforce_oracle(spark, hub_dir):
    """The stats-first `_seq_at_time` (footer-resolved full groups +
    vectorized boundary groups, round-7 verdict item 2) equals a
    brute-force min(seqNo | enqueuedTime >= t) at every interesting t:
    before-stream, row-group boundary timestamps, arbitrary mid-stream
    instants, and past-end (-> latest)."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    from spark_eventhubs_spark.sources.datasource import (
        _seq_at_time,
        hub_bounds,
    )

    bounds = hub_bounds(hub_dir)
    for pid in sorted(bounds):
        tbl = pads.dataset(
            os.path.join(hub_dir, f"partition={pid}")
        ).to_table(columns=["sequenceNumber", "enqueuedTime"])
        seqs = tbl.column("sequenceNumber").to_pylist()
        enqs = [
            v.value for v in
            tbl.column("enqueuedTime").cast(pa.timestamp("us", tz="UTC"))
        ]
        lo_t, hi_t = min(enqs), max(enqs)
        probes = {
            lo_t - 10_000_000,          # before stream start
            lo_t, lo_t + 1,             # inclusive boundary
            (lo_t + hi_t) // 2,         # mid-stream
            sorted(enqs)[len(enqs) // 3],
            hi_t, hi_t + 1,             # past-end -> latest
        }
        latest = bounds[pid][1]
        for t in sorted(probes):
            brute = min(
                (s for s, e in zip(seqs, enqs) if e >= t), default=latest
            )
            assert _seq_at_time(hub_dir, pid, t, latest) == brute, (
                f"pid={pid} t={t}"
            )


def test_seq_at_time_early_timestamp_reads_no_data_pages(hub_dir):
    """For t at/before stream start every row group qualifies entirely,
    so the answer must come from footer statistics alone — no
    ParquetFile opens at all once footers are memoized (the 100 TB
    design point: O(row groups) footer work, not O(rows-past-t)
    driver Python)."""
    from unittest import mock

    from spark_eventhubs_spark.sources import datasource as ds

    b = ds.hub_bounds(hub_dir)
    pid = sorted(b)[0]
    # warm the footer memo for both columns (a cache miss would open
    # the footer via ParquetFile, which the patch below forbids)
    ds._seq_at_time(hub_dir, pid, 0, b[pid][1])
    with mock.patch.object(
        ds.papq, "ParquetFile",
        side_effect=AssertionError("data pages read for a full-cover t"),
    ):
        # t=0 is before any event, so all groups fully qualify
        got = ds._seq_at_time(hub_dir, pid, 0, b[pid][1])
    assert got == b[pid][0]


def test_compaction_evicts_footer_stat_cache(spark, tmp_path):
    """compact_hub_log swaps in new part files; memoized footer stats
    for the dead paths must not linger (ADVICE r7: unbounded growth
    over repeated compactions)."""
    from spark_eventhubs_spark.sources import datasource as ds

    hub = ds.materialize_hub(spark, SF_DIR, str(tmp_path / "evhub"))
    ds.hub_bounds(hub)  # populate the memo from the pre-compact files
    pre_keys = {k for k in ds._RG_STATS_CACHE if k[0].startswith(hub)}
    assert pre_keys
    ds.compact_hub_log(spark, hub)
    live = {
        k for k in ds._RG_STATS_CACHE
        if k[0].startswith(hub) and not os.path.exists(k[0])
    }
    assert not live, f"stale cache keys for deleted files: {live}"
    # bounds still correct from the new files
    assert all(hi > lo for lo, hi in ds.hub_bounds(hub).values())


# ------------------------------------ read-task planning (pure pyarrow)

def _write_log(hub, counts, files_per_partition=4, row_group_size=None):
    """A hub log written directly with pyarrow: ``counts[pid]`` events
    per partition, dense seqNos from 0, split over sorted files."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from spark_eventhubs_spark.sources.datasource import _arrow_file_schema

    fs = _arrow_file_schema()
    for pid, n in counts.items():
        pdir = os.path.join(hub, f"partition={pid}")
        os.makedirs(pdir, exist_ok=True)
        step = -(-n // files_per_partition)
        for i, lo in enumerate(range(0, n, step)):
            seq = list(range(lo, min(n, lo + step)))
            tbl = pa.table(
                [
                    pa.array([f"{pid}:{s}".encode() for s in seq], pa.binary()),
                    pa.array([str(s) for s in seq], pa.string()),
                    pa.array(seq, pa.int64()),
                    pa.array([1_704_067_200_000_000 + s for s in seq],
                             pa.timestamp("us", tz="UTC")),
                    pa.nulls(len(seq), pa.string()),
                    pa.nulls(len(seq), pa.string()),
                    pa.array([[]] * len(seq), pa.map_(pa.string(), pa.string())),
                    pa.array([[]] * len(seq), pa.map_(pa.string(), pa.string())),
                ],
                schema=fs,
            )
            papq.write_table(tbl, os.path.join(pdir, f"part-{i:05d}.parquet"),
                             row_group_size=row_group_size)
    return hub


def _read_all(reader, parts):
    got = []
    for p in parts:
        for b in reader.read(p):
            got.extend(zip(b.column("partition").to_pylist(),
                           b.column("sequenceNumber").to_pylist(),
                           b.column("body").to_pylist()))
    return got


def test_small_batch_packs_into_one_task(tmp_path):
    """A 3k-event batch over 4 partitions is one read task, and that
    task yields every (partition, seqNo) of every range exactly once,
    each range in seqNo order."""
    from spark_eventhubs_spark.sources.datasource import EventHubsBatchReader

    hub = _write_log(str(tmp_path / "hub"), {0: 1200, 1: 900, 2: 600, 3: 300})
    reader = EventHubsBatchReader({"path": hub})
    parts = reader.partitions()
    assert len(parts) == 1
    (p,) = parts
    assert [r.partition_id for r in p.ranges] == [0, 1, 2, 3]
    assert (p.partition_id, p.from_seq_no, p.until_seq_no) == (0, 0, 1200)
    got = _read_all(reader, parts)
    expect = [(str(pid), s, f"{pid}:{s}".encode())
              for pid, n in ((0, 1200), (1, 900), (2, 600), (3, 300))
              for s in range(n)]
    assert got == expect


def test_large_batch_keeps_one_task_per_partition(tmp_path):
    """An 80k-event batch skewed 40/30/20/10 plans one task per hub
    partition (partition-aligned, like the reference's RDD), each
    reading only its own range."""
    from spark_eventhubs_spark.sources.datasource import (
        EVENTS_PER_TASK,
        EventHubsBatchReader,
    )

    counts = {0: 32_000, 1: 24_000, 2: 16_000, 3: 8_000}
    assert sum(counts.values()) >= len(counts) * EVENTS_PER_TASK
    hub = _write_log(str(tmp_path / "hub"), counts, files_per_partition=8)
    reader = EventHubsBatchReader({"path": hub})
    parts = reader.partitions()
    assert [(p.partition_id, len(p.ranges)) for p in parts] == [
        (0, 1), (1, 1), (2, 1), (3, 1)]
    for p in parts:
        rows = _read_all(reader, [p])
        assert [s for _, s, _ in rows] == list(range(counts[p.partition_id]))
        assert {pid for pid, _, _ in rows} == {str(p.partition_id)}


def test_packing_is_greedy_largest_first():
    """Ranges stay whole and go largest first onto the least-loaded
    task; task count is ceil(events / EVENTS_PER_TASK) capped by the
    range count."""
    from spark_eventhubs_spark.sources import datasource as ds

    per = ds.EVENTS_PER_TASK
    start = {0: 0, 1: 0, 2: 0, 3: 0}
    end = {0: per, 1: per * 3 // 4, 2: per // 2, 3: per // 4}
    bounds = {pid: (0, e) for pid, e in end.items()}
    parts = ds._plan_range_partitions("/nonexistent", start, end, bounds)
    assert [[r.partition_id for r in p.ranges] for p in parts] == [[0], [1], [2, 3]]
    # no events, no tasks; a drained partition plans no range
    assert ds._plan_range_partitions("/nonexistent", end, end, bounds) == []


def test_row_group_lost_between_plan_and_read_breaks_receive_contract(tmp_path):
    """A planned row group that lost events before the read raises the
    receive-contract error for that partition, even inside a packed
    task that reads other partitions first."""
    import pyarrow.parquet as papq

    from spark_eventhubs_spark.sources.datasource import EventHubsBatchReader

    hub = _write_log(str(tmp_path / "hub"), {0: 500, 1: 500, 2: 500, 3: 500},
                     files_per_partition=2, row_group_size=100)
    reader = EventHubsBatchReader({"path": hub})
    (p,) = reader.partitions()
    assert len(p.ranges) == 4
    victim = os.path.join(hub, "partition=2", "part-00001.parquet")
    tbl = papq.read_table(victim)
    papq.write_table(tbl.filter(
        tbl.column("sequenceNumber").to_numpy() != 420), victim, row_group_size=100)
    with pytest.raises(RuntimeError, match=r"receive contract violated: partition 2 "
                       r"\[0,500\) expected 500 events, got 499"):
        _read_all(reader, [p])


def test_planning_reads_no_data_pages(tmp_path, monkeypatch):
    """partitions() plans files and row groups from footer statistics
    alone; data pages are read only by the task."""
    import pyarrow.parquet as papq

    from spark_eventhubs_spark.sources.datasource import (
        EventHubsBatchReader,
        EventHubsStreamReader,
    )

    hub = _write_log(str(tmp_path / "hub"), {0: 300, 1: 200})

    def no_pages(*a, **k):
        raise AssertionError("data pages read while planning")

    with monkeypatch.context() as m:
        for name in ("read_row_groups", "read_row_group", "read", "iter_batches"):
            m.setattr(papq.ParquetFile, name, no_pages)
        m.setattr(papq, "read_table", no_pages)
        batch_parts = EventHubsBatchReader({"path": hub}).partitions()
        stream = EventHubsStreamReader({"path": hub})
        stream_parts = stream.partitions({"events": {"0": 10, "1": 0}},
                                         {"events": {"0": 300, "1": 150}})
    assert sum(len(p.ranges) for p in batch_parts) == 2
    assert len(_read_all(stream, stream_parts)) == 290 + 150


def test_module_import_leaves_pyarrow_dataset_unloaded():
    """The read path is pyarrow.parquet only; importing the DataSource
    module (once per streaming query in Spark's source runner) must not
    pull in pyarrow.dataset."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys; import spark_eventhubs_spark.sources.datasource; "
         "print('pyarrow.dataset' in sys.modules)"],
        cwd=root, capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == "False"


# --------------------------------------- commit routing (pure pyarrow)

def _stage(hub, name, rows):
    """Stage (body, partition, partitionKey, properties) rows the way
    the writers do."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    staging = os.path.join(hub, "_staging")
    os.makedirs(staging, exist_ok=True)
    path = os.path.join(staging, name)
    papq.write_table(pa.table({
        "body": pa.array([r[0] for r in rows], pa.binary()),
        "partition": pa.array([r[1] for r in rows], pa.string()),
        "partitionKey": pa.array([r[2] for r in rows], pa.string()),
        "properties": pa.array([r[3] for r in rows], pa.map_(pa.string(), pa.string())),
    }), path)
    return path


def _committed(hub):
    """{pid: [(seqNo, body, partitionKey, properties), ...]} in seqNo order."""
    import pyarrow.parquet as papq

    from spark_eventhubs_spark.sources.datasource import _parquet_files, _partition_dirs

    out = {}
    for pid, d in _partition_dirs(hub).items():
        rows = [r for f in _parquet_files(d) for r in papq.read_table(f).to_pylist()]
        for r in rows:
            assert r["offset"] == str(r["sequenceNumber"])
            assert r["publisher"] is None and r["systemProperties"] == []
        out[pid] = sorted((r["sequenceNumber"], r["body"], r["partitionKey"],
                           r["properties"]) for r in rows)
    return out


def test_commit_routes_and_numbers_like_the_per_row_rules(tmp_path):
    """Pinned rows go to their partition, keyed rows to md5(key) mod N,
    and the rest round-robin from the hub's event total, in staged-file
    then row order; seqNos are dense per partition and continue across
    commits."""
    import hashlib

    from spark_eventhubs_spark.sources.datasource import commit_staged_paths

    hub = str(tmp_path / "hub")
    os.makedirs(hub)
    a = [(b"a0", "2", None, [("k", "v")]), (b"a1", None, "alpha", []),
         (b"a2", None, None, []), (b"a3", None, "beta", [("x", "1"), ("y", "2")]),
         (b"a4", None, "alpha", []), (b"a5", None, None, []), (b"a6", "0", None, [])]
    b = [(b"b0", None, None, [("n", "0")]), (b"b1", None, "beta", []),
         (b"b2", "2", None, []), (b"b3", None, None, []), (b"b4", None, "gamma", [])]
    c = [(b"c0", None, None, []), (b"c1", None, "alpha", []), (b"c2", "3", None, [])]

    def expected(batches, state):
        # the per-row rules, written out by hand
        for rows in batches:
            for body, part, key, props in rows:
                if part is not None:
                    pid = int(part)
                elif key is not None:
                    pid = int.from_bytes(hashlib.md5(key.encode()).digest()[:8], "big") % 4
                else:
                    pid = state["rr"] % 4
                    state["rr"] += 1
                seq = state["next"].get(pid, 0)
                state["next"][pid] = seq + 1
                state["rows"].setdefault(pid, []).append((seq, body, key, props))
        return {pid: sorted(rs) for pid, rs in state["rows"].items()}

    state = {"rr": 0, "next": {}, "rows": {}}
    paths = [_stage(hub, "s-0.parquet", a), _stage(hub, "s-1.parquet", b)]
    assert commit_staged_paths(hub, paths, "t0", 4) == len(a) + len(b)
    assert _committed(hub) == expected([a, b], state)
    assert not os.listdir(os.path.join(hub, "_staging"))
    # the round-robin cursor restarts from the hub's event total
    state["rr"] = len(a) + len(b)
    assert commit_staged_paths(hub, [_stage(hub, "s-2.parquet", c)], "t1", 4) == 3
    assert _committed(hub) == expected([c], state)
    for rows in _committed(hub).values():
        assert [r[0] for r in rows] == list(range(len(rows)))


def test_commit_with_no_rows_writes_nothing(tmp_path):
    from spark_eventhubs_spark.sources.datasource import commit_staged_paths

    hub = str(tmp_path / "hub")
    os.makedirs(hub)
    assert commit_staged_paths(hub, [_stage(hub, "s.parquet", [])], "t0") == 0
    assert commit_staged_paths(hub, [], "t1") == 0
    assert _committed(hub) == {}


def test_writer_rejects_both_routings_at_write_time(tmp_path):
    from pyspark.sql import Row
    from pyspark.sql.types import StringType, StructField, StructType

    from spark_eventhubs_spark.sources.datasource import EventHubsStreamWriter

    schema = StructType([StructField(n, StringType())
                         for n in ("body", "partition", "partitionKey")])
    w = EventHubsStreamWriter({"path": str(tmp_path / "hub")}, schema)
    rows = [Row(body="a", partition="1", partitionKey=None),
            Row(body="b", partition="1", partitionKey="k")]
    with pytest.raises(ValueError, match="mutually exclusive"):
        w.write(iter(rows))


def test_commit_rejects_pinned_partition_outside_the_hub(tmp_path):
    """A pinned id outside [0, N) names no partition and must not create
    one: N is the configured partition count, else the larger of the
    hub's partition directories and the default of 4."""
    from spark_eventhubs_spark.sources.datasource import commit_staged_paths, hub_bounds

    hub = str(tmp_path / "hub")
    os.makedirs(hub)
    for pid in ("7", "4", "-1"):
        staged = _stage(hub, "s.parquet", [(b"x", "0", None, []), (b"y", pid, None, [])])
        with pytest.raises(ValueError, match=f"partition id {pid} does not exist"):
            commit_staged_paths(hub, [staged], "t0")
        assert not os.path.exists(os.path.join(hub, f"partition={pid}"))
    # nothing was committed, not even the valid row
    assert hub_bounds(hub, 4) == {p: (0, 0) for p in range(4)}
    # an explicit partition count admits ids below it, and only those
    staged = _stage(hub, "s7.parquet", [(b"z", "7", None, [])])
    assert commit_staged_paths(hub, [staged], "t1", partition_count=8) == 1
    with pytest.raises(ValueError, match="partition id 7 does not exist"):
        commit_staged_paths(hub, [_stage(hub, "s7.parquet", [(b"z", "7", None, [])])],
                            "t2", partition_count=4)
    # unset: a hub that already has 8 partition dirs keeps accepting 0..7
    for pid in range(8):
        os.makedirs(os.path.join(hub, f"partition={pid}"), exist_ok=True)
    assert commit_staged_paths(
        hub, [_stage(hub, "s6.parquet", [(b"w", "6", None, [])])], "t3") == 1
    assert hub_bounds(hub)[6] == (0, 1) and hub_bounds(hub)[7] == (0, 1)


def test_batch_sink_rejects_pinned_partition_outside_the_hub(spark, tmp_path):
    register_eventhubs(spark)
    hub = str(tmp_path / "hub")
    os.makedirs(hub)
    df = spark.createDataFrame([("a", "0"), ("b", "7")], "body string, partition string")
    with pytest.raises(Exception, match="partition id 7 does not exist"):
        df.write.format("eventhubs").mode("append").option("path", hub).save()
    assert hub_bounds(hub) == {}
    (df.write.format("eventhubs").mode("append").option("path", hub)
     .option("eventhubs.partitionCount", "8").save())
    assert hub_bounds(hub) == {0: (0, 1), 7: (0, 1)}

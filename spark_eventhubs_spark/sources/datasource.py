"""Native Spark 4 Python DataSource: ``spark.read.format("eventhubs")``.

The reference registers ``"eventhubs"`` through Java's DataSourceRegister
(core/src/main/resources/META-INF/services, provider
core/src/main/scala/org/apache/spark/sql/eventhubs/EventHubsSourceProvider.scala:56-64)
and exposes: a fixed-schema batch relation (EventHubsRelation.scala), a
micro-batch streaming source (EventHubsSource.scala), and batch/stream
sinks (EventHubsSourceProvider.scala:108-141, EventHubsSink.scala). This
module is the same surface through PySpark 4's DataSource API, so users
write exactly the idiomatic calls the reference documents:

    spark.dataSource.register(EventHubsDataSource)       # once
    df  = spark.read.format("eventhubs").options(**conf).load()
    sdf = spark.readStream.format("eventhubs").options(**conf).load()
    df.write.format("eventhubs").mode("append").options(**conf).save()
    (sdf.writeStream.format("eventhubs").options(**conf)
        .option("checkpointLocation", ckpt).start())

Storage is a **materialized hub directory**: hive layout
``partition=<pid>/*.parquet`` in the canonical 9-column schema minus the
partition key column, each file sorted by ``sequenceNumber``. This is
the file-backed analogue of the service's per-partition append-only log
(SURVEY §1.1) and what :func:`materialize_hub` writes.

Scale design (100 TB):
- **Planning is metadata-only.** earliest/latest per partition come
  from parquet footer row-group statistics (`hub_bounds`) — no data
  pages are read to plan a batch, mirroring the reference's
  ``allBoundedSeqNos`` service probe (EventHubsClient.scala:124-139).
- **Read tasks sized to the micro-batch.** The planner resolves each
  (hub partition, seqNo range) to the files and row groups that hold
  it, from the same footer memo ``hub_bounds`` uses, and packs the
  ranges into ``min(#ranges, ceil(events / EVENTS_PER_TASK))`` tasks.
  A large batch keeps the reference's partition-aligned parallelism
  (EventHubsRDD.scala:46-57), one task per hub partition; a small
  trigger becomes one task, because every Python task costs a worker
  round trip that a few thousand events do not repay. A task reads
  only its planned row groups, via Arrow end to end.
- **Rate limiting** reuses the proportional backlog-weighted split
  (streaming/ratelimit.py, ref EventHubsSource.scala:263-319) inside
  ``latestOffset``, after the optional ``maxRatePerPartition`` clamp
  and weighted by the slow-partition tracker when
  ``slowPartitionAdjustment`` is on; the streaming engine's own offset
  log provides exactly-once planning.
- The write path stages per-task Arrow files, then ``commit()``
  assigns dense per-partition sequence numbers centrally — the role
  the service's broker plays on arrival; at-least-once delivery with
  batchId idempotence, matching the reference sink
  (EventHubsSink.scala:35-42).

``read_eventhubs(spark, conf)`` and ``write_eventhubs(df, conf)`` are
thin wrappers over the same format for ``EventHubsConf`` users.

Deployment note: like any Python DataSource, the package must be
importable by Spark's Python workers (pip-install on executors, or
PYTHONPATH; tests/bench set PYTHONPATH before session start).
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import threading
import time
import uuid
from dataclasses import dataclass
from typing import Callable, Dict, Iterator, List, NamedTuple, Optional, Sequence, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pacompute
import pyarrow.parquet as papq

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from spark_eventhubs_spark.conf import (
    DEFAULT_PARTITION_COUNT,
    PARTITION_COUNT_KEY,
    EventHubsConf,
)
from spark_eventhubs_spark.streaming.tracker import (
    TRACKING_BATCH_COUNT,
    PartitionsStatusTracker,
)

log = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# schema (ref EventHubsSourceProvider.scala:152-165)
# ---------------------------------------------------------------------------

HUB_SCHEMA_DDL = (
    "body binary, partition string, offset string, sequenceNumber long, "
    "enqueuedTime timestamp, publisher string, partitionKey string, "
    "properties map<string,string>, systemProperties map<string,string>"
)

# columns physically stored in the part files (partition = hive dir key)
_FILE_COLUMNS = [
    "body", "offset", "sequenceNumber", "enqueuedTime",
    "publisher", "partitionKey", "properties", "systemProperties",
]


def _arrow_file_schema() -> pa.Schema:
    return pa.schema(
        [
            pa.field("body", pa.binary()),
            pa.field("offset", pa.string()),
            pa.field("sequenceNumber", pa.int64()),
            pa.field("enqueuedTime", pa.timestamp("us", tz="UTC")),
            pa.field("publisher", pa.string()),
            pa.field("partitionKey", pa.string()),
            pa.field("properties", pa.map_(pa.string(), pa.string())),
            pa.field("systemProperties", pa.map_(pa.string(), pa.string())),
        ]
    )


def _arrow_out_schema() -> pa.Schema:
    fs = _arrow_file_schema()
    return pa.schema(
        [fs.field("body"), pa.field("partition", pa.string())]
        + [fs.field(n) for n in _FILE_COLUMNS[1:]]
    )


# ---------------------------------------------------------------------------
# metadata-only planning helpers
# ---------------------------------------------------------------------------

def _partition_dirs(hub_dir: str) -> Dict[int, str]:
    out: Dict[int, str] = {}
    if not os.path.isdir(hub_dir):
        return out
    for name in os.listdir(hub_dir):
        if name.startswith("partition="):
            try:
                out[int(name.split("=", 1)[1])] = os.path.join(hub_dir, name)
            except ValueError:
                continue
    return out


def _parquet_files(d: str) -> List[str]:
    return sorted(
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


# Footer-stat memo keyed by (path, column) -> ((mtime_ns, size), stats).
# Hub-log parquet files are IMMUTABLE once visible (writers stage to a
# temp name and rename on commit), so a file's footer statistics never
# change for a given (mtime, size) — re-opening the footer on every
# micro-batch made the planner spend half its per-trigger budget in
# pyarrow ParquetFile.__init__ (r6→r7 bench planner regression). A
# replaced path (same name, new mtime/size) overwrites its slot, so the
# memo is bounded by live file count.
_RG_STATS_CACHE: Dict[Tuple[str, str], Tuple[Tuple[int, int], list]] = {}


def _evict_rg_stats(path_prefix: str) -> int:
    """Drop memoized footer stats for paths under ``path_prefix``.

    Called by :func:`compact_hub_log` / :func:`truncate_hub_log` after
    their directory swap: those rewrite the whole file set under new
    part names, so the old paths' cache slots would otherwise live for
    the driver's lifetime (the per-slot overwrite only covers in-place
    path reuse). Returns the number of entries dropped.
    """
    prefix = path_prefix.rstrip("/") + "/"
    dead = [k for k in _RG_STATS_CACHE if k[0].startswith(prefix)]
    for k in dead:
        del _RG_STATS_CACHE[k]
    return len(dead)


def _rg_stats(path: str, column: str) -> List[Tuple[int, int, object, object]]:
    """Per row group: (index, num_rows, stat_min, stat_max) for column.
    Memoized per (path, mtime, size) — see ``_RG_STATS_CACHE``."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        # the file vanished (compaction/truncation swap): purge any
        # stale slot for it before propagating, so the cache can't
        # accumulate dead keys even off the explicit eviction paths
        _RG_STATS_CACHE.pop((path, column), None)
        raise
    tag = (st.st_mtime_ns, st.st_size)
    hit = _RG_STATS_CACHE.get((path, column))
    if hit is not None and hit[0] == tag:
        return hit[1]
    md = papq.ParquetFile(path).metadata
    try:
        ci = [md.schema.column(i).name for i in range(md.num_columns)].index(column)
    except ValueError:
        _RG_STATS_CACHE[(path, column)] = (tag, [])
        return []
    out = []
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        cst = rg.column(ci).statistics
        out.append(
            (i, rg.num_rows, cst.min if cst else None, cst.max if cst else None)
        )
    _RG_STATS_CACHE[(path, column)] = (tag, out)
    return out


def hub_bounds(
    hub_dir: str, partition_count: Optional[int] = None
) -> Dict[int, Tuple[int, int]]:
    """(earliest, latest=last+1) per partition from parquet footer
    statistics only — the ``allBoundedSeqNos`` probe
    (ref EventHubsClient.scala:124-139) without reading data pages.
    Empty partitions report earliest == latest
    (ref SimulatedEventHubs.scala:248-256)."""
    out: Dict[int, Tuple[int, int]] = {}
    for pid, d in _partition_dirs(hub_dir).items():
        lo, hi = None, None
        for f in _parquet_files(d):
            for _, n, mn, mx in _rg_stats(f, "sequenceNumber"):
                if n == 0 or mn is None:
                    continue
                lo = int(mn) if lo is None else min(lo, int(mn))
                hi = int(mx) if hi is None else max(hi, int(mx))
        out[pid] = (lo, hi + 1) if lo is not None else (0, 0)
    if partition_count is not None:
        for pid in range(partition_count):
            out.setdefault(pid, (0, 0))
    return out


def _stat_us(v) -> int:
    """Footer timestamp statistic -> int microseconds since epoch."""
    return v.value if hasattr(v, "value") else int(
        pa.scalar(v, pa.timestamp("us")).value
    )


def _seq_at_time(hub_dir: str, pid: int, t_us: int, latest: int) -> int:
    """min(seqNo) with enqueuedTime >= t in one partition; past-end
    times resolve to latest (ref EventHubsClient.scala:306-338).

    Stats-first (round-7 verdict item 2 — the old path iterated every
    row past t in driver Python, O(backlog) for early timestamps):

    - row groups with max(enqueuedTime) < t are skipped (no row
      qualifies);
    - row groups with min(enqueuedTime) >= t qualify ENTIRELY, so
      their footer min(sequenceNumber) is the exact candidate — zero
      data pages read; for a time near stream start this resolves the
      whole partition from footers alone;
    - only boundary groups (min < t <= max) are read, and filtered
      with vectorized ``pyarrow.compute`` instead of per-row Python;
    - a group whose footer min(sequenceNumber) can't beat the current
      best is pruned without reading. Exact regardless of
      enqueuedTime/seqNo ordering — no monotonicity assumption.
    """
    d = _partition_dirs(hub_dir).get(pid)
    if d is None:
        return latest
    t_scalar = pa.scalar(t_us, pa.timestamp("us", tz="UTC"))
    best: Optional[int] = None
    for f in _parquet_files(d):
        # seqNo footer stats are fetched lazily, on the first row group
        # that passes the enqueuedTime filter: a past-end probe (the
        # common latest-position path) then touches only enqueuedTime
        # footers and allocates no sequenceNumber cache slots
        seq_min: Optional[Dict[int, int]] = None
        pf = None
        for i, n, mn, mx in _rg_stats(f, "enqueuedTime"):
            if n == 0 or mx is None or _stat_us(mx) < t_us:
                continue
            if seq_min is None:
                seq_min = {
                    i2: int(mn2)
                    for i2, n2, mn2, _ in _rg_stats(f, "sequenceNumber")
                    if n2 and mn2 is not None
                }
            smn = seq_min.get(i)
            if best is not None and smn is not None and smn >= best:
                continue
            if mn is not None and _stat_us(mn) >= t_us and smn is not None:
                cand = smn  # whole group qualifies: footer min is exact
            else:
                if pf is None:
                    pf = papq.ParquetFile(f)
                tbl = pf.read_row_groups(
                    [i], columns=["sequenceNumber", "enqueuedTime"]
                )
                enq = tbl.column("enqueuedTime").cast(
                    pa.timestamp("us", tz="UTC")
                )
                seqs = pacompute.filter(
                    tbl.column("sequenceNumber"),
                    pacompute.greater_equal(enq, t_scalar),
                )
                if len(seqs) == 0:
                    continue
                cand = pacompute.min(seqs).as_py()
            best = cand if best is None else min(best, cand)
    return best if best is not None else latest


# ---------------------------------------------------------------------------
# options → plan (runs in Spark's python planner process)
# ---------------------------------------------------------------------------

def _hub_dir_from_options(options) -> str:
    path = options.get("path") or options.get("hubdir")
    if path:
        return path
    cs = options.get("eventhubs.connectionstring")
    if cs:
        from spark_eventhubs_spark.connstr import ConnectionStringBuilder
        from spark_eventhubs_spark.crypto import decrypt_or_plaintext

        # option maps built from EventHubsConf.to_map() carry the
        # encrypted form (the reference's toConf decrypt moment —
        # EventHubsConf.scala:727-731)
        b = ConnectionStringBuilder.parse(decrypt_or_plaintext(cs))
        root = (b.endpoint or "").removeprefix("file://")
        return os.path.join(root, b.entity_path or "events")
    raise ValueError(
        "eventhubs datasource needs .option('path', <hub dir>) or "
        "eventhubs.connectionString with a file:// endpoint"
    )


def _resolve_positions(
    conf, hub_dir: str, bounds: Dict[int, Tuple[int, int]], use_start: bool
) -> Dict[int, int]:
    """EventPosition → seqNo per partition against footer-stat bounds
    (ref EventHubsClient.scala:264-353, SimulatedClient.scala:89-113):
    a seqNo passes through raw, isInclusive ignored, because ranges are
    [from, until); start/end sentinels are the partition's earliest and
    latest; an offset is a stringified seqNo; an enqueuedTime resolves
    to the first seqNo at or after it, or latest when it is past the
    newest event. Starts below earliest clamp later, in planning."""
    out: Dict[int, int] = {}
    for pid, (lo, hi) in bounds.items():
        pos = (conf.starting_position_for(pid) if use_start
               else conf.ending_position_for(pid))
        if pos.seq_no is not None:
            out[pid] = pos.seq_no
        elif pos.is_start_of_stream:
            out[pid] = lo
        elif pos.is_end_of_stream:
            out[pid] = hi
        elif pos.offset is not None:
            out[pid] = int(pos.offset)
        elif pos.enqueued_time is not None:
            t_us = int(pos.enqueued_time.timestamp() * 1_000_000)
            out[pid] = _seq_at_time(hub_dir, pid, t_us, hi)
        else:
            raise ValueError(f"unresolvable position for partition {pid}")
    return out


# Events one read task is sized for. Each task costs a Python worker
# round trip per trigger, plus a Python write task and a staged file
# when the query writes to a hub, so a few-thousand-event trigger runs
# fastest as one task. On a 4-core host, 80k-event backlog triggers
# drained within run-to-run noise as 1, 2 or 4 tasks, so at this size
# a large batch keeps the reference's one task per hub partition.
EVENTS_PER_TASK = 20_000


class PlannedRange(NamedTuple):
    """One hub partition's seqNo range [from, until) and the row groups
    that hold it, as ((file path, (row group index, ...)), ...)."""

    partition_id: int
    from_seq_no: int
    until_seq_no: int
    row_groups: Tuple[Tuple[str, Tuple[int, ...]], ...]

    @property
    def width(self) -> int:
        return self.until_seq_no - self.from_seq_no


@dataclass
class RangeInputPartition(InputPartition):
    """One read task. ``ranges`` are the planned ranges it reads, in
    partition order; the four scalar fields describe the first one."""

    hub_dir: str
    partition_id: int
    from_seq_no: int
    until_seq_no: int
    ranges: Tuple[PlannedRange, ...] = ()


def _range_row_groups(
    pdir: Optional[str], frm: int, until: int
) -> Tuple[Tuple[str, Tuple[int, ...]], ...]:
    """Files and row groups whose footer seqNo stats overlap
    [frm, until); a group without stats is kept (it may hold events)."""
    if pdir is None:
        return ()
    out = []
    for f in _parquet_files(pdir):
        rgs = tuple(
            i for i, n, mn, mx in _rg_stats(f, "sequenceNumber")
            if n and (mn is None or mx is None or (int(mn) < until and int(mx) >= frm))
        )
        if rgs:
            out.append((f, rgs))
    return tuple(out)


def _plan_range_partitions(
    hub_dir: str,
    start: Dict[int, int],
    end: Dict[int, int],
    earliest: Dict[int, Tuple[int, int]],
) -> List[RangeInputPartition]:
    """Plan each partition's range from footer stats, then pack the
    ranges into tasks: largest range first onto the least-loaded task,
    ranges kept whole, so a batch of at least EVENTS_PER_TASK events per
    range stays partition-aligned."""
    dirs = _partition_dirs(hub_dir)
    ranges = []
    for pid in sorted(end):
        frm = start.get(pid, 0)
        # data-loss guard: clamp to earliest (ref EventHubsSource.scala:246-260)
        lo = earliest.get(pid, (0, 0))[0]
        if frm < lo:
            log.warning(
                "partition %s: requested start seqNo %s is below the earliest "
                "seqNo %s; the events in between have expired, clamping to "
                "earliest", pid, frm, lo,
            )
            frm = lo
        until = end[pid]
        if until > frm:
            ranges.append(
                PlannedRange(pid, frm, until, _range_row_groups(dirs.get(pid), frm, until))
            )
    if not ranges:
        return []
    n_tasks = min(len(ranges), -(-sum(r.width for r in ranges) // EVENTS_PER_TASK))
    tasks: List[List[PlannedRange]] = [[] for _ in range(n_tasks)]
    load = [0] * n_tasks
    for r in sorted(ranges, key=lambda r: (-r.width, r.partition_id)):
        i = load.index(min(load))
        tasks[i].append(r)
        load[i] += r.width
    for t in tasks:
        t.sort(key=lambda r: r.partition_id)
    return [
        RangeInputPartition(
            hub_dir, t[0].partition_id, t[0].from_seq_no, t[0].until_seq_no, tuple(t)
        )
        for t in sorted(tasks, key=lambda t: t[0].partition_id)
    ]


# ---------------------------------------------------------------------------
# executor-side read (pure pyarrow)
# ---------------------------------------------------------------------------

def _read_range(
    p: RangeInputPartition,
    on_range: Optional[Callable[[int, int, int, int], None]] = None,
) -> Iterator[pa.RecordBatch]:
    """Read a task's planned ranges as Arrow batches: only the planned
    row groups are read, each masked to its range, and the receive
    contract — seqNo-sorted, exactly until-from rows per range
    (ref CachedEventHubsReceiver.scala:227-287) — is enforced before a
    range is yielded. ``on_range(partition, from seqNo, events,
    elapsed ms)`` is called once each range has been received."""
    out_schema = _arrow_out_schema()
    if not p.ranges:
        yield from out_schema.empty_table().to_batches()
        return
    file_schema = _arrow_file_schema()
    for r in p.ranges:
        t0 = time.perf_counter()
        pieces = []
        for path, rgs in r.row_groups:
            tbl = papq.ParquetFile(path).read_row_groups(list(rgs), columns=_FILE_COLUMNS)
            seq = tbl.column("sequenceNumber")
            keep = pacompute.and_(
                pacompute.greater_equal(seq, r.from_seq_no),
                pacompute.less(seq, r.until_seq_no),
            )
            pieces.append(tbl.filter(keep).cast(file_schema))
        tbl = pa.concat_tables(pieces) if pieces else file_schema.empty_table()
        tbl = tbl.sort_by("sequenceNumber")
        n = tbl.num_rows
        if n != r.width:
            raise RuntimeError(
                f"receive contract violated: partition {r.partition_id} "
                f"[{r.from_seq_no},{r.until_seq_no}) expected "
                f"{r.width} events, got {n}"
            )
        if on_range is not None:
            on_range(r.partition_id, r.from_seq_no, n,
                     int((time.perf_counter() - t0) * 1000))
        tbl = tbl.add_column(
            1, out_schema.field("partition"),
            pa.array([str(r.partition_id)] * n, pa.string()),
        )
        yield from tbl.to_batches(max_chunksize=65536)


# ---------------------------------------------------------------------------
# batch reader (ref EventHubsRelation.scala:45-71)
# ---------------------------------------------------------------------------

def _open_conf(options):
    """The reader's conf. The AAD callback runs here, when a reader is
    created: the moment the reference's client opens its connection
    (ref client/ClientConnectionPool.scala:63-80). A bad class path or a
    failing token acquisition fails the read before anything is
    planned; the file-backed hub needs no token afterwards."""
    from spark_eventhubs_spark.auth import acquire_connection_token

    conf = EventHubsConf.from_map(options)
    acquire_connection_token(conf)
    return conf


class EventHubsBatchReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.options = options
        self._conf = _open_conf(options)

    def partitions(self) -> Sequence[InputPartition]:
        hub_dir = _hub_dir_from_options(self.options)
        conf = self._conf
        bounds = hub_bounds(hub_dir, conf.partition_count)
        start = _resolve_positions(conf, hub_dir, bounds, use_start=True)
        end = _resolve_positions(conf, hub_dir, bounds, use_start=False)
        end = {pid: min(e, bounds[pid][1]) for pid, e in end.items()}
        parts = _plan_range_partitions(hub_dir, start, end, bounds)
        # an all-empty scan still needs one (empty) partition
        return parts or [RangeInputPartition(hub_dir, 0, 0, 0)]

    def read(self, partition: RangeInputPartition) -> Iterator[pa.RecordBatch]:
        return _read_range(partition)


# ---------------------------------------------------------------------------
# receive log: the slow-partition tracker's input
# (ref PartitionPerformanceReceiver.scala:27-67)
# ---------------------------------------------------------------------------

def _write_json(path: str, obj) -> None:
    """Write-then-rename, so a reader in another process only ever sees
    a complete file. The temp name is the writer's own: a retried task
    can write the same record while its first attempt still runs."""
    tmp = f"{path}.{os.getpid()}-{threading.get_ident()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def _read_json(path: str):
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None  # pruned or replaced since it was listed


class _ReceiveLog:
    """What ``slowPartitionAdjustment`` needs across Spark's processes,
    as small files under ``<hub>/_receive/<consumerGroup>/``:

    - ``batch-<sum of from seqNos>.json``: one planned batch's ranges
      ``[[partition, from, until], ...]``, written by ``partitions()``;
    - ``recv-<partition>-<from>.json``: one range's
      ``[partition, from, events, elapsed ms]``, written by ``read()``.

    The reference's executors send the second kind to a driver RPC
    endpoint. Here ``latestOffset`` rebuilds a
    :class:`PartitionsStatusTracker` from the files instead. Only the
    tracker's window of batches is kept."""

    def __init__(self, hub_dir: str, group: str) -> None:
        self.dir = os.path.join(hub_dir, "_receive", group)

    def _names(self, prefix: str) -> List[str]:
        try:
            names = os.listdir(self.dir)
        except FileNotFoundError:
            return []
        return sorted(n for n in names if n.startswith(prefix) and n.endswith(".json"))

    def _drop(self, names) -> None:
        for name in names:
            try:
                os.remove(os.path.join(self.dir, name))
            except FileNotFoundError:
                pass

    def reset(self) -> None:
        self._drop(self._names(""))

    def record_batch(self, ranges: List[Tuple[int, int, int]]) -> None:
        os.makedirs(self.dir, exist_ok=True)
        key = sum(frm for _, frm, _ in ranges)
        _write_json(os.path.join(self.dir, f"batch-{key:020d}.json"), ranges)
        batches = self._names("batch-")
        self._drop(batches[:-TRACKING_BATCH_COUNT])
        live = {
            f"recv-{pid}-{frm}.json"
            for name in batches[-TRACKING_BATCH_COUNT:]
            for pid, frm, _ in _read_json(os.path.join(self.dir, name)) or []
        }
        self._drop(n for n in self._names("recv-") if n not in live)

    def record_receive(self, pid: int, frm: int, events: int, elapsed_ms: int) -> None:
        os.makedirs(self.dir, exist_ok=True)
        _write_json(os.path.join(self.dir, f"recv-{pid}-{frm}.json"),
                    [pid, frm, events, elapsed_ms])

    def performance_percentages(
        self, partition_count: int, acceptable_ms: int
    ) -> Optional[Dict[int, float]]:
        tracker = PartitionsStatusTracker(partition_count, acceptable_ms)
        batches = self._names("batch-")[-TRACKING_BATCH_COUNT:]
        for batch_id, name in enumerate(batches):
            ranges = _read_json(os.path.join(self.dir, name)) or []
            tracker.add_batch(batch_id, [PlannedRange(p, f, u, ()) for p, f, u in ranges])
        for name in self._names("recv-"):
            rec = _read_json(os.path.join(self.dir, name))
            if rec is not None:
                tracker.update_partition_performance(*rec)
        return tracker.partitions_performance_percentage()


# ---------------------------------------------------------------------------
# streaming reader (ref EventHubsSource.scala)
# ---------------------------------------------------------------------------

class EventHubsStreamReader(DataSourceStreamReader):
    """Micro-batch source: latestOffset probes footer-stat bounds and
    applies the admission controls (ref EventHubsSource.scala getOffset
    :206-244 + rateLimit :263-319); partitions() diffs two offsets into
    per-partition ranges (getBatch :329-420). Offsets are the
    reference's JSON shape {"<hub>": {"<pid>": seqNo}}
    (JsonUtils.scala:63-100).

    **Admission control.** ``maxRatePerPartition`` (per-partition
    ``maxRatesPerPartition`` entries beat it) caps each partition at
    ``from + maxRate_p`` (EventHubsDirectDStream.scala:97-105);
    ``maxEventsPerTrigger`` then splits its budget across partitions by
    backlog. With ``slowPartitionAdjustment`` on, the split is weighted
    by the tracker's performance percentages, rebuilt from the
    :class:`_ReceiveLog` that ``partitions()`` and ``read()`` write.

    **Throttle cursor.** Within a query Spark calls ``latestOffset``,
    ``initialOffset``, ``partitions`` and ``commit`` on ONE reader
    instance in one process (the streaming source runner); only
    ``read()`` runs in worker processes, each on its own copy. A fresh
    query calls ``latestOffset`` -> ``initialOffset`` -> ``partitions``;
    a restart first replays its offset log through ``partitions()``
    (the last committed range, then any uncommitted one) and only then
    calls ``latestOffset``. So the throttle position is plain instance
    state: ``_start`` is the configured start, resolved once, which
    ``initialOffset`` returns and a fresh query's first throttled
    ``latestOffset`` starts from; ``_cursor`` is the per-partition max
    of the last ``latestOffset`` answer and every ``partitions()`` end,
    which keeps the answers non-decreasing. The query's offset log is
    the only durable record of where the source stands, as in the
    reference (EventHubsSource.scala:118-244).

    **Trigger.AvailableNow + maxEventsPerTrigger.** Spark's Python
    streaming API exposes no SupportsTriggerAvailableNow hook, so an
    availableNow run snapshots ONE (rate-limited) latestOffset answer
    and stops after that single admission-controlled batch — the same
    semantics the reference has under Trigger.Once
    (EventHubsSource.scala getOffset applies the rate limit there
    too). Repeated availableNow runs against the same checkpoint
    resume from the offset log and drain the backlog incrementally
    with no duplicates (pinned in tests/test_datasource.py); for a
    full drain in one run either leave maxEventsPerTrigger unset or
    use a processingTime trigger + processAllAvailable()."""

    def __init__(self, options) -> None:
        self.options = options
        self.hub_dir = _hub_dir_from_options(options)
        self._conf = _open_conf(options)
        self.name = self._conf.name or os.path.basename(self.hub_dir.rstrip("/")) or "events"
        group = self._conf.consumer_group.replace("$", "_")
        self._receive_log = _ReceiveLog(self.hub_dir, group)
        self._start: Optional[Dict[int, int]] = None
        self._cursor: Dict[int, int] = {}

    def _pack(self, seq_nos: Dict[int, int]) -> dict:
        return {self.name: {str(p): int(s) for p, s in sorted(seq_nos.items())}}

    def _unpack(self, offset: dict) -> Dict[int, int]:
        (_, inner), = offset.items()
        return {int(p): int(s) for p, s in inner.items()}

    def _start_for(self, bounds: Dict[int, Tuple[int, int]]) -> Dict[int, int]:
        if self._start is None:
            self._start = _resolve_positions(self._conf, self.hub_dir, bounds, use_start=True)
        return self._start

    def _advance(self, seq_nos: Dict[int, int]) -> None:
        for pid, s in seq_nos.items():
            self._cursor[pid] = max(self._cursor.get(pid, 0), s)

    def initialOffset(self) -> dict:
        start = self._start_for(hub_bounds(self.hub_dir, self._conf.partition_count))
        if self._conf.slow_partition_adjustment:
            self._receive_log.reset()
        return self._pack(start)

    def latestOffset(self) -> dict:
        from spark_eventhubs_spark.streaming.ratelimit import rate_limit

        conf = self._conf
        bounds = hub_bounds(self.hub_dir, conf.partition_count)
        latest = {pid: b[1] for pid, b in bounds.items()}
        max_events = conf.max_events_per_trigger()
        if max_events is None and not conf.max_rate_configured:
            target = latest
        else:
            # a fresh query's first call precedes initialOffset: start
            # from the configured position so that trigger is throttled
            cursor = self._cursor or self._start_for(bounds)
            earliest = {pid: b[0] for pid, b in bounds.items()}
            start = {pid: max(cursor.get(pid, 0), earliest[pid]) for pid in latest}
            if conf.max_rate_configured:
                # applied before the proportional split, so both controls
                # compose; max(start, ...) holds at start if the hub's
                # latest ever regresses (EventHubsDirectDStream.scala:106)
                latest = {
                    pid: max(start[pid], min(hi, start[pid] + conf.max_rate_per_partition_for(pid)))
                    for pid, hi in latest.items()
                }
            target = latest
            if max_events is not None:
                factors = None
                if conf.slow_partition_adjustment:
                    factors = self._receive_log.performance_percentages(
                        len(latest), conf.max_acceptable_batch_receive_time_ms
                    )
                target = rate_limit(max_events, start, latest, earliest, factors)
        self._advance(target)
        return self._pack({pid: self._cursor[pid] for pid in target})

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        s, e = self._unpack(start), self._unpack(end)
        bounds = hub_bounds(self.hub_dir, self._conf.partition_count)
        # the offset log is authoritative: a restart replays it through
        # here before its first latestOffset
        self._advance(e)
        # new partitions appearing mid-stream start at their default
        # translated position (ref EventHubsSource.scala:183-192,350-366)
        for pid in set(e) - set(s):
            pos = self._conf.starting_position_for(pid)
            s[pid] = pos.seq_no if pos.seq_no is not None else bounds[pid][0]
        parts = _plan_range_partitions(self.hub_dir, s, e, bounds)
        if parts and self._conf.slow_partition_adjustment:
            # every partition of the batch, empty ones too: the tracker
            # counts an empty range as already reported. A batch with no
            # events is not recorded (the engine plans one when it
            # restarts): as the newest batch it would hide the last real one.
            planned = {r.partition_id: r.from_seq_no for p in parts for r in p.ranges}
            self._receive_log.record_batch(
                [[pid, planned.get(pid, e[pid]), e[pid]] for pid in sorted(e)]
            )
        return parts or [RangeInputPartition(self.hub_dir, 0, 0, 0)]

    def read(self, partition: RangeInputPartition) -> Iterator[pa.RecordBatch]:
        if self._conf.slow_partition_adjustment:
            return _read_range(partition, self._receive_log.record_receive)
        return _read_range(partition)


# ---------------------------------------------------------------------------
# write path (ref EventHubsWriter/EventHubsWriteTask/EventHubsSink)
# ---------------------------------------------------------------------------

@dataclass
class StagedFileMessage(WriterCommitMessage):
    path: str
    num_rows: int


def _validate_write_schema(schema: StructType) -> Dict[str, Optional[str]]:
    """body (string|binary) required; partition/partitionId, partitionKey,
    properties optional — ref EventHubsWriter.scala:41-62."""
    names = {f.name: f.dataType.simpleString() for f in schema.fields}
    body_t = names.get("body")
    if body_t is None:
        raise ValueError("required attribute 'body' not found")
    if body_t not in ("string", "binary"):
        raise ValueError(f"'body' must be string or binary, got {body_t}")
    cols = write_columns(names)
    part_col = cols["partition"]
    if part_col and names[part_col] != "string":
        raise ValueError(f"'{part_col}' must be string, got {names[part_col]}")
    if "partitionKey" in names and names["partitionKey"] != "string":
        raise ValueError("'partitionKey' must be string")
    if "properties" in names and not names["properties"].startswith("map<string,string"):
        raise ValueError("'properties' must be map<string,string>")
    return cols


def write_columns(names) -> Dict[str, Optional[str]]:
    """The column each staged field is read from, among ``names``: the
    optional partition (``partition``, else ``partitionId``),
    ``partitionKey`` and ``properties``; None where absent."""
    return {
        "partition": "partition" if "partition" in names else (
            "partitionId" if "partitionId" in names else None),
        "partitionKey": "partitionKey" if "partitionKey" in names else None,
        "properties": "properties" if "properties" in names else None,
    }


def stage_rows(hub_dir: str, name: str, rows, cols: Dict[str, Optional[str]]) -> Tuple[str, int]:
    """Write ``rows`` as the staged event file ``<hub>/_staging/<name>``:
    the (body, partition, partitionKey, properties) table that
    :func:`commit_staged_paths` routes and appends. ``cols`` is
    :func:`write_columns`' mapping. A body must be a string or bytes;
    a row that pins both a partition and a partitionKey is refused (ref
    EventHubsWriteTask.scala:146-149). Returns the path and row count."""
    bodies, parts, keys, props = [], [], [], []
    c = cols
    for row in rows:
        body = row["body"]
        if isinstance(body, str):
            body = body.encode("utf-8")
        elif not isinstance(body, (bytes, bytearray)):
            raise ValueError(
                "null body" if body is None
                else f"body must be a string or bytes, got {type(body).__name__}"
            )
        bodies.append(body)
        pid = row[c["partition"]] if c["partition"] else None
        key = row[c["partitionKey"]] if c["partitionKey"] else None
        if pid is not None and key is not None:
            raise ValueError(
                "both partition and partitionKey are set; they are "
                "mutually exclusive"
            )
        parts.append(pid)
        keys.append(key)
        pr = row[c["properties"]] if c["properties"] else None
        props.append(list(pr.items()) if pr else [])
    tbl = pa.table(
        {
            "body": pa.array(bodies, pa.binary()),
            "partition": pa.array(parts, pa.string()),
            "partitionKey": pa.array(keys, pa.string()),
            "properties": pa.array(props, pa.map_(pa.string(), pa.string())),
        }
    )
    staging = os.path.join(hub_dir, "_staging")
    os.makedirs(staging, exist_ok=True)
    path = os.path.join(staging, name)
    papq.write_table(tbl, path)
    return path, tbl.num_rows


class EventHubsWriterBase:
    def __init__(self, options, schema: StructType) -> None:
        self.options = options
        self.schema = schema
        self.hub_dir = _hub_dir_from_options(options)
        self.cols = _validate_write_schema(schema)
        pc = EventHubsConf.from_map(options).get(PARTITION_COUNT_KEY)
        self.partition_count = int(pc) if pc else None

    # -- executor side: stage rows as a small parquet file --
    def write(self, iterator) -> StagedFileMessage:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        tid = ctx.partitionId() if ctx else 0
        attempt = ctx.taskAttemptId() if ctx else 0
        return StagedFileMessage(*stage_rows(
            self.hub_dir, f"stage-{tid:05d}-{attempt}.parquet", iterator, self.cols))

    # -- driver side: assign seqNos and append to the log --
    def _commit_staged(self, messages, commit_tag: str) -> None:
        paths = sorted(m.path for m in messages if m is not None)
        commit_staged_paths(self.hub_dir, paths, commit_tag, self.partition_count)

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


_STAGED_COLUMNS = ["body", "partition", "partitionKey", "properties"]


def _per_distinct(col: pa.ChunkedArray, fn: Callable[[str], int]) -> np.ndarray:
    """``fn`` applied once per distinct value of a null-free column,
    broadcast back to its rows."""
    enc = col.combine_chunks().dictionary_encode()
    lut = np.array([fn(v) for v in enc.dictionary.to_pylist()], np.int64)
    return lut[enc.indices.to_numpy()]


def _route(tbl: pa.Table, partition_count: int, rr_start: int) -> np.ndarray:
    """Target partition per staged row: a pinned ``partition`` as an int,
    else the ``partitionKey`` hash, else round-robin from ``rr_start`` in
    row order (ref SimulatedEventHubs.scala:86-101). A pinned id outside
    [0, partition_count) is refused: a hub's partition count is fixed at
    creation, so the id names no partition."""
    part, key = tbl.column("partition"), tbl.column("partitionKey")
    pinned = part.is_valid().to_numpy(zero_copy_only=False)
    keyed = ~pinned & key.is_valid().to_numpy(zero_copy_only=False)
    rr = ~pinned & ~keyed
    pids = np.empty(tbl.num_rows, np.int64)
    pids[pinned] = _per_distinct(part.filter(pa.array(pinned)), int)
    bad = pids[pinned][(pids[pinned] < 0) | (pids[pinned] >= partition_count)]
    if len(bad):
        raise ValueError(
            f"partition id {int(bad[0])} does not exist: the hub has "
            f"{partition_count} partitions, ids 0..{partition_count - 1}"
        )
    pids[keyed] = _per_distinct(
        key.filter(pa.array(keyed)), lambda k: _hash_partition_key(k, partition_count)
    )
    pids[rr] = (rr_start + np.arange(int(rr.sum()))) % partition_count
    return pids


def commit_staged_paths(
    hub_dir: str, paths: List[str], commit_tag: str,
    partition_count: Optional[int] = None,
) -> int:
    """Assign dense per-partition sequence numbers to staged event files
    and append them to the hub log — the broker role the service plays
    on arrival. Used by the DataSource writers and the ForeachWriter
    sink. Rows route over ``partition_count`` partitions when given, else
    over the larger of the hub's highest ``partition=`` id + 1 and
    DEFAULT_PARTITION_COUNT; a pinned id must be below that count.
    Returns the number of events committed."""
    tables = [papq.read_table(path, columns=_STAGED_COLUMNS) for path in paths]
    n_events = sum(t.num_rows for t in tables)
    if n_events:
        n_partitions = partition_count or max(
            max(_partition_dirs(hub_dir), default=-1) + 1, DEFAULT_PARTITION_COUNT
        )
        bounds = hub_bounds(hub_dir, n_partitions)
        next_seq = {pid: hi for pid, (_, hi) in bounds.items()}
        total = sum(hi - lo for lo, hi in bounds.values())
        tbl = pa.concat_tables(tables).combine_chunks()
        pids = _route(tbl, n_partitions, total)
        fs = _arrow_file_schema()
        now_us = int(time.time() * 1_000_000)
        empty_map = pa.scalar([], fs.field("properties").type)
        order = np.argsort(pids, kind="stable")
        uniq, firsts, counts = np.unique(pids[order], return_index=True, return_counts=True)
        for pid, i, n in zip(uniq.tolist(), firsts.tolist(), counts.tolist()):
            rows = tbl.take(pa.array(order[i:i + n]))
            seq = next_seq.get(pid, 0) + np.arange(n, dtype=np.int64)
            out = pa.table(
                [
                    rows.column("body"),
                    pacompute.cast(pa.array(seq), pa.string()),
                    pa.array(seq),
                    pa.array(np.full(n, now_us), pa.timestamp("us", tz="UTC")),
                    pa.nulls(n, pa.string()),
                    rows.column("partitionKey"),
                    pacompute.fill_null(rows.column("properties"), empty_map),
                    pa.MapArray.from_arrays(
                        np.zeros(n + 1, np.int32),
                        pa.array([], pa.string()), pa.array([], pa.string()),
                    ),
                ],
                schema=fs,
            )
            pdir = os.path.join(hub_dir, f"partition={pid}")
            os.makedirs(pdir, exist_ok=True)
            # Write-then-RENAME (never write the visible name in place):
            # readers scan partition dirs for footer stats on every
            # micro-batch — at a 5 ms trigger cadence a reader reliably
            # catches an in-place write mid-flight and dies with "Parquet
            # magic bytes not found in footer" (reproduced at sf10,
            # round 12). The dot-prefix keeps the in-flight file invisible
            # to _parquet_files; os.replace is atomic within a directory,
            # so a committed file is only ever seen complete — which is
            # also what the _RG_STATS_CACHE immutability contract
            # (top of file) has always assumed of this path.
            final = os.path.join(pdir, f"commit-{commit_tag}.parquet")
            tmp = os.path.join(pdir, f".inprogress-commit-{commit_tag}.parquet")
            papq.write_table(out, tmp)
            os.replace(tmp, final)
    for path in paths:
        if os.path.exists(path):
            os.remove(path)
    return n_events


class EventHubsBatchWriter(EventHubsWriterBase, DataSourceWriter):
    def commit(self, messages) -> None:
        # a fresh tag per write: a reused one would os.replace an earlier
        # write's commit file (batch-level idempotence is write_eventhubs'
        # ``_batch_commits/<id>``)
        self._commit_staged(messages, f"b{uuid.uuid4().hex}")


class EventHubsStreamWriter(EventHubsWriterBase, DataSourceStreamWriter):
    """At-least-once sink with batchId idempotence
    (ref EventHubsSink.addBatch skips batchId <= latestBatchId,
    EventHubsSink.scala:35-42).

    Batch ids count per query, so the ``_commits/epoch-*`` ledger is
    keyed by the query's checkpoint, which Spark passes as the
    ``checkpointLocation`` option when it is set with ``.option``: two
    queries writing one hub each keep their own batches.
    ``EventHubsDataSource.streamWriter`` refuses a query without that
    option; a writer built directly without it keys its markers by
    batch id alone."""

    def commit(self, messages, batchId: int) -> None:
        cdir = os.path.join(self.hub_dir, "_commits")
        os.makedirs(cdir, exist_ok=True)
        epoch = f"{batchId:010d}"
        ck = self.options.get("checkpointlocation")
        if ck:
            epoch = f"{hashlib.sha1(ck.encode()).hexdigest()[:16]}-{epoch}"
        marker = os.path.join(cdir, f"epoch-{epoch}")
        if os.path.exists(marker):  # re-delivered batch: drop staged rows
            self.abort(messages)
            return
        self._commit_staged(messages, f"e{epoch}")
        open(marker, "w").close()

    def abort(self, messages, batchId: Optional[int] = None) -> None:
        EventHubsWriterBase.abort(self, messages)


def _hash_partition_key(key: str, partition_count: int) -> int:
    h = int.from_bytes(hashlib.md5(key.encode()).digest()[:8], "big")
    return h % partition_count


# ---------------------------------------------------------------------------
# the DataSource
# ---------------------------------------------------------------------------

class EventHubsDataSource(DataSource):
    """``format("eventhubs")`` — fixed 9-column schema, batch + stream,
    read + write (ref EventHubsSourceProvider.scala:56-141)."""

    @classmethod
    def name(cls) -> str:
        return "eventhubs"

    def schema(self) -> str:
        return HUB_SCHEMA_DDL

    def reader(self, schema: StructType) -> EventHubsBatchReader:
        return EventHubsBatchReader(self.options)

    def streamReader(self, schema: StructType) -> EventHubsStreamReader:
        return EventHubsStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> EventHubsBatchWriter:
        if overwrite:
            # ref EventHubsSourceProvider.scala:108-141 — Append only
            raise ValueError("eventhubs sink supports SaveMode.Append only")
        return EventHubsBatchWriter(self.options, schema)

    def streamWriter(self, schema: StructType, overwrite: bool) -> EventHubsStreamWriter:
        # a checkpoint set only through spark.sql.streaming.checkpointLocation
        # never reaches the writer, which would then key its markers by
        # batch id alone and skip a second such query's batches
        if not self.options.get("checkpointlocation"):
            raise ValueError(
                'an eventhubs stream sink needs .option("checkpointLocation", ...) '
                "on its writeStream; the spark.sql.streaming.checkpointLocation "
                "conf alone does not reach the sink"
            )
        return EventHubsStreamWriter(self.options, schema)


def register_eventhubs(spark) -> None:
    """Register format("eventhubs") on this session. Spark checks the
    name through the JVM-active session and refuses it as already
    existing when that other session registered it, so the
    registration runs with this session active, and the previous
    active session is restored afterwards."""
    jsession = spark._jvm.org.apache.spark.sql.SparkSession
    prev = jsession.getActiveSession()
    jsession.setActiveSession(spark._jsparkSession)
    try:
        spark.dataSource.register(EventHubsDataSource)
    finally:
        if prev.isDefined():
            jsession.setActiveSession(prev.get())
        else:
            jsession.clearActiveSession()


def read_eventhubs(spark, conf):
    """``spark.read.format("eventhubs")`` over the conf's hub: a bounded
    9-column DataFrame between its starting and ending positions."""
    register_eventhubs(spark)
    return spark.read.format("eventhubs").options(**conf.to_map()).load()


def _hub_size(hub_dir: str) -> int:
    return sum(hi - lo for lo, hi in hub_bounds(hub_dir).values())


def write_eventhubs(df, conf, batch_id: Optional[int] = None) -> int:
    """``df.write.format("eventhubs")`` to the conf's hub. Returns the
    number of events appended, read from footer statistics (so exact
    only while no other writer appends to the hub), or 0 when
    ``batch_id`` was already written: a re-delivered batch is skipped
    (ref EventHubsSink.scala:35-42). The ``_batch_commits/<id>`` marker
    is written after the data, so a crash between the two re-writes the
    batch on redelivery: at-least-once."""
    hub_dir = _hub_dir_from_options(conf)
    marker = None
    if batch_id is not None:
        marker = os.path.join(hub_dir, "_batch_commits", str(batch_id))
        if os.path.exists(marker):
            return 0
    before = _hub_size(hub_dir)
    register_eventhubs(df.sparkSession)
    df.write.format("eventhubs").mode("append").options(**conf.to_map()).save()
    written = _hub_size(hub_dir) - before
    if marker is not None:
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        open(marker, "w").close()
    return written


# ---------------------------------------------------------------------------
# materialization: events table -> hub directory
# ---------------------------------------------------------------------------

def materialize_hub(spark, sf_dir_or_events: str, hub_dir: str,
                    partition_count: int = 4) -> str:
    """Write the canonical hub log layout from the driver's events
    parquet: hive ``partition=<pid>/`` dirs, one sorted file per
    partition. This is the one-time ingest that a real hub performs at
    write time (see plans/hubview.py scale note); all steady-state
    reads then plan from footer stats alone."""
    from pyspark.sql import functions as F

    from spark_eventhubs_spark.plans.hubview import configure_session, hub_view

    src = sf_dir_or_events
    if not src.endswith(".parquet"):
        src = os.path.join(src, "events.parquet")
    configure_session(spark)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    events = spark.read.parquet(src)
    hub = hub_view(events, partition_count)
    (
        hub.repartition(partition_count, F.col("partition"))
        .sortWithinPartitions("partition", "sequenceNumber")
        .write.mode("overwrite")
        .partitionBy("partition")
        .parquet(hub_dir)
    )
    return hub_dir


# hub side-dirs a log rewrite carries over: the sink's batchId ledgers
# and the slow-partition receive logs
_META_DIRS = ("_commits", "_batch_commits", "_receive")


def _rewrite_hub_log(spark, hub_dir: str, partition_count: int, tag: str,
                     keep=None) -> None:
    """Rewrite the hub log as one file per partition, sorted by
    sequenceNumber, keeping the rows where the Column ``keep`` holds
    (all rows when None). Writes to ``<hub>.<tag>-tmp``, carries the
    metadata side-dirs (``_META_DIRS``) over, swaps the directories and
    evicts the old paths' footer-stat memo slots."""
    import shutil

    from pyspark.sql import functions as F

    from spark_eventhubs_spark.plans.hubview import configure_session

    configure_session(spark)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    df = spark.read.parquet(hub_dir)
    if keep is not None:
        df = df.where(keep)
    tmp = hub_dir.rstrip("/") + f".{tag}-tmp"
    old = hub_dir.rstrip("/") + f".pre-{tag}"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        df.repartition(partition_count, F.col("partition"))
        .sortWithinPartitions("partition", "sequenceNumber")
        .write.mode("overwrite")
        .partitionBy("partition")
        .parquet(tmp)
    )
    for meta in _META_DIRS:
        src = os.path.join(hub_dir, meta)
        if os.path.isdir(src):
            shutil.copytree(src, os.path.join(tmp, meta), dirs_exist_ok=True)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(hub_dir, old)
    os.rename(tmp, hub_dir)
    shutil.rmtree(old, ignore_errors=True)
    _evict_rg_stats(hub_dir)


def compact_hub_log(spark, hub_dir: str, partition_count: int = 4) -> dict:
    """Compact the hub log: fold each partition's accumulated
    ``commit-*.parquet`` files (one per streaming micro-batch commit —
    the classic small-files problem of any streaming sink) back into
    one sorted file per partition.

    Rewrites via a staging dir then swaps (:func:`_rewrite_hub_log`),
    preserving the metadata side-dirs and the two invariants planning
    depends on: per-partition seqNo density and footer-stat min/max
    (files stay sorted by sequenceNumber). Readers planned BEFORE the
    swap may fail and must replan — same contract as any
    file-compaction job; at scale this runs partition-aligned with no
    shuffle wider than the repartition. Returns {partition_id:
    n_files_before}.
    """
    before = {
        pid: len([f for f in os.listdir(d) if f.endswith(".parquet")])
        for pid, d in _partition_dirs(hub_dir).items()
    }
    _rewrite_hub_log(spark, hub_dir, partition_count, "compact")
    return before


def truncate_hub_log(
    spark, hub_dir: str, keep_from: Dict[int, int], partition_count: int = 4
) -> Dict[int, int]:
    """Retention: drop events below ``keep_from[pid]`` per partition —
    the file-backed analogue of the service's retention period expiring
    old events. After truncation ``hub_bounds`` reports the new
    earliest from footer stats, and the data-loss guard in
    ``_plan_range_partitions`` clamps any older checkpoint/start
    position forward with a warning, exactly as the reference does when
    a consumer falls behind retention.

    Refuses to empty a partition completely (the seqNo high-water mark
    lives in the data files; an empty partition would forget it —
    the reference keeps earliest = last+1 for empty partitions, which
    footer stats cannot represent without rows). Returns the rows
    dropped per partition.
    """
    from pyspark.sql import functions as F

    bounds = hub_bounds(hub_dir, partition_count)
    for pid, k in keep_from.items():
        lo, hi = bounds.get(pid, (0, 0))
        if k >= hi:
            raise ValueError(
                f"truncating partition {pid} to {k} would empty it "
                f"(latest {hi}); full truncation is unsupported"
            )
    keep_map = F.create_map(
        *[x for pid, k in sorted(keep_from.items())
          for x in (F.lit(str(pid)), F.lit(k))]
    )
    keep = F.col("sequenceNumber") >= F.coalesce(
        F.element_at(keep_map, F.col("partition").cast("string")), F.lit(0)
    )
    dropped_rows = {
        int(r["partition"]): r["n"]
        for r in spark.read.parquet(hub_dir).where(~keep)
        .groupBy("partition").agg(F.count("*").alias("n")).collect()
    }
    _rewrite_hub_log(spark, hub_dir, partition_count, "truncate", keep)
    return dropped_rows

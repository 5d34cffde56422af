"""The benchmark's workloads and the traced run's replays.

Each workload function takes a :class:`Run` and returns its end-to-end
metrics; it adds to ``run.attempted`` / ``run.failed`` as it checks the
program's output. With tracing on (``run.tracer`` set) it also fills
``run.layers`` with the per-layer metrics.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from typing import Callable, Dict, List, Optional, Tuple

import pyarrow.parquet as pq

import accounting
import hubgen
import tracing

PARTITIONS = 4

# backlog_drain: a closed drain of a skewed backlog (40/30/20/10, 32
# files per partition) into a ``noop`` sink. 240k events at 80k events
# per trigger is three data triggers and 5-7 s per drain on 4 cores;
# a run makes at least three drains.
BACKLOG_EVENTS = 240_000
BACKLOG_MAX_PER_TRIGGER = 80_000

# live_relay: an open loop appending one file per partition per tick.
RELAY_RATE = 2_000  # events/s over all partitions
RELAY_TICK_S = 0.25
RELAY_DRAIN_TIMEOUT_S = 60.0
WATCH_POLL_S = 0.01

SETUP_REPS = 3

# catalog entries timed by the traced run: the two stream twins (state
# store + stateful operators) and one heavy batch entry per operator
# module, on seeded tables shaped like the sf directories
STREAM_ENTRIES = ("stream_running_counters", "stream_sessionize")
OP_ENTRIES = ("dedup_substring_spans", "corpus_dsir_weights",
              "search_recall_at_k", "text_tfidf_top_terms",
              "multimodal_avi_stats", "graph_copurchase_pagerank")
CATALOG_SIZES = dict(n_events=4_000, n_docs=300, n_vecs=300, n_orders=600)


class Run:
    """Everything one benchmark run shares between its phases."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 tracer: Optional[tracing.Tracer],
                 collector: Optional[tracing.ProgressCollector]) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.collector = collector
        self.attempted = 0
        self.failed = 0
        self.layers: Dict[str, float] = {}
        self.info: Dict[str, object] = {}
        self.root: Optional[int] = None  # the workload's span, when tracing
        self._n = 0

    def next_name(self, tag: str) -> str:
        self._n += 1
        return f"{tag}_{self._n:03d}"

    def fresh_dir(self, tag: str) -> str:
        d = os.path.join(self.work, self.next_name(tag))
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d


# ---------------------------------------------------------------------------
# backlog_drain
# ---------------------------------------------------------------------------

def _drain(run: Run, hub: str, tag: str) -> Tuple[str, float, float, List[dict]]:
    """One closed drain of ``hub`` into ``noop`` with a fresh checkpoint
    and consumer group. Returns (query name, start time, wall seconds,
    the query's progress)."""
    name = run.next_name(tag)
    ck = os.path.join(run.work, f"ck-{name}")
    t0 = time.time()
    q = (
        run.spark.readStream.format("eventhubs")
        .option("path", hub)
        .option("eventhubs.maxEventsPerTrigger", str(BACKLOG_MAX_PER_TRIGGER))
        .option("eventhubs.consumerGroup", name)
        .load()
        .writeStream.format("noop")
        .queryName(name)
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
        wall = time.time() - t0
        progress = [_as_dict(p) for p in q.recentProgress]
    finally:
        q.stop()
    shutil.rmtree(ck, ignore_errors=True)
    return name, t0, wall, progress


def _as_dict(p) -> dict:
    return json.loads(p.json) if hasattr(p, "json") else p


def _batches(progress: List[dict]):
    for p in progress:
        src = p["sources"][0]
        yield src["startOffset"], src["endOffset"], p["numInputRows"]


def _generate(run: Run, tag: str, make: Callable[[str], object]) -> Tuple[str, object, float]:
    """Generate the run's inputs SETUP_REPS times into fresh directories,
    keeping the last copy. Returns (its dir, make's result, median
    seconds)."""
    walls, d, res = [], None, None
    for _ in range(SETUP_REPS):
        if d is not None:
            shutil.rmtree(d)
        d = run.fresh_dir(tag)
        t0 = time.time()
        res = make(d)
        os.sync()  # no write-back of the inputs during the measurement
        walls.append(time.time() - t0)
    return d, res, statistics.median(walls)


def backlog_drain(run: Run, session_s: float) -> Dict[str, float]:
    base, counts, gen_s = _generate(
        run, "backlog",
        lambda d: hubgen.write_backlog(os.path.join(d, "hub"), run.seed, BACKLOG_EVENTS))
    hub = os.path.join(base, "hub")
    # warm pass, one full drain: the first drain in a fresh JVM pays for
    # Python workers and code generation, and a small one leaves the
    # next drains still speeding up
    warm_s, wp = _drain(run, hub, "warm")[2:]
    _count(run, accounting.drain_accounting(_batches(wp), counts))
    setup_s = session_s + gen_s + warm_s
    run.info.update(session_s=session_s, generate_s=gen_s, warm_s=warm_s)

    eps, busy, p50, p99, last, drained = [], [], [], [], [], []
    t_end = time.time() + run.seconds
    while time.time() < t_end or len(eps) < 3:
        name, t0, wall, progress = _drain(run, hub, "drain")
        drained.append(name)
        eps.append(BACKLOG_EVENTS / wall)
        busy.append(sum(p["durationMs"]["triggerExecution"] for p in progress) / 1000.0)
        _count(run, accounting.drain_accounting(_batches(progress), counts))
        # every event was due at the drain's start and is done when the
        # trigger that read it ends
        done = [(p["numInputRows"], (tracing.trigger_end(p) - t0) * 1000.0)
                for p in progress]
        p50.append(accounting.weighted_percentile(done, 50))
        p99.append(accounting.weighted_percentile(done, 99))
        last = progress
    run.info["drains"] = len(eps)
    run.info["drain_eps_all"] = eps
    run.info["drain_trigger_s_all"] = busy
    if run.tracer is not None:
        run.collector.settle()
        engine_progress = []
        for name in drained:
            prog = run.collector.progress(name)
            tracing.trigger_spans(run.tracer, prog, run.root)
            engine_progress.extend(prog)
        run.layers.update(tracing.engine_metrics(engine_progress))
        replay_datasource(run, hub, _options(hub, BACKLOG_MAX_PER_TRIGGER), last)
    return {
        "throughput_eps": statistics.median(eps),
        "latency_ms_p50": statistics.median(p50),
        "latency_ms_p99": statistics.median(p99),
        "setup_s": setup_s,
    }


def _options(hub: str, max_per_trigger: Optional[int]) -> Dict[str, str]:
    opts = {"path": hub, "eventhubs.consumerGroup": "perfbench-replay"}
    if max_per_trigger:
        opts["eventhubs.maxEventsPerTrigger"] = str(max_per_trigger)
    return opts


def _count(run: Run, af: Tuple[int, int]) -> None:
    run.attempted += af[0]
    run.failed += af[1]


# ---------------------------------------------------------------------------
# live_relay
# ---------------------------------------------------------------------------

class _Watcher(threading.Thread):
    """Polls the sink hub and notes when each committed file first
    becomes visible to a reader, with its event count."""

    def __init__(self, hub: str) -> None:
        super().__init__(daemon=True)
        self.hub = hub
        self.seen: Dict[str, float] = {}
        self.rows = 0
        self.halt = threading.Event()
        self._lock = threading.Lock()

    def scan(self) -> None:
        now = time.time()
        for pid in range(PARTITIONS):
            d = os.path.join(self.hub, f"partition={pid}")
            try:
                names = os.listdir(d)
            except FileNotFoundError:
                continue
            for f in names:
                path = os.path.join(d, f)
                if not f.endswith(".parquet") or f.startswith("."):
                    continue
                with self._lock:
                    if path in self.seen:
                        continue
                    self.seen[path] = now
                    self.rows += pq.ParquetFile(path).metadata.num_rows

    def snapshot(self) -> Tuple[int, Dict[str, float]]:
        with self._lock:
            return self.rows, dict(self.seen)

    def run(self) -> None:
        while not self.halt.is_set():
            self.scan()
            time.sleep(WATCH_POLL_S)


class _Generator(threading.Thread):
    """Open-loop producer: tick k's events are due during
    [t0 + k*tick, t0 + (k+1)*tick) and the tick's files are appended
    when the tick ends, on schedule whatever the relay is doing."""

    def __init__(self, app: hubgen.TickAppender, t0: float, seconds: float) -> None:
        super().__init__(daemon=True)
        self.app = app
        self.t0 = t0
        self.n_ticks = max(1, round(seconds / RELAY_TICK_S))
        self.per_partition = round(RELAY_RATE * RELAY_TICK_S / PARTITIONS)
        self.late_ms: List[float] = []
        self.events = 0
        self.error: Optional[BaseException] = None

    def run(self) -> None:
        step_us = int(RELAY_TICK_S * 1e6 / self.per_partition)
        try:
            for k in range(self.n_ticks):
                start = self.t0 + k * RELAY_TICK_S
                due = start + RELAY_TICK_S
                pause = due - time.time()
                if pause > 0:
                    time.sleep(pause)
                self.events += self.app.append(
                    self.per_partition, int(start * 1e6), step_us)
                self.late_ms.append(max(0.0, time.time() - due) * 1000.0)
        except BaseException as e:  # surfaced by the caller after join
            self.error = e


def _relay_query(run: Run, src: str, dst: str, name: str):
    from pyspark.sql import functions as F

    sdf = (
        run.spark.readStream.format("eventhubs")
        .option("path", src)
        .option("eventhubs.consumerGroup", name)
        .load()
    )
    out = sdf.select(
        "body",
        "partition",
        F.create_map(
            F.lit("src_pid"), F.col("partition"),
            F.lit("src_seq"), F.col("sequenceNumber").cast("string"),
            F.lit("sent_us"), F.unix_micros("enqueuedTime").cast("string"),
        ).alias("properties"),
    )
    return (
        out.writeStream.format("eventhubs")
        .queryName(name)
        .option("path", dst)
        .option("eventhubs.partitionCount", str(PARTITIONS))
        .option("checkpointLocation", os.path.join(run.work, f"ck-{name}"))
        .start()
    )


def _sink_rows(files: Dict[str, float]) -> List[Tuple[int, int, int, float]]:
    """(src partition, src seqNo, sent µs, visible s) for every event in
    the sink files."""
    out = []
    for path, visible in files.items():
        props = pq.read_table(path, columns=["properties"]).column("properties")
        for m in props.to_pylist():
            d = dict(m)
            out.append((int(d["src_pid"]), int(d["src_seq"]),
                        int(d["sent_us"]), visible))
    return out


def _await_sink(watcher: _Watcher, expected: int, q, timeout: float) -> None:
    """Wait until the sink holds ``expected`` events; on timeout the
    missing ones are counted as lost by the caller."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if not watcher.is_alive():
            watcher.scan()
        if watcher.snapshot()[0] >= expected:
            return
        if not q.isActive:
            raise RuntimeError(f"relay query died: {q.exception()}")
        time.sleep(0.05)


def live_relay(run: Run, session_s: float) -> Dict[str, float]:
    per_tick = round(RELAY_RATE * RELAY_TICK_S / PARTITIONS)

    def make(d: str) -> hubgen.TickAppender:
        app = hubgen.TickAppender(os.path.join(d, "hubA"), run.seed, PARTITIONS)
        os.makedirs(os.path.join(d, "hubB"))
        app.append(per_tick, int(time.time() * 1e6), 1)  # the warm tick
        return app

    base, app, gen_s = _generate(run, "relay", make)
    src, dst = os.path.join(base, "hubA"), os.path.join(base, "hubB")
    warm_n = per_tick * PARTITIONS
    # warm pass: start the relay and wait for the warm tick in hub B
    t0 = time.time()
    watcher = _Watcher(dst)
    q = _relay_query(run, src, dst, "relay")
    _await_sink(watcher, warm_n, q, RELAY_DRAIN_TIMEOUT_S)
    warm_s = time.time() - t0
    setup_s = session_s + gen_s + warm_s
    run.info.update(session_s=session_s, generate_s=gen_s, warm_s=warm_s)

    watcher.start()
    gen = _Generator(app, time.time(), run.seconds)
    gen.start()
    try:
        gen.join(run.seconds + 60)
        if gen.is_alive() or gen.error is not None:
            raise RuntimeError(f"generator failed: {gen.error!r}")
        _await_sink(watcher, warm_n + gen.events, q, RELAY_DRAIN_TIMEOUT_S)
        progress = [_as_dict(p) for p in q.recentProgress]
    finally:
        watcher.halt.set()
        watcher.join(10)
        q.stop()
    expected = dict(enumerate(app.next_seq))
    _, files = watcher.snapshot()
    observed = [(pid, seq, (vis * 1e6 - sent) / 1000.0)
                for pid, seq, sent, vis in _sink_rows(files)]
    attempted, failed, once = accounting.relay_accounting(observed, expected)
    run.attempted += attempted
    run.failed += failed
    # latency covers the generator's events, not the warm tick
    lat = [ms for (_, seq), ms in once.items() if seq >= per_tick]
    tail = accounting.tail_percentile(len(lat))
    run.info.update({
        "latency_samples": len(lat), "tail_percentile": tail,
        "generator.late_ms_max": max(gen.late_ms),
        "generator.events": gen.events, "sink_files": len(files),
        "trigger_ms": [p["durationMs"].get("triggerExecution") for p in progress],
    })
    if tail is None or tail < 99:
        raise RuntimeError(f"{len(lat)} latency samples cannot support p99")
    # delivered rate: events sent, over the time from the first one
    # being due to the last one being visible
    rate = gen.events / (max(files.values()) - gen.t0)
    if run.tracer is not None:
        run.collector.settle()
        progress = run.collector.progress("relay")
        tracing.trigger_spans(run.tracer, progress, run.root)
        run.layers.update(tracing.engine_metrics(progress))
        replay_datasource(run, src, _options(src, None), progress)
    return {
        "throughput_eps": rate,
        "latency_ms_p50": accounting.percentile(lat, 50),
        "latency_ms_p99": accounting.percentile(lat, 99),
        "setup_s": setup_s,
    }


# ---------------------------------------------------------------------------
# traced-run replays: calls into sources.datasource and streaming.ratelimit
# ---------------------------------------------------------------------------

REPLAY_MAX_EVENTS = 200_000
REPLAY_REPS = 5


def _timed(fn: Callable, reps: int) -> Tuple[float, object]:
    """Median wall seconds of ``reps`` calls, and the last result."""
    walls, res = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        res = fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls), res


def replay_datasource(run: Run, hub: str, opts: Dict[str, str],
                      progress: List[dict]) -> None:
    """Call the public reader, writer and rate-limiter functions on the
    workload's own hub, on the offset ranges the engine planned, under
    spans; fills the ``datasource.*`` and ``ratelimit.*`` layers."""
    from pyspark.sql.types import BinaryType, MapType, StringType, StructField, StructType

    from spark_eventhubs_spark.sources import datasource as ds
    from spark_eventhubs_spark.streaming.ratelimit import rate_limit

    tr = run.tracer
    with tr.span("replay.datasource", run.root) as root:
        rid = root["id"]
        reader = ds.EventHubsStreamReader(opts)
        with tr.span("datasource.initialOffset", rid):
            initial = reader.initialOffset()
        with tr.span("datasource.hub_bounds", rid):
            hb_s, bounds = _timed(lambda: ds.hub_bounds(hub, None), REPLAY_REPS)
        with tr.span("datasource.latestOffset", rid):
            lo_s, _ = _timed(reader.latestOffset, REPLAY_REPS)

        part_s, commit_s, tasks, empty = [], [], [], 0
        events, read_s = 0, 0.0
        prev = initial
        for p in progress:
            src = p["sources"][0]
            start = _json(src["startOffset"]) or prev
            end = _json(src["endOffset"])
            prev = end
            if events >= REPLAY_MAX_EVENTS:
                continue
            with tr.span("datasource.partitions", rid):
                t0 = time.perf_counter()
                parts = reader.partitions(start, end)
                part_s.append(time.perf_counter() - t0)
            tasks.append(len(parts))
            for part in parts:
                width = part.until_seq_no - part.from_seq_no
                empty += width <= 0
                with tr.span("datasource.read", rid, events=width):
                    t0 = time.perf_counter()
                    n = sum(b.num_rows for b in reader.read(part))
                    read_s += time.perf_counter() - t0
                events += n
            with tr.span("datasource.commit", rid):
                t0 = time.perf_counter()
                reader.commit(end)
                commit_s.append(time.perf_counter() - t0)

        # writer: stage and commit the hub's first events into a scratch
        # sink, as the relay's write tasks and commit do
        sink = os.path.join(run.fresh_dir("replay-sink"), "hub")
        schema = StructType([
            StructField("body", BinaryType()),
            StructField("partition", StringType()),
            StructField("properties", MapType(StringType(), StringType())),
        ])
        sample = _sample_rows(hub, 4_000)
        writer = ds.EventHubsStreamWriter({"path": sink}, schema)
        w_s, c_s = [], []
        for b in range(REPLAY_REPS):
            with tr.span("datasource.write", rid, events=len(sample)):
                t0 = time.perf_counter()
                msg = writer.write(iter(sample))
                w_s.append(time.perf_counter() - t0)
            with tr.span("datasource.commit_staged", rid, events=len(sample)):
                t0 = time.perf_counter()
                writer.commit([msg], b)
                c_s.append(time.perf_counter() - t0)

        latest = {pid: hi for pid, (_, hi) in bounds.items()}
        earliest = {pid: lo for pid, (lo, _) in bounds.items()}
        with tr.span("ratelimit.rate_limit", rid):
            rl_s, _ = _timed(lambda: rate_limit(
                BACKLOG_MAX_PER_TRIGGER, earliest, latest, earliest, None), 200)

    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    run.layers.update({
        "datasource.read_us_per_event": read_s * 1e6 / max(1, events),
        "datasource.read_tasks": med(tasks),
        "datasource.empty_read_tasks": float(empty),
        "datasource.latestOffset_ms": lo_s * 1e3,
        "datasource.hub_bounds_ms": hb_s * 1e3,
        "datasource.partitions_ms": med(part_s) * 1e3,
        "datasource.commit_ms": med(commit_s) * 1e3,
        "datasource.hub_files": float(sum(
            1 for _, _, fs in os.walk(hub) for f in fs
            if f.endswith(".parquet") and not f.startswith("."))),
        "datasource.write_us_per_event": med(w_s) * 1e6 / len(sample),
        "datasource.commit_staged_us_per_event": med(c_s) * 1e6 / len(sample),
        "ratelimit.call_us": rl_s * 1e6,
    })


def _json(raw):
    if raw is None or isinstance(raw, dict):
        return raw
    return json.loads(raw)


def _sample_rows(hub: str, n: int):
    """The first ``n`` events of partition 0 as the writer's input rows."""
    from pyspark.sql import Row

    d = os.path.join(hub, "partition=0")
    rows = []
    for f in sorted(os.listdir(d)):
        if not f.endswith(".parquet") or f.startswith("."):
            continue
        for body in pq.read_table(os.path.join(d, f), columns=["body"]).column("body").to_pylist():
            rows.append(Row(body=body, partition="0",
                            properties={"src_pid": "0", "src_seq": str(len(rows))}))
            if len(rows) >= n:
                return rows
    return rows


# ---------------------------------------------------------------------------
# traced-run catalog pass: state store, stateful twins and the operators
# ---------------------------------------------------------------------------

def catalog_pass(run: Run) -> None:
    """Run each catalog entry once on seeded sf-shaped tables, timing the
    call plus collect under an ``entry.<name>`` span, and hash-check it
    against its DuckDB oracle outside the timer (one failed operation
    per mismatching entry). Fills ``entry.*`` and ``state.*``."""
    import duckdb

    from spark_eventhubs_spark import queries as catalog
    from spark_eventhubs_spark.plans.hubview import clear_cached_plans

    check = _check_oracle_module()
    sf = os.path.join(run.fresh_dir("catalog"), "sf")
    hubgen.write_catalog_tables(sf, run.seed, **CATALOG_SIZES)
    con = duckdb.connect()
    for t in check.TABLES:
        if os.path.exists(os.path.join(sf, f"{t}.parquet")):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    qs, oracles = catalog.queries(), catalog.oracle_sql()
    state_progress: List[dict] = []
    with run.tracer.span("catalog") as root:
        for name in STREAM_ENTRIES + OP_ENTRIES:
            before = set(run.collector.names())
            clear_cached_plans(run.spark, "query")
            with run.tracer.span(f"entry.{name}", root["id"]) as sp:
                got = qs[name](run.spark, sf).toPandas()
            run.layers[f"entry.{name}_s"] = sp["end"] - sp["start"]
            run.collector.settle()
            for qn in set(run.collector.names()) - before:
                prog = run.collector.progress(qn)
                tracing.trigger_spans(run.tracer, prog, sp["id"])
                state_progress.extend(prog)
            want = con.sql(oracles[name]).df()
            ok = (len(got) == len(want)
                  and sorted(got.columns) == sorted(want.columns)
                  and check.frame_hash(got) == check.frame_hash(want))
            run.attempted += 1
            run.failed += 0 if ok else 1
            if not ok:
                run.info.setdefault("oracle_mismatch", []).append(name)
    con.close()
    run.layers.update(tracing.state_metrics(state_progress))


def _check_oracle_module():
    """``scripts/check_oracle.py``'s table list and hash normalisation."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


WORKLOADS = {"backlog_drain": backlog_drain, "live_relay": live_relay}

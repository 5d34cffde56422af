"""Spans for the traced run, recorded from the benchmark's own files.

A span is (id, name, start, end, parent, run): ``run`` is the
workload-run id shared by every span of one benchmark run. Spans are
kept in memory and written out once, at the end of the run.

Three sources feed it:

- :class:`ProgressCollector`, a ``StreamingQueryListener``: each
  progress event becomes a trigger span with the engine's own
  ``durationMs`` phases as children (Structured Streaming's per-trigger
  accounting, read from outside the program);
- :meth:`Tracer.span` around calls into the library's public functions
  (the datasource replays and each catalog entry call);
- :meth:`Tracer.add` for intervals timed elsewhere.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from datetime import datetime
from typing import Dict, Iterator, List, Optional

from pyspark.sql.streaming import StreamingQueryListener

# MicroBatchExecution's order: plan the batch (latestOffset, then the
# offset-log write), run it (getBatch, queryPlanning, addBatch), then
# write the commit log. Only durations are reported, so children are
# laid out back to back from the trigger's start.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")


class Tracer:
    """In-memory span store for one workload run."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: List[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float,
            parent: Optional[int] = None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": end, "parent": parent,
                               "run": self.run_id, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, parent: Optional[int] = None, **attrs) -> Iterator[dict]:
        """Time the body; yields the span dict so the body can attach
        attributes (e.g. event counts) before it closes."""
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        rec = self.spans[sid]
        try:
            yield rec
        finally:
            rec["end"] = time.time()

    def self_seconds(self) -> Dict[str, float]:
        """Per span name: summed self time, i.e. each span's duration
        minus the part of its interval that its children cover."""
        kids: Dict[int, List[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: Dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + self_time(s, kids.get(s["id"], []))
        return out

    def dump(self, path: str, extra: Optional[dict] = None) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_seconds": self.self_seconds(), **(extra or {})},
                      fh, indent=1)


def self_time(span: dict, children: List[dict]) -> float:
    """``span``'s duration minus the union of its children's intervals
    clipped to it."""
    lo, hi = span["start"], span["end"]
    ivs = sorted((max(lo, c["start"]), min(hi, c["end"])) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (hi - lo) - covered


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class ProgressCollector(StreamingQueryListener):
    """Keeps every query's progress events as plain dicts, by query name."""

    def __init__(self) -> None:
        self.events: Dict[str, List[dict]] = {}
        self.running: set = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.running.add(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.events.setdefault(p.get("name") or p["id"], []).append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.running.discard(str(event.runId))

    def settle(self, timeout: float = 30.0) -> None:
        """Wait until every started query's termination has arrived: the
        listener bus is asynchronous, and a query's progress events come
        before its termination event."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self._lock:
                if not self.running:
                    return
            time.sleep(0.05)
        raise RuntimeError("streaming listener events did not settle")

    def progress(self, name: str) -> List[dict]:
        with self._lock:
            return list(self.events.get(name, []))

    def names(self) -> List[str]:
        with self._lock:
            return list(self.events)


def trigger_end(p: dict) -> float:
    """Epoch seconds at which a progress event's trigger finished."""
    return _epoch(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000.0


def trigger_spans(tracer: Tracer, progress: List[dict], parent: Optional[int]) -> None:
    """One ``engine.trigger`` span per progress event, its phases as
    ``engine.<phase>`` children laid out back to back."""
    for p in progress:
        d = p.get("durationMs") or {}
        start = _epoch(p["timestamp"])
        total = d.get("triggerExecution", 0) / 1000.0
        sid = tracer.add("engine.trigger", start, start + total, parent,
                         batchId=p["batchId"], rows=p["numInputRows"])
        t = start
        for ph in PHASES:
            if ph in d:
                tracer.add(f"engine.{ph}", t, t + d[ph] / 1000.0, sid)
                t += d[ph] / 1000.0


def engine_metrics(progress: List[dict]) -> Dict[str, float]:
    """The ``engine.*`` per-layer metrics of one query's progress events.
    Phase figures are medians over triggers that read data."""
    data = [p for p in progress if p["numInputRows"] > 0] or progress
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    out = {
        "engine.triggers": float(len(progress)),
        "engine.trigger_ms_p50": med([p["durationMs"].get("triggerExecution", 0) for p in data]),
        "engine.rows_per_trigger": med([p["numInputRows"] for p in data]),
    }
    for ph in ("addBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets"):
        out[f"engine.{ph}_ms"] = med([p["durationMs"].get(ph, 0) for p in data])
    gaps = []
    ordered = sorted(progress, key=lambda p: _epoch(p["timestamp"]))
    for a, b in zip(ordered, ordered[1:]):
        gaps.append(max(0.0, _epoch(b["timestamp"]) - trigger_end(a)) * 1000.0)
    out["engine.idle_ms"] = med(gaps)
    return out


def state_metrics(progress: List[dict]) -> Dict[str, float]:
    """The ``state.*`` per-layer metrics: time summed over triggers,
    sizes at their maximum."""
    upd = com = rows = mem = parts = 0.0
    for p in progress:
        for op in p.get("stateOperators") or []:
            upd += op.get("allUpdatesTimeMs", 0) + op.get("allRemovalsTimeMs", 0)
            com += op.get("commitTimeMs", 0)
            rows = max(rows, op.get("numRowsTotal", 0))
            mem = max(mem, op.get("memoryUsedBytes", 0))
            parts = max(parts, op.get("numShufflePartitions", 0))
    return {"state.update_ms": upd, "state.commit_ms": com,
            "state.rows_total": rows, "state.memory_bytes": mem,
            "state.partitions": parts}

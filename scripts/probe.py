#!/usr/bin/env python3
"""Isolated, interleaved timing of catalog entries, with the executed
plan's shape and the engine's per-trigger phases.

Usage: python scripts/probe.py [--sf DIR] [--reps N] [--count]
                               [--explain DIR] TARGET...

A TARGET is a ``queries()`` entry name or a ``module:function`` with the
entry signature ``(spark, sf_dir) -> DataFrame``. One session
(``session.build_session``) runs each target once untimed (ingest
artifacts, codegen), then N timed reps. Before each rep it runs a JVM GC
and ``clear_cached_plans(spark, "query")``, so every rep builds and runs
a fresh plan. Reps are interleaved across targets: naming two targets
is an A/B in the same session. bench.py times every catalog cell
through :func:`run`.

Prints one JSON line per target:

- ``samples``, ``median``, ``q1`` and ``q3``, in seconds;
- ``rows``: from ``collect()``, or from ``count()`` with ``--count``;
- ``plan``: counts in the warm-up's executed plan: shuffle stages,
  reused exchanges, parquet scans and Python eval nodes;
- ``artifact_builds``: ``[warm-up, timed]`` session ingest artifacts
  (hub materializations, LSH frames, ...) built on a cache miss; a
  non-zero timed count means a rep paid an artifact rebuild;
- ``stream``, for a target that runs streaming queries (the
  ``stream_*`` twins): the trigger count and the summed ``durationMs``
  phases of a rep, each the median over the timed reps. They come from
  a ``StreamingQueryListener`` the probe registers on its session.

With ``--explain DIR`` each target's warm-up ``explain("formatted")``
is written to ``DIR/<target>.txt``.

For scale, build a replica and point ``--sf`` at it::

    python scripts/build_replica.py 10 /tmp/sf1
    python scripts/probe.py --sf /tmp/sf1 graph_copurchase_pagerank stream_scd2
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import re
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402


class _Progress(StreamingQueryListener):
    """The engine's per-trigger progress of every streaming query the
    session runs. ``start()`` returns only after the started event has
    been handled; the progress and terminated events of a query arrive
    later, in order, on the listener bus."""

    def __init__(self) -> None:
        self._cv = threading.Condition()
        self._running: set = set()
        self._progress: list = []

    def onQueryStarted(self, event) -> None:
        with self._cv:
            self._running.add(event.runId)

    def onQueryProgress(self, event) -> None:
        with self._cv:
            self._progress.append(dict(event.progress.durationMs))

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self._running.discard(event.runId)
            self._cv.notify_all()

    def take(self, timeout_s: float = 60.0) -> list:
        """The ``durationMs`` of every trigger since the last call, once
        every query started since then has terminated."""
        with self._cv:
            self._cv.wait_for(lambda: not self._running, timeout_s)
            out, self._progress = self._progress, []
            return out


def resolve(target: str):
    """A ``queries()`` entry, or the function a ``module:function`` names."""
    if ":" in target:
        mod, fn = target.split(":", 1)
        return getattr(importlib.import_module(mod), fn)
    import __spark_entry__ as entry

    qs = entry.queries()
    if target not in qs:
        raise ValueError(f"unknown target {target!r}: not a queries() entry "
                         "and not module:function")
    return qs[target]


def _plan_counts(df) -> dict:
    p = df._jdf.queryExecution().executedPlan().toString()
    return {
        "shuffle_stages": len(set(re.findall(r"ShuffleQueryStage (\d+)", p))),
        "reused": p.count("Reused"),
        "scans": p.count("Scan parquet"),
        "py_eval": p.count("EvalPython") + p.count("MapInPandas") + p.count("MapInArrow"),
    }


def _stream_stats(triggers: list) -> dict:
    phases: dict = {}
    for d in triggers:
        for k, v in d.items():
            phases[k] = phases.get(k, 0) + v
    return {"triggers": len(triggers), "phases_ms": phases}


def _median_stats(per_rep: list) -> dict:
    keys = sorted({k for s in per_rep for k in s["phases_ms"]})
    return {
        "triggers": statistics.median_low(s["triggers"] for s in per_rep),
        "phases_ms": {k: statistics.median(s["phases_ms"].get(k, 0) for s in per_rep)
                      for k in keys},
    }


def _explain(df) -> str:
    modes = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(modes.fromString("formatted"))


def run(spark, targets: list, sf_dir: str, reps: int = 5, count: bool = False,
        explain_dir: str | None = None) -> list:
    """Probe ``targets`` on ``spark``; returns one record per target."""
    from spark_eventhubs_spark.plans.hubview import artifact_build_count, clear_cached_plans

    fns = {t: resolve(t) for t in targets}
    load1 = round(os.getloadavg()[0], 2)
    rows, plans = {}, {}
    samples: dict = {t: [] for t in targets}
    streams: dict = {t: [] for t in targets}
    builds: dict = {t: [0, 0] for t in targets}
    listener = _Progress()
    spark.streams.addListener(listener)

    def once(t, timed):
        b0 = artifact_build_count()
        df = fns[t](spark, sf_dir)
        rows[t] = df.count() if count else len(df.collect())
        builds[t][timed] += artifact_build_count() - b0
        return df

    try:
        for t in targets:
            df = once(t, 0)
            plans[t] = _plan_counts(df)
            if explain_dir:
                with open(os.path.join(explain_dir, f"{t}.txt"), "w") as fh:
                    fh.write(_explain(df))
            listener.take()
        for _ in range(reps):
            for t in targets:
                spark.sparkContext._jvm.System.gc()
                clear_cached_plans(spark, "query")
                t0 = time.perf_counter()
                once(t, 1)
                samples[t].append(round(time.perf_counter() - t0, 3))
                triggers = listener.take()
                if triggers:
                    streams[t].append(_stream_stats(triggers))
    finally:
        spark.streams.removeListener(listener)
    recs = []
    for t in targets:
        xs = samples[t]
        q1, med, q3 = (statistics.quantiles(xs, n=4, method="inclusive")
                       if len(xs) > 1 else xs * 3)
        recs.append({
            "target": t, "sf_dir": sf_dir, "action": "count" if count else "collect",
            "rows": rows[t], "samples": xs,
            "median": round(med, 3), "q1": round(q1, 3), "q3": round(q3, 3),
            "plan": plans[t], "artifact_builds": builds[t],
            "stream": _median_stats(streams[t]) if streams[t] else None,
            "load1": load1,
        })
    return recs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="testdata dir (default $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--count", action="store_true",
                    help="count() instead of collect()")
    ap.add_argument("--explain", metavar="DIR",
                    help="write each target's warm-up explain(\"formatted\") "
                         "to DIR/<target>.txt")
    ap.add_argument("targets", nargs="+", metavar="TARGET")
    args = ap.parse_args(argv)
    if not args.sf or not os.path.isdir(args.sf):
        ap.error(f"testdata dir not found: {args.sf!r}")
    try:
        for t in args.targets:
            resolve(t)
    except (ValueError, ImportError, AttributeError) as e:
        ap.error(str(e))
    if args.explain:
        os.makedirs(args.explain, exist_ok=True)

    # Spark's Python workers (the hub DataSource, pandas UDFs) import the
    # package; set before the session starts
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    from spark_eventhubs_spark.session import build_session

    spark = build_session("probe")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for rec in run(spark, args.targets, args.sf, args.reps, args.count,
                       args.explain):
            print(json.dumps(rec), flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python3
"""Benchmark harness: times every ``queries()`` entry at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 testdata dir) on one
``session.build_session`` session and prints ONE JSON line:

  {"metric": "catalog_wall_clock", "value": <sum of cell medians, sec>,
   "unit": "sec", "queries": {name: median sec}, "sf": 0.1, ...}

Each cell is one ``scripts/probe.py`` ``run``: an untimed warm-up, then
timed reps, each after a JVM GC and a query-plan-cache clear. A batch
entry takes 3 reps. A ``stream_*`` twin takes 1, because every rep
re-drains its whole backlog and the drain, not codegen, dominates its
cost. ``cells`` keeps each cell's probe figures: samples, quartiles,
rows, executed-plan counts, ``[warm-up, timed]`` artifact builds and,
for the twins, the trigger count and summed ``durationMs`` phases. A
cell that raises is named under ``failures``; the others are still
timed.

``hub_scan_meps`` is the events/sec scanned by :func:`hub_scan_m40`'s
best rep. ``host_pre`` and ``host_post`` stamp nproc, load1 and the
numpy canary before and after the catalog, as perfbench's records do.
The line is also written to ``BENCH_LAST.json`` beside this file.
"""

from __future__ import annotations

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "scripts"))

import probe  # noqa: E402
from perfbench.run import host_stamp  # noqa: E402

REPS = 3
SCAN_MULT = 40
CELL_KEYS = ("samples", "median", "q1", "q3", "rows", "plan", "artifact_builds", "stream")


def hub_scan_m40(spark, sf_dir: str):
    """The hourly count and value sum through the hub projection over
    the events table replicated SCAN_MULT times by path: long enough
    that fixed job cost is a small share and the figure measures the
    scan."""
    from pyspark.sql import functions as F

    from spark_eventhubs_spark.plans.hubview import hub_view_flat

    rep = spark.read.parquet(*[f"{sf_dir}/events.parquet"] * SCAN_MULT)
    return (
        hub_view_flat(rep)
        .groupBy(F.expr("enq_us div 3600000000").alias("hour_bucket"))
        .agg(F.count("*").alias("cnt"), F.sum("value_cents").alias("sum_value_cents"))
    )


def time_cells(spark, names: list, sf_dir: str, reps: int = REPS) -> tuple[dict, dict]:
    """One probe record per target in ``names`` and the first line of
    the error of each target that raised."""
    cells, failures = {}, {}
    for i, name in enumerate(names):
        try:
            (rec,) = probe.run(spark, [name], sf_dir, 1 if name.startswith("stream_") else reps)
            cells[name] = {k: rec[k] for k in CELL_KEYS}
        except Exception as e:  # a failed cell must not hide the rest
            failures[name] = str(e).split("\n")[0][:200]
        # progress to stderr (stdout carries ONLY the JSON line)
        print(f"[bench] {i + 1}/{len(names)} {name} "
              f"{cells[name]['median'] if name in cells else 'FAIL'}s",
              file=sys.stderr, flush=True)
    return cells, failures


def _replica_layout(sf_dir: str):
    """Fingerprint stamped by scripts/build_replica.py (None for the
    driver-generated testdata dirs, which carry no _layout.json)."""
    try:
        with open(os.path.join(sf_dir, "_layout.json")) as fh:
            return json.load(fh).get("fingerprint")
    except (OSError, ValueError):
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # "sf0.1" and replica dirs like "sf1_a" stamp their numeric scale;
    # anything unparseable stamps -1 (the bench_ratio --factor path)
    m = re.search(r"sf([0-9]+(?:\.[0-9]+)?)", os.path.basename(sf_dir.rstrip("/")))
    sf = float(m.group(1)) if m else -1.0
    # Spark's Python workers (the hub DataSource, pandas UDFs) import the
    # package; set before the session starts
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    host_pre = host_stamp()

    import __spark_entry__ as entry
    from spark_eventhubs_spark.session import build_session

    spark = build_session("spark-eventhubs-bench")
    spark.sparkContext.setLogLevel("ERROR")
    cells, failures = time_cells(spark, list(entry.queries()), sf_dir)
    host_post = host_stamp()

    metric_errors: dict[str, str] = {}
    n_events = meps = scan_best_s = -1
    try:
        n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
        (scan,) = probe.run(spark, ["bench:hub_scan_m40"], sf_dir, REPS)
        scan_best_s = min(scan["samples"])
        meps = round(SCAN_MULT * n_events / scan_best_s / 1e6, 3)
    except Exception as e:
        metric_errors["hub_scan"] = str(e).split("\n")[0][:200]
    spark.stop()

    out = {
        "metric": "catalog_wall_clock",
        "value": round(sum(c["median"] for c in cells.values()), 3),
        "unit": "sec",
        "queries": {name: c["median"] for name, c in cells.items()},
        "cells": cells,
        "sf": sf,
        "n_queries": len(cells),
        "reps": {"batch": REPS, "stream": 1},
        "events_rows": n_events,
        "hub_scan_meps": meps,
        "hub_scan_mult": SCAN_MULT,
        "hub_scan_best_s": scan_best_s,
        "host_pre": host_pre,
        "host_post": host_post,
        # two records compare cells on the same physical layout iff
        # these fingerprints match
        "replica_layout": _replica_layout(sf_dir),
    }
    if failures:
        out["failures"] = failures
    if metric_errors:
        out["metric_errors"] = metric_errors
    line = json.dumps(out)
    # a tracked copy of the exact stdout line survives a truncated
    # stdout capture; written after all timing
    try:
        with open(os.path.join(ROOT, "BENCH_LAST.json"), "w") as fh:
            fh.write(line + "\n")
    except OSError:
        pass  # a read-only checkout must not lose the stdout record
    print(line)


if __name__ == "__main__":
    main()

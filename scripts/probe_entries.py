#!/usr/bin/env python3
"""Isolated per-entry probe: timed reps + runtime executed-plan stats.

For each named batch entry: one untimed warmup, then N timed reps
(plan cache cleared per rep, bench-identical session confs), printing
per-rep walls, the median, and executed-plan statistics — distinct
shuffle stages, reused stages/exchanges, parquet scan count — so
duplicate-subtree recomputation is visible from the probe alone.

Usage: python3 scripts/probe_entries.py [sf_dir] entry [entry ...]
Env: SEH_PROBE_REPS=5
"""

from __future__ import annotations

import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and (os.sep in args[0] or args[0].startswith(".")):
        if not os.path.isdir(args[0]):
            raise SystemExit(f"sf_dir does not exist: {args[0]}")
        sf_dir = args.pop(0)
    if not args:
        raise SystemExit("name at least one entry")
    reps = int(os.environ.get("SEH_PROBE_REPS", "5"))

    import __spark_entry__ as entry
    from spark_eventhubs_spark.plans.hubview import clear_cached_plans
    from spark_eventhubs_spark.session import build_session

    qs = entry.queries()
    unknown = [n for n in args if n not in qs]
    if unknown:
        raise SystemExit(f"unknown entry name(s): {unknown}")

    spark = build_session("probe-entries")
    spark.sparkContext.setLogLevel("ERROR")

    for name in args:
        fn = qs[name]
        df = fn(spark, sf_dir)
        df.collect()  # warmup (also builds session ingest artifacts)
        p = df._jdf.queryExecution().executedPlan().toString()
        stages = re.findall(r"ShuffleQueryStage (\d+)", p)
        print(
            f"PLAN {name}: shuffle_stages={len(set(stages))} "
            f"reused={p.count('Reused')} scans={p.count('Scan parquet')} "
            f"pyeval={p.count('EvalPython') + p.count('MapInPandas') + p.count('MapInArrow')}",
            flush=True,
        )
        walls = []
        for _ in range(reps):
            clear_cached_plans(spark, "query")
            t0 = time.time()
            fn(spark, sf_dir).collect()
            walls.append(time.time() - t0)
        walls_s = " ".join(f"{w:.3f}" for w in walls)
        print(
            f"TIME {name}: median={statistics.median(walls):.3f} "
            f"min={min(walls):.3f} reps=[{walls_s}]",
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

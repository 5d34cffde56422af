#!/usr/bin/env python3
"""Isolated re-measure of a single catalog entry: fresh JVM, N reps
with a GC point and query-plan-cache clear between runs (ingest
artifacts — signature stores, bucketed tables — warm after rep 1,
exactly like the steady state bench.py measures). Emits one JSON line
with all samples so spread claims are checkable from the artifact.

Round-9 verdict item 4: the three widest per-entry spreads in
BENCH_sf10_r08.json (hub_asof_join, dedup_chunk_clean,
text_gopher_filters) needed isolated runs to tell GC-pressure noise
from real variance.

Measures ``collect()`` like bench.py (pass reps<0 to measure
``count()`` instead — separating plan cost from driver-side result
materialization, which dominates entries returning millions of rows).

Usage: python scripts/entry_probe.py <sf_dir> <entry> [reps]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir, name = sys.argv[1], sys.argv[2]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    use_count = reps < 0
    reps = abs(reps)
    load_pre = os.getloadavg()[0]

    from spark_eventhubs_spark.plans.hubview import clear_cached_plans
    from spark_eventhubs_spark.session import build_session

    import __spark_entry__ as entry

    spark = build_session("entry-probe")
    spark.sparkContext.setLogLevel("ERROR")
    q = entry.queries()[name]

    # untimed warmup (bench.py parity: ingest artifacts + codegen)
    q(spark, sf_dir).count()
    samples = []
    n = 0
    for _ in range(reps):
        spark.sparkContext._jvm.System.gc()
        clear_cached_plans(spark, "query")
        t0 = time.time()
        if use_count:
            n = q(spark, sf_dir).count()
        else:
            n = len(q(spark, sf_dir).collect())
        samples.append(round(time.time() - t0, 2))
    srt = sorted(samples)
    med = srt[len(srt) // 2]
    print(json.dumps({
        "entry": name,
        "sf_dir": sf_dir,
        "action": "count" if use_count else "collect",
        "rows": n,
        "samples": samples,
        "median": med,
        "spread": [srt[0], srt[-1]],
        "max_over_median": round(srt[-1] / med, 2) if med else None,
        "load_1m_pre": round(load_pre, 2),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

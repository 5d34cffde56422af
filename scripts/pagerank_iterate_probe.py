#!/usr/bin/env python3
"""Isolated re-measure of the graph_pagerank_iterate stepup cell
(round-9 verdict item 3: exponent 0.73 at 30x with spread
[12.8, 39.6] in the full sweep — noise or real?).

Unlike the stepup sweep — where the iterate cell runs LAST at each
level, after ten families have filled the session with checkpointed
artifacts and shuffle registrations — this probe gives the cell a
fresh JVM, builds the bucketed edge artifact once, and runs the
steady-state iteration N times with a GC point and plan-cache clear
between runs. One JSON line per sf_dir with all samples.

Usage: python scripts/pagerank_iterate_probe.py <sf_dir> [reps] [n_buckets]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    n_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else None
    load_pre = os.getloadavg()[0]

    from spark_eventhubs_spark.bucketing import ensure_copurchase_edges
    from spark_eventhubs_spark.operators import graph as G
    from spark_eventhubs_spark.plans.hubview import clear_cached_plans
    from spark_eventhubs_spark.session import build_session

    spark = build_session("pagerank-iterate-probe")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    kw = {} if n_buckets is None else {"n_buckets": n_buckets}
    tbl = ensure_copurchase_edges(spark, sf_dir, **kw)
    n_edges = spark.table(tbl).count()
    ingest_sec = time.time() - t0

    samples = []
    n = 0
    for _ in range(reps):
        spark.sparkContext._jvm.System.gc()
        clear_cached_plans(spark, "query")
        t0 = time.time()
        df = G.pagerank(edges=spark.table(tbl))
        n = df.count()
        samples.append(round(time.time() - t0, 2))
    plan = df._jdf.queryExecution().executedPlan().toString()
    srt = sorted(samples)
    print(json.dumps({
        "sf_dir": sf_dir,
        "edges": n_edges,
        "rows": n,
        "ingest_sec": round(ingest_sec, 2),
        "samples": samples,
        "median": srt[len(srt) // 2],
        "spread": [srt[0], srt[-1]],
        "n_exchanges": plan.count("Exchange"),
        "n_broadcast_joins": plan.count("BroadcastHashJoin"),
        "n_buckets": n_buckets,
        "load_1m_pre": load_pre,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

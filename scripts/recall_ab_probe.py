#!/usr/bin/env python3
"""Same-session interleaved A/B of search_recall_at_k forms (r14,
verdict item 2): the r13 tag-union form (three corpus scans, per-leg
orderBy().limit() under a union) vs the r14 fused-kernel form (ONE
Arrow pass + WindowGroupLimit rank). Both run cold-plan (plan cache
cleared per rep), alternating A,B,A,B,... so host drift hits both.

Usage: python scripts/recall_ab_probe.py [sf_dir] [reps]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    from pyspark.sql import functions as F

    from spark_eventhubs_spark.operators import similarity as S
    from spark_eventhubs_spark.plans.hubview import clear_cached_plans
    from spark_eventhubs_spark.session import build_session
    import spark_eventhubs_spark.queries as Q

    spark = build_session("recall-ab-probe")
    spark.sparkContext.setLogLevel("ERROR")

    def old_form():
        """The r13 tag-union form, verbatim from commit 2440765."""
        emb = Q._table(spark, sf_dir, "embeddings")
        brute = S.brute_force_topk(emb, query_vec_id=0, k=10).select("vec_id")
        ann = S.lsh_ann_topk(emb, query_vec_id=0, k=10).select(
            F.lit("lsh").alias("method"), "vec_id"
        ).unionAll(
            S.ivf_ann_topk(emb, query_vec_id=0, k=10).select(
                F.lit("ivf").alias("method"), "vec_id"
            )
        )
        hits = ann.join(brute, "vec_id").groupBy("method").agg(
            F.count(F.lit(1)).alias("n_hits_raw")
        )
        methods = spark.createDataFrame(
            [("lsh", 10), ("ivf", 10)], "method string, k int"
        )
        return (
            methods.join(hits, "method", "left")
            .select(
                "method", "k",
                F.coalesce(F.col("n_hits_raw"), F.lit(0).cast("long")).alias("n_hits"),
            )
            .select(
                "method", "k", "n_hits",
                F.floor(F.lit(10000) * F.col("n_hits") / F.col("k"))
                .cast("long").alias("recall_bp"),
            )
        )

    def new_form():
        return Q.queries()["search_recall_at_k"](spark, sf_dir)

    # results must agree before timing means anything
    ra = sorted(map(tuple, old_form().collect()))
    rb = sorted(map(tuple, new_form().collect()))
    print("results_equal:", ra == rb, ra)

    walls: dict[str, list[float]] = {"old": [], "new": []}
    for _ in range(reps):
        for tag, fn in (("old", old_form), ("new", new_form)):
            clear_cached_plans(spark, "query")
            t0 = time.time()
            fn().collect()
            walls[tag].append(time.time() - t0)
    for tag, ws in walls.items():
        print(
            f"{tag}: median={statistics.median(ws):.3f} "
            f"min={min(ws):.3f} reps=[" + " ".join(f"{w:.3f}" for w in ws) + "]"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

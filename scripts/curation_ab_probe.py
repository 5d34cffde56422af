#!/usr/bin/env python3
"""Same-session interleaved A/B of corpus_curation_decisions forms
(r14, verdict item 4): the r13 three-leg form (gopher_filters scan +
chunk_dedup scan + doc_id join) vs the r14 carry form (gopher keep
flag rides chunk_dedup's production as a carried group key).

Usage: python scripts/curation_ab_probe.py [sf_dir] [reps]
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

    from spark_eventhubs_spark.operators import clustering as CL
    from spark_eventhubs_spark.operators import dedup as D
    from spark_eventhubs_spark.operators import text as T
    from spark_eventhubs_spark.plans.hubview import clear_cached_plans
    from spark_eventhubs_spark.session import build_session
    import spark_eventhubs_spark.queries as Q

    spark = build_session("curation-ab-probe")
    spark.sparkContext.setLogLevel("ERROR")

    def old_form():
        """The r13 three-leg form, verbatim from commit d0eb435's tree."""
        docs = Q._table(spark, sf_dir, "documents")
        emb = Q._table(spark, sf_dir, "embeddings")
        g = T.gopher_filters(docs).select(
            "doc_id", F.col("keep").alias("gopher_keep")
        )
        c = D.chunk_dedup(docs).select(
            "doc_id",
            F.floor(F.lit(10000) * F.col("n_dropped") / F.col("n_chunks"))
            .cast("long")
            .alias("chunk_dup_bp"),
        )
        s = CL.semdedup(emb).select(
            F.col("vec_id"), F.col("keep").alias("sem_keep_raw")
        )
        joined = (
            g.join(c, "doc_id")
            .join(s, g["doc_id"] == s["vec_id"], "left")
            .select(
                "doc_id",
                "gopher_keep",
                "chunk_dup_bp",
                F.coalesce(F.col("sem_keep_raw"), F.lit(1)).alias("sem_keep"),
            )
        )
        return joined.select(
            "doc_id",
            "gopher_keep",
            "chunk_dup_bp",
            "sem_keep",
            (
                (F.col("gopher_keep") == 1)
                & (F.col("sem_keep") == 1)
                & (F.col("chunk_dup_bp") <= 5000)
            ).cast("int").alias("final_keep"),
        )

    def new_form():
        return Q.queries()["corpus_curation_decisions"](spark, sf_dir)

    ra = sorted(map(tuple, old_form().collect()))
    rb = sorted(map(tuple, new_form().collect()))
    print("results_equal:", ra == rb, "rows:", len(ra))

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

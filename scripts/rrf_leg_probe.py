#!/usr/bin/env python3
"""Per-leg timing for search_hybrid_rrf at step-up scale (r6 verdict
item 3): the 30x stepup showed the fused entry growing 3.55x from 10x
to 30x (superlinear tail). This probe builds the same key-remapped
replicas and times each constituent separately —

  bm25   : operators/text.bm25_topk(docs, k=20)      (text leg)
  vector : operators/similarity.brute_force_topk      (dense leg)
  fused  : operators/search.hybrid_rrf                (whole entry)

so the superlinear term is attributed, not guessed. Reuses
scale_stepup.build_upsampled; replicas live under a caller-provided
dir and are NOT deleted, so fix iterations re-measure without paying
the build.

Usage: python scripts/rrf_leg_probe.py [k1,k2,...] [workdir]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ks = [int(x) for x in (sys.argv[1].split(",") if len(sys.argv) > 1
                           else ["10", "30"])]
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/seh_rrf_probe"

    from spark_eventhubs_spark.session import build_session
    from scripts.scale_stepup import build_upsampled

    from spark_eventhubs_spark.operators.search import hybrid_rrf
    from spark_eventhubs_spark.operators.similarity import brute_force_topk
    from spark_eventhubs_spark.operators.text import bm25_topk
    from spark_eventhubs_spark.plans.hubview import clear_cached_plans

    spark = build_session("rrf-probe")
    spark.sparkContext.setLogLevel("ERROR")
    for k in ks:
        d = os.path.join(work, f"x{k}")
        # sentinel = the LAST table build_upsampled writes (embeddings),
        # so an interrupted build is rebuilt, not silently reused
        if not os.path.exists(os.path.join(d, "embeddings.parquet")):
            t0 = time.time()
            build_upsampled(spark, k, d)
            print(json.dumps({"built": k, "sec": round(time.time() - t0, 1)}),
                  flush=True)
        clear_cached_plans(spark)
        spark.sparkContext._jvm.System.gc()
        docs = spark.read.parquet(f"{d}/documents.parquet")
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        legs = {}
        t0 = time.time()
        n_t = bm25_topk(docs, k=20).count()
        legs["bm25"] = round(time.time() - t0, 2)
        t0 = time.time()
        n_v = brute_force_topk(emb, 0, k=20).count()
        legs["vector"] = round(time.time() - t0, 2)
        t0 = time.time()
        n_f = hybrid_rrf(docs, emb).count()
        legs["fused"] = round(time.time() - t0, 2)
        # fused again with both leg plans warm: isolates the fusion
        t0 = time.time()
        hybrid_rrf(docs, emb).count()
        legs["fused_rerun"] = round(time.time() - t0, 2)
        print(json.dumps({"k": k, "legs": legs,
                          "rows": {"bm25": n_t, "vector": n_v, "fused": n_f}}),
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

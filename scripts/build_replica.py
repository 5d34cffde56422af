#!/usr/bin/env python3
"""Build a persistent k-fold key-remapped replica of the sf0.1 corpus
(the scale_stepup builder, kept on disk) so the full catalog can run
at sf1 (k=10) / sf3 (k=30) via SPARK_GRAFT_SF_DIR.

Usage: python scripts/build_replica.py <k> <out_dir>
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    k = int(sys.argv[1])
    out = sys.argv[2]

    import scale_stepup

    from spark_eventhubs_spark.session import build_session

    spark = build_session("build-replica")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    scale_stepup.build_upsampled(spark, k, out)
    n = spark.read.parquet(os.path.join(out, "events.parquet")).count()
    print(f"built {out}: k={k}, events={n}, {time.time() - t0:.1f}s")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python3
"""Time the stream_scd2 catalog drain on the sf1 (10x) backlog —
round-7 verdict item 4's Done evidence (bar: < 40 s, was 58.8 s).

Builds the key-remapped 10x replica (scale_stepup's builder), warms
the session-cached hub ingest artifact once, then times the exact
catalog drain twice: per-user grouping (the r7 path) and bucketed
grouping (the r8 path, hash(user)%64 + vectorized per-bucket RLE).
Row counts must agree. Prints one JSON line; cleans its workdir.

Usage: python scripts/scd2_probe.py [k] [out_json]
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_json = sys.argv[2] if len(sys.argv) > 2 else None

    import scale_stepup  # noqa: E402  (sibling script: replica builder)

    from spark_eventhubs_spark.session import build_session
    from spark_eventhubs_spark.streaming.stateful import streaming_scd2
    from spark_eventhubs_spark import queries as Q

    spark = build_session("scd2-probe")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="scd2probe_")
    try:
        sf_dir = os.path.join(work, f"sf_{k}x")
        scale_stepup.build_upsampled(spark, k, sf_dir)
        # hub ingest artifact: session-cached per sf_dir — pay it once
        # outside both timed drains (the bench condition)
        Q._hub_stream_dir(spark, sf_dir)
        rec = {"metric": "scd2_drain", "k": k, "unit": "sec",
               "events": spark.read.parquet(
                   os.path.join(sf_dir, "events.parquet")).count(),
               "variants": {}}
        for tag, nb in (("bucketed_r8", 64), ("per_user_r7", None)):
            sdf, name = Q._rate_limited_hub_stream(
                spark, sf_dir, f"scd2probe_{tag}"
            )
            t0 = time.time()
            Q._run_stream_to_memory(
                streaming_scd2(sdf, n_buckets=nb), name,
                available_now=False, mode="append",
            )
            dt = time.time() - t0
            n = spark.sql(f"SELECT COUNT(*) FROM {name}").first()[0]
            rec["variants"][tag] = {"sec": round(dt, 2), "rows": int(n)}
        rows = {v["rows"] for v in rec["variants"].values()}
        assert len(rows) == 1, f"variant row counts differ: {rec}"
        line = json.dumps(rec)
        print(line)
        if out_json:
            with open(out_json, "w") as fh:
                fh.write(line + "\n")
        return 0
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())

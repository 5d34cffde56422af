#!/usr/bin/env python3
"""Profile stream_sessionize's drain (round-10 verdict item 7): where
does the wall go — session_window state commits, the sentinel-flush
trigger, or trigger mechanics? Reproduces the catalog entry's exact
drain but keeps the StreamingQuery handle so per-trigger progress
(durationMs breakdown + state-operator commit times) can be dumped.

Usage: python scripts/profile_sessionize.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from spark_eventhubs_spark import workdirs as _wd
    from spark_eventhubs_spark.session import build_session
    from spark_eventhubs_spark.streaming.stateful import streaming_sessionize
    import spark_eventhubs_spark.queries as Q

    spark = build_session("profile-sessionize")
    spark.sparkContext.setLogLevel("ERROR")

    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    for rep in range(reps):
        t_all = time.time()
        path = Q._sessionize_hub_dir(spark, sf_dir)
        sdf, name = Q._rate_limited_hub_stream(spark, sf_dir, "prof_ssess", path=path)
        etype = F.col("properties").getItem("event_type")
        sdf = sdf.where(
            (etype != "sentinel") | (F.col("properties").getItem("run") == name)
        )
        bounds = Q.load_hub_flat(spark, sf_dir).agg(
            F.min("enq_us").alias("lo"), F.max("enq_us").alias("hi")
        ).first()
        span_h = int((bounds["hi"] - bounds["lo"]) // 3_600_000_000) + 2
        gap_str = f"{Q._SESSION_GAP_US // 60_000_000} minutes"
        sess = streaming_sessionize(sdf, gap=gap_str, delay=f"{span_h} hours")
        t_setup = time.time() - t_all

        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", os.environ.get("PROF_PARTS", "8"))
        if os.environ.get("PROF_ROCKS"):
            spark_sess_conf_prev = None
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
            )
        ck = _wd.scratch_dir("seh_ckpt_")
        marks = {}
        try:
            t0 = time.time()
            q = (
                sess.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(processingTime=os.environ.get("PROF_TRIG", "50 milliseconds"))
                .start()
            )
            marks["start_s"] = round(time.time() - t0, 3)
            t0 = time.time()
            q.processAllAvailable()
            marks["backlog_drain_s"] = round(time.time() - t0, 3)
            t0 = time.time()
            sent = spark.createDataFrame([("sentinel",)], "body string").coalesce(1).select(
                "body",
                F.create_map(
                    F.lit("user_id"), F.lit("zz_sentinel"),
                    F.lit("event_type"), F.lit("sentinel"),
                    F.lit("run"), F.lit(name),
                ).alias("properties"),
            )
            sent.write.format("eventhubs").mode("append").option("path", path).save()
            marks["sentinel_write_s"] = round(time.time() - t0, 3)
            t0 = time.time()
            q.processAllAvailable()
            marks["sentinel_flush_s"] = round(time.time() - t0, 3)
            # PySpark 4: recentProgress yields StreamingQueryProgress
            # objects (json attr), not JSON strings
            progress = [
                json.loads(p.json if hasattr(p, "json") else p)
                for p in q.recentProgress
            ]
            q.stop()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
            _wd.release(ck)
        t0 = time.time()
        n = spark.sql(f"SELECT COUNT(*) FROM {name}").first()[0]
        marks["final_read_s"] = round(time.time() - t0, 3)
        marks["setup_s"] = round(t_setup, 3)
        marks["total_s"] = round(time.time() - t_all, 3)
        marks["rows"] = n

        print(json.dumps(marks, indent=1))
        for p in progress:
            dur = p.get("durationMs", {})
            so = (p.get("stateOperators") or [{}])[0]
            print(json.dumps({
                "batchId": p.get("batchId"),
                "numInputRows": p.get("numInputRows"),
                "durationMs": dur,
                "stateRows": so.get("numRowsTotal"),
                "stateUpdated": so.get("numRowsUpdated"),
                "commitMs": (so.get("customMetrics") or {}).get(
                    "stateOnCurrentVersionSizeBytes"
                ),
                "allUpdatesMs": so.get("allUpdatesTimeMs"),
                "allRemovalsMs": so.get("allRemovalsTimeMs"),
                "commitTimeMs": so.get("commitTimeMs"),
            }))
    spark.stop()


if __name__ == "__main__":
    main()

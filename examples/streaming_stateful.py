"""Stateful Structured Streaming over the native eventhubs source.

Materializes the simulated hub log, then runs two stateful streaming
operators through real micro-batches:

1. watermark dedup over a doubled (at-least-once) stream — the
   duplicates vanish and the per-partition counts equal the batch scan;
2. per-user running counters via applyInPandasWithState across
   rate-limited triggers — custom state that survives batch boundaries.

Run:  python examples/streaming_stateful.py [sf_dir]
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ["PYTHONPATH"] = (
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    + os.pathsep
    + os.environ.get("PYTHONPATH", "")
)

import spark_eventhubs_spark as eh
from spark_eventhubs_spark.sources.datasource import (
    materialize_hub,
    register_eventhubs,
)
from spark_eventhubs_spark.streaming.stateful import (
    running_counters,
    streaming_dedup,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = eh.build_session("streaming-stateful-example", master="local[4]",
                             shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    hub_dir = os.path.join(tempfile.mkdtemp(prefix="hub_"), "events")
    materialize_hub(spark, sf_dir, hub_dir)
    register_eventhubs(spark)

    # 1. dedup a doubled stream back to the original event count
    s = spark.readStream.format("eventhubs").option("path", hub_dir).load()
    s2 = spark.readStream.format("eventhubs").option("path", hub_dir).load()
    deduped = streaming_dedup(s.union(s2), delay="240 hours")
    q = (
        deduped.select("partition", "sequenceNumber")
        .writeStream.format("memory").queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck1_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    n_dedup = spark.sql("SELECT COUNT(*) AS n FROM dedup_sink").first()["n"]
    n_batch = spark.read.format("eventhubs").option("path", hub_dir).load().count()
    print(f"deduped stream rows: {n_dedup} (batch scan: {n_batch})")
    assert n_dedup == n_batch

    # 2. running per-user counters across rate-limited micro-batches
    sdf = (
        spark.readStream.format("eventhubs")
        .option("path", hub_dir)
        .option("eventhubs.maxEventsPerTrigger", "300")
        .load()
    )
    q2 = (
        running_counters(sdf)
        .writeStream.format("memory").queryName("cnt_sink")
        .outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck2_"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    q2.processAllAvailable()
    triggers = sum(p["numInputRows"] > 0 for p in q2.recentProgress)
    q2.stop()
    print(f"rate-limited triggers with data: {triggers}")
    assert triggers >= 2
    total = spark.sql(
        "SELECT SUM(n) AS t FROM (SELECT user_id, MAX(n_events) AS n "
        "FROM cnt_sink GROUP BY user_id)"
    ).first()["t"]
    print(f"running-counter total events: {total}")
    assert total == n_batch

    spark.stop()


if __name__ == "__main__":
    main()

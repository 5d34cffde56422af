"""Batch read: bounded scan of a hub between positions.

Mirrors the reference's batch quickstart
(docs/structured-streaming-eventhubs-integration.md §batch): ingest the
raw events table into a hub log, build a conf, pick start/end
positions, read a bounded 9-column DataFrame, then run plain DataFrame
ops on it.

Run:  python examples/batch_read.py [sf_dir]
"""

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import spark_eventhubs_spark as eh
from spark_eventhubs_spark.position import EventPosition


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = eh.build_session("batch-read-example", master="local[4]",
                             shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    # the hub is a partition=<pid>/ parquet log; a raw events table is
    # materialized into one first
    hub_root = tempfile.mkdtemp(prefix="batch_read_")
    eh.materialize_hub(spark, sf_dir, os.path.join(hub_root, "events"))
    conf = (
        eh.EventHubsConf(eh.file_hub_connection_string(hub_root, "events"))
        .set_starting_position(EventPosition.from_sequence_number(100))
        .set_ending_position(EventPosition.from_sequence_number(200))
    )
    df = eh.read_eventhubs(spark, conf)  # canonical 9-column schema
    df.printSchema()

    # the query surface is vanilla Spark from here on
    out = (
        df.select(F.col("body").cast("string").alias("body"), "partition")
        .groupBy("partition")
        .agg(F.count("*").alias("n"))
        .orderBy("partition")
    )
    out.show()
    spark.stop()
    shutil.rmtree(hub_root, ignore_errors=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Head-to-head: applyInPandasWithState vs Spark 4's
transformWithStateInPandas on identical running-counter semantics.

The round-7 verdict asked whether the new transformWithState API
shrinks the fixed per-GROUP Arrow/state round-trip that makes
per-user stateful twins cost O(active users) per micro-batch
(NOTES_r08 item 4 — we fixed it by bucketing instead). This probe
measures the per-group constant of BOTH APIs directly: a
deterministic `rate-micro-batch` stream with K distinct keys per
trigger, N triggers, memory sink; wall per trigger divided by K is
the per-group cost.

Usage: python3 scripts/tws_probe.py [K ...]   (default 500 5000)

transformWithStateInPandas requires the RocksDB state store provider;
the probe sets it per-query via the session conf and restores after.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("last_val", LongType()),
    ]
)
STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("last_val", LongType())]
)


def _apips_update(key, pdfs, state):
    (user_id,) = key
    n, last = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        if len(pdf):
            last = max(last, int(pdf["value"].max()))
    state.update((n, last))
    yield pd.DataFrame([[user_id, n, last]], columns=["user_id", "n_events", "last_val"])


class _CounterProcessor(StatefulProcessor):
    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("ctr", STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        got = self._state.get()
        n, last = got if got is not None else (0, 0)
        for pdf in rows:
            n += len(pdf)
            if len(pdf):
                last = max(last, int(pdf["value"].max()))
        self._state.update((n, last))
        yield pd.DataFrame(
            [[key[0], n, last]], columns=["user_id", "n_events", "last_val"]
        )

    def close(self) -> None:
        pass


def _drain(spark, keyed, sink_name: str, n_batches: int, use_tws: bool, ck: str):
    if use_tws:
        out = keyed.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=_CounterProcessor(),
            outputStructType=OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    else:
        out = keyed.groupBy("user_id").applyInPandasWithState(
            _apips_update,
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    q = (
        out.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(processingTime="0 seconds")
        .start()
    )
    # Let the unbounded rate source emit n_batches batches, then stop
    # (processAllAvailable would never return on a rate source). The
    # per-trigger figure comes from the engine's own batchDuration in
    # recentProgress, skipping the first two warm-up batches, so query
    # startup and codegen are excluded.
    t0 = time.time()
    deadline = t0 + 600
    while time.time() < deadline:
        prog = q.lastProgress
        if prog and prog["batchId"] >= n_batches + 1:
            break
        time.sleep(0.2)
    progress = [
        p for p in q.recentProgress
        if p["batchId"] >= 2 and p["numInputRows"] > 0
    ]
    q.stop()
    durs = sorted(p["batchDuration"] for p in progress)
    med_ms = durs[len(durs) // 2] if durs else float("nan")
    return med_ms, len(durs)


def main() -> int:
    ks = [int(a) for a in sys.argv[1:]] or [500, 5000]
    n_batches = 12
    rows_per_key = 4

    from spark_eventhubs_spark.session import build_session

    spark = build_session("tws-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    results = {}
    import tempfile

    for k in ks:
        src = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", k * rows_per_key)
            .load()
        )
        keyed = src.select(
            (F.col("value") % k).alias("user_id"), F.col("value")
        )
        for api in ("apips", "tws"):
            if api == "tws":
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass",
                    "org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider",
                )
            else:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            ck = tempfile.mkdtemp(prefix=f"tws_probe_{api}_{k}_")
            name = f"probe_{api}_{k}"
            med_ms, batches = _drain(
                spark, keyed, name, n_batches, use_tws=(api == "tws"), ck=ck
            )
            rows = spark.table(name).count()
            per_group_us = 1000.0 * med_ms / k
            results[(api, k)] = (med_ms, batches, per_group_us)
            print(
                f"{api:6s} K={k:6d}: median-trigger={med_ms:8.1f}ms "
                f"(over {batches} measured batches, rows={rows}) "
                f"per-group={per_group_us:7.1f}us",
                flush=True,
            )
            import shutil

            shutil.rmtree(ck, ignore_errors=True)
    spark.stop()
    for k in ks:
        a = results[("apips", k)][2]
        t = results[("tws", k)][2]
        print(f"K={k}: per-group apips={a:.1f}us tws={t:.1f}us ratio tws/apips={t / a:.2f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

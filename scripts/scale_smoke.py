#!/usr/bin/env python3
"""Scale smoke: run the core operator families at 100-1000x the sf0.1
testdata size on synthesized data, and print measured throughput.

The driver's bench runs at sf0.1 (100k events / 5k docs) where fixed
overheads dominate; this script is the evidence that the PLAN SHAPES,
not the small inputs, carry the performance: events are synthesized
with spark.range (no I/O bottleneck) at 20M rows, documents at 100k,
and each family runs the same code paths as the catalog queries.

Usage: python scripts/scale_smoke.py [n_events] [n_docs]
Prints one JSON line per family: {"family", "rows", "sec", "rows_per_sec"}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000

    from pyspark.sql import functions as F

    from spark_eventhubs_spark.session import build_session

    spark = build_session("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    def report(family: str, rows: int, sec: float, **extra) -> None:
        print(json.dumps({
            "family": family, "rows": rows, "sec": round(sec, 2),
            "rows_per_sec": int(rows / sec) if sec > 0 else -1,
            **extra,
        }), flush=True)

    # --- synthetic hub stream: 20M events over 32 partitions ---
    events = spark.range(n_events).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 32).cast("string").alias("partition"),
        (F.col("id") / 32).cast("long").alias("sequenceNumber"),
        (F.lit(1_700_000_000_000_000) + F.col("id") * 50_000).alias("enq_us"),
        (F.col("id") % 100_000).cast("string").alias("user_id_str"),
        (F.pmod(F.xxhash64("id"), F.lit(10_000))).alias("value_cents"),
        F.element_at(
            F.array(*[F.lit(t) for t in
                      ("click", "view", "purchase", "signup", "error")]),
            (F.pmod(F.xxhash64(F.col("id") + 7), F.lit(5)) + 1).cast("int"),
        ).alias("event_type"),
    )

    t0 = time.time()
    n = (
        events.groupBy((F.col("enq_us") / 3_600_000_000).cast("long"))
        .agg(F.count("*"), F.sum("value_cents"))
        .count()
    )
    report("window_agg_20M", n_events, time.time() - t0)

    t0 = time.time()
    from spark_eventhubs_spark.functions.skew import salted_agg
    salted_agg(
        events, ["user_id_str"],
        [("count", F.lit(1), "n"), ("sum", F.col("value_cents"), "s")],
        salt_col=F.col("sequenceNumber"),
    ).count()
    report("salted_agg_20M", n_events, time.time() - t0)

    t0 = time.time()
    a = events.where(F.col("event_type") == "purchase").select(
        "user_id_str", F.col("enq_us").alias("a_us"))
    b = events.where(F.col("event_type") == "error").select(
        F.col("user_id_str").alias("b_user"), F.col("enq_us").alias("b_us"))
    (
        a.join(b, (F.col("user_id_str") == F.col("b_user"))
               & (F.col("b_us") >= F.col("a_us") - 600_000_000)
               & (F.col("b_us") < F.col("a_us")))
        .groupBy("user_id_str").count().count()
    )
    report("interval_join_8M", int(n_events * 0.4), time.time() - t0)

    # --- synthetic documents: 100k docs x ~40 tokens ---
    words = F.array(*[F.lit(w) for w in (
        "the quick brown fox jumps over lazy dog spark parquet shuffle "
        "stream window join hash band token corpus model data scale"
    ).split()])
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[
            F.element_at(words, (F.pmod(F.xxhash64(F.col("id") * 40 + i),
                                        F.lit(20)) + 1).cast("int"))
            for i in range(40)
        ]).alias("text"),
    )

    from spark_eventhubs_spark.operators.dedup import minhash_signatures
    t0 = time.time()
    minhash_signatures(docs, fast=True).count()
    report("minhash_fast_100k_docs", n_docs, time.time() - t0)

    t0 = time.time()
    minhash_signatures(docs).count()
    report("minhash_md5_100k_docs", n_docs, time.time() - t0)

    from spark_eventhubs_spark.operators.text import winnowing_fingerprints
    t0 = time.time()
    n_fp = winnowing_fingerprints(docs, fast=True).count()
    report("winnowing_fast_100k_docs", n_fp, time.time() - t0)

    from spark_eventhubs_spark.operators.text import bm25_topk, heavy_hitters
    t0 = time.time()
    heavy_hitters(docs).count()
    report("heavy_hitters_100k_docs", n_docs, time.time() - t0)

    t0 = time.time()
    bm25_topk(docs, query_terms=["spark", "shuffle", "corpus"]).count()
    report("bm25_100k_docs", n_docs, time.time() - t0)

    # --- hot-user skew on the SCD2/funnel user-key exchange ---
    # One user holds 10% of all rows (the worst realistic hot key for
    # the window families, SURVEY §8). Two measurements:
    # (a) the SCD2 window topology itself: window partitions cannot be
    #     split, so the hot key IS one sequential per-key scan — the
    #     measured wall time is the §8 claim that this stays bounded by
    #     the hot key's row count, not the corpus;
    # (b) the downstream user-key equi-join (current-state lookup, the
    #     CDC enrich shape: every event joins its user's ONE open
    #     interval — per-user match cardinality bounded by design; an
    #     all-intervals join would be quadratic on the hot key and is
    #     exactly what NOT to ship): AQE's OptimizeSkewedJoin must
    #     split the oversized probe partition — asserted on the final
    #     adaptive plan, reported as aqe_skew_split.
    from spark_eventhubs_spark.queries import scd2_compact

    skewed = spark.range(n_events).select(
        F.when(F.col("id") % 10 == 0, F.lit("hot_user"))
        .otherwise((F.col("id") % 100_000).cast("string"))
        .alias("user_id_str"),
        F.element_at(
            F.array(*[F.lit(t) for t in
                      ("click", "view", "purchase", "signup", "error")]),
            (F.pmod(F.xxhash64(F.col("id") + 3), F.lit(5)) + 1).cast("int"),
        ).alias("event_type"),
        (F.lit(1_700_000_000_000_000) + F.col("id") * 50_000).alias("enq_us"),
        F.col("id").alias("sequenceNumber"),
    )
    t0 = time.time()
    n_iv = scd2_compact(skewed).count()
    report("scd2_hot_user_window_20M", n_events, time.time() - t0,
           hot_share=0.10, n_intervals=n_iv)

    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.autoBroadcastJoinThreshold",
    )}
    try:
        # Threshold scaled to the synthetic row volume: skew stats are
        # COMPRESSED shuffle bytes, so absolute production defaults
        # (256m) would never see a local-scale demo partition
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            str(max(262_144, n_events // 4)))
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                       str(max(131_072, n_events // 8)))
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        # force the shuffle join: a broadcast of the interval side would
        # dodge the skewed exchange this family exists to measure
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # Materialized like the stored current-state table of a real
        # CDC pipeline. (Also load-bearing for the demo: un-materialized,
        # the frame rides the window's existing hash(user_id_str)
        # partitioning, the join side has no shuffle stage, and
        # OptimizeSkewedJoin never applies.)
        current = scd2_compact(skewed).where(
            F.col("valid_to_us").isNull()  # one open interval per user
        ).select("user_id_str", "state").localCheckpoint(eager=True)
        t0 = time.time()
        j = (
            skewed.join(current, "user_id_str")
            .groupBy("state")
            .agg(F.count("*").alias("n"), F.sum("sequenceNumber").alias("s"))
        )
        n_states = len(j.collect())  # executes THIS plan: AQE finalizes it
        sec = time.time() - t0
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("simple")
        report("scd2_hot_user_enrich_join_20M", n_events, sec,
               hot_share=0.10, n_states=n_states,
               aqe_skew_split=("skew=true" in buf.getvalue()))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    # --- runtime bloom prune: 20M-row probe vs a 2%-selective build ---
    from spark_eventhubs_spark.operators import runtime_filter as RF

    probe = spark.range(n_events).select(
        (F.col("id") % 2_000_000).alias("k"), F.col("id").alias("v")
    )
    build = spark.range(40_000).select((F.col("id") * 50).alias("k"))
    t0 = time.time()
    pos = RF.bloom_positions(build, "k")
    RF.bloom_prune(probe, "k", pos).join(build, "k").count()
    report("bloom_prune_join_20M", n_events, time.time() - t0)

    spark.stop()


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Scale step-up evidence: run the shuffle-heaviest catalog entries at
1x / 2x / 5x / 10x the sf0.1 data (10x = sf1) and fit per-family
wall-time scaling exponents.

The step-up corpora are KEY-REMAPPED REPLICAS of sf0.1: copy i shifts
every join/group key by i * (max_key + 1), so referential integrity,
per-key row counts, skew shape, and selectivities are EXACTLY those of
sf0.1 — the data grows, the distributions don't. Document texts get a
per-copy token suffix (every token, pure JVM transform) so shingle /
fingerprint / chunk structure repeats per copy instead of colliding
across copies — duplicate mass scales linearly, never quadratically,
which is what a bigger crawl of the same shape looks like. Events keep
their time range (k-fold traffic density, the realistic way event
volume grows).

For each family the fit is least-squares slope of log(sec) on log(k)
over k >= 2 (k=1 carries the fixed overheads); exponent ~1 = linear
scaling, the pass bar for every family here. The largest run's final
AQE plan is scanned for broadcast joins so a plan that flips to
broadcasting an sf-linear side at 10x shows up as a broadcast-count
jump vs k=1.

Usage: python scripts/scale_stepup.py [k1,k2,...] [out_json]
Prints one JSON line per (family, k) and a final exponents line.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# measured cell value = median of N_RUNS fresh-plan runs (GC point +
# query-plan-cache clear before each): GC hiccups and block-manager
# pressure only ever inflate a sample, so the median is robust to the
# single-shot outliers that needed manual explanation in r6/r7
N_RUNS = int(os.environ.get("SEH_STEPUP_RUNS", "3"))

FAMILIES = [
    "q9_product_profit",
    "q18_large_volume_orders",
    "pipeline_clean_corpus",
    "dedup_components",
    "scd2_state_history",
    "hub_funnel_stages",
    "text_bm25_topk",
    "search_hybrid_rrf",
    "graph_copurchase_pagerank",
    "opt_bloom_prune_revenue",
]

# (table, [key columns to shift per copy])
KEYED = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY_AS_IS = ["region", "nation"]


# Deterministic replica layout (round-9 verdict item 4): the r8->r9
# sf10 pagerank cell moved 31.3 -> 63.9 s purely from replica
# file/page-cache layout, so cross-round sf10 comparisons needed A/B
# worktree re-measures to adjudicate. Fix: every keyed table is
# written with a FIXED partition count (derived only from the source
# file size and k), hash-partitioned on its unique key and sorted
# within partitions on that key — two independently built replicas
# produce the same file count with byte-identical contents (names
# still carry write UUIDs, so the fingerprint hashes sorted sizes,
# not names).
SORT_KEYS = {
    "lineitem": ["l_orderkey", "l_linenumber"],
    "orders": ["o_orderkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def _src_bytes(path: str) -> int:
    """Data bytes of a parquet table that may be a single file OR a
    directory layout (e.g. a previously built replica): getsize on a
    directory returns the inode size (~4 KB), which would silently
    collapse every table to the 32-file floor."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.startswith("part-")
    )


def _replica_partitions(src_bytes: int, k: int) -> int:
    """Fixed file count: ~32 MB source-compressed bytes per file,
    floored at 32 (one scan task per core on the local[32] box even
    for small tables), capped at 512."""
    return min(512, max(32, -(-src_bytes * k // (32 << 20))))


def layout_fingerprint(out_dir: str) -> dict:
    """Per-table sorted part-file sizes hashed into one fingerprint;
    stamped into `<out_dir>/_layout.json` by build_upsampled and
    copied into bench records so two runs on 'the same' replica are
    provably on the same layout."""
    import hashlib

    tables = {}
    for t in sorted(KEYED) + sorted(COPY_AS_IS):
        p = os.path.join(out_dir, f"{t}.parquet")
        if os.path.isfile(p):
            sizes = [os.path.getsize(p)]
        elif os.path.isdir(p):
            sizes = sorted(
                os.path.getsize(os.path.join(p, f))
                for f in os.listdir(p)
                if f.startswith("part-")
            )
        else:
            continue
        tables[t] = {
            "n_files": len(sizes),
            "bytes": sum(sizes),
            "sizes_md5": hashlib.md5(repr(sizes).encode()).hexdigest()[:12],
        }
    whole = hashlib.md5(
        repr(sorted(tables.items())).encode()
    ).hexdigest()[:16]
    return {"fingerprint": whole, "tables": tables}


def build_upsampled(spark, k: int, out_dir: str) -> str:
    """Write the k-fold key-remapped replica of SRC into out_dir."""
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    for t in COPY_AS_IS:
        shutil.copy(f"{SRC}/{t}.parquet", f"{out_dir}/{t}.parquet")
    for t, keys in KEYED.items():
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        shifts = {kc: df.agg(F.max(kc)).first()[0] + 1 for kc in keys}
        emb_dim = 0
        if t == "embeddings":
            # bound once, ahead of the copy loop (r12 ADVICE: the old
            # i==0-branch binding left a None/NameError foot-gun)
            first_row = df.select("embedding").first()
            if first_row is None or first_row[0] is None:
                raise SystemExit(
                    f"{SRC}/embeddings.parquet is empty or has a null "
                    "first embedding — cannot derive the sign-flip "
                    "dimension for the replica"
                )
            emb_dim = len(first_row[0])
        copies = []
        for i in range(k):
            c = df
            for kc in keys:
                c = c.withColumn(kc, F.col(kc) + F.lit(i * shifts[kc]))
            if t == "documents":
                # Per-copy suffix on every 4TH token: any w>=4 shingle
                # crosses a suffixed position, so shingle/fingerprint
                # structure repeats per copy and never collides across
                # copies (duplicate mass scales linearly, LSH buckets
                # stay per-copy-sized), while 75% of tokens keep their
                # identity so language-shaped heuristics (quality
                # gates, BM25 terms, stopword ratios) keep their
                # selectivity. Applied at EVERY copy incl. i=0, so all
                # k levels measure the same distribution.
                c = c.withColumn(
                    "text",
                    F.concat_ws(
                        " ",
                        F.transform(
                            F.split(F.col("text"), " "),
                            lambda x, pos: F.when(
                                pos % 4 == 3, F.concat(x, F.lit(f"_{i}"))
                            ).otherwise(x),
                        ),
                    ),
                )
            if t == "embeddings" and i > 0:
                # Per-copy deterministic ORTHOGONAL sign-flip (round-11
                # verdict item 4): copying vectors byte-identical gave
                # every vector 100 exact duplicates at k=100, so true
                # near-dup pair density grew ~k^2 and embed_neardup_pairs
                # read superlinear for the DATA's sake, not the plan's.
                # Multiplying each dimension by a per-copy +-1 pattern is
                # an isometry — every intra-copy cosine/dot is EXACTLY
                # preserved (the copy's near-dup pair structure is
                # sf0.1's, shifted), while cross-copy cosines collapse
                # toward 0 (two independent sign patterns agree on ~half
                # of 64 dims). Copy 0 keeps the identity pattern, so k=1
                # is byte-identical to the source — the documents-table
                # analogue of the per-copy token suffix.
                import hashlib as _hl

                signs = [
                    1.0
                    if _hl.md5(f"{i}:{d}".encode()).digest()[0] % 2 == 0
                    else -1.0
                    for d in range(emb_dim)
                ]
                c = c.withColumn(
                    "embedding",
                    F.zip_with(
                        F.col("embedding"),
                        F.array(*[F.lit(s) for s in signs]),
                        lambda a, b: (a * b).cast("float"),
                    ),
                )
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        n_parts = _replica_partitions(_src_bytes(f"{SRC}/{t}.parquet"), k)
        sort_cols = SORT_KEYS.get(t, keys)
        (
            out.repartition(n_parts, F.col(sort_cols[0]))
            .sortWithinPartitions(*sort_cols)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/{t}.parquet")
        )
    fp = layout_fingerprint(out_dir)
    fp["k"] = k
    with open(os.path.join(out_dir, "_layout.json"), "w") as fh:
        json.dump(fp, fh, indent=1)
    return out_dir


def main() -> None:
    ks = [int(x) for x in (sys.argv[1].split(",") if len(sys.argv) > 1
                           else ["1", "2", "5", "10"])]
    out_json = sys.argv[2] if len(sys.argv) > 2 else None

    from spark_eventhubs_spark.session import build_session

    import __spark_entry__ as entry

    spark = build_session("scale-stepup")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    from spark_eventhubs_spark.plans.hubview import clear_cached_plans

    # PageRank measured twice more, split at the artifact boundary
    # (r6 verdict item 4): ingest = materialize the (src, dst, deg)
    # edge table bucketed by src; iterate = pagerank over that table
    # (steady-state, the shape a deployment with an ingest-time edge
    # artifact runs every time).
    SPLIT = ["graph_pagerank_ingest", "graph_pagerank_iterate"]
    results: dict = {f: {} for f in FAMILIES + SPLIT}
    bcasts: dict = {f: {} for f in FAMILIES + SPLIT}
    base = tempfile.mkdtemp(prefix="seh_stepup_")
    try:
        for k in ks:
            # Level isolation: drop the previous level's memoized plans
            # and session ingest artifacts (checkpointed edge lists /
            # signature stores pin BlockManager memory until their
            # driver references die), then force the GC that lets the
            # ContextCleaner actually free the blocks — without this,
            # later levels measure earlier levels' memory pressure.
            clear_cached_plans(spark)
            spark.sparkContext._jvm.System.gc()
            d = os.path.join(base, f"x{k}")
            t0 = time.time()
            build_upsampled(spark, k, d)
            print(json.dumps({"built": k, "sec": round(time.time() - t0, 1)}),
                  flush=True)
            for fam in FAMILIES:
                # Per-family GC (r7): families run sequentially within a
                # level, so by the late families the session holds the
                # early ones' checkpointed artifacts and uncollected
                # shuffle registrations — at 30x that pressure showed up
                # as a phantom superlinear tail on search_hybrid_rrf
                # (7.67 s in the r6 sweep vs 3.12 s isolated, same data,
                # same code; NOTES_r07.md has the per-leg evidence).
                # A GC point before each family keeps the measurement
                # about the family, not its predecessors' garbage.
                # Median-of-N runs (r7 verdict item 5): single-shot
                # cells needed two manual outlier explanations last
                # round (pipeline @10x, pagerank-iterate @2x); a GC
                # hiccup can only inflate, so the median of 3 fresh
                # plans is the honest cell value.
                samples = []
                n = 0
                for _ in range(N_RUNS):
                    spark.sparkContext._jvm.System.gc()
                    clear_cached_plans(spark, "query")
                    t0 = time.time()
                    df = qs[fam](spark, d)
                    n = df.count()
                    samples.append(time.time() - t0)
                samples.sort()
                sec = samples[len(samples) // 2]
                results[fam][k] = sec
                plan = df._jdf.queryExecution().executedPlan().toString()
                bcasts[fam][k] = plan.count("BroadcastHashJoin")
                print(json.dumps({
                    "family": fam, "k": k, "rows": n, "sec": round(sec, 2),
                    "spread": [round(samples[0], 2), round(samples[-1], 2)],
                    "n_broadcast_joins": bcasts[fam][k],
                }), flush=True)
            from spark_eventhubs_spark.bucketing import (
                ensure_copurchase_edges,
            )
            from spark_eventhubs_spark.operators import graph as G

            ing_samples: list = []
            it_samples: list = []
            tbl = ""
            n_edges = n = 0
            for r in range(N_RUNS):
                # ensure_copurchase_edges is idempotent per (session,
                # sf_dir): drop the table + tree so each ingest run
                # rebuilds from scratch. The artifact lives under this
                # level's dir so the sweep's finally-rmtree reclaims it
                # (a default tempdir per level would leak the largest
                # parquet tree of the run).
                loc = os.path.join(d, "_edge_artifact")
                if tbl:
                    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
                shutil.rmtree(loc, ignore_errors=True)
                spark.sparkContext._jvm.System.gc()
                t0 = time.time()
                tbl = ensure_copurchase_edges(spark, d, location=loc)
                n_edges = spark.table(tbl).count()
                ing_samples.append(time.time() - t0)
                spark.sparkContext._jvm.System.gc()
                t0 = time.time()
                df = G.pagerank(edges=spark.table(tbl))
                n = df.count()
                it_samples.append(time.time() - t0)
            ing_samples.sort()
            it_samples.sort()
            results["graph_pagerank_ingest"][k] = ing_samples[
                len(ing_samples) // 2
            ]
            bcasts["graph_pagerank_ingest"][k] = 0
            results["graph_pagerank_iterate"][k] = it_samples[
                len(it_samples) // 2
            ]
            plan = df._jdf.queryExecution().executedPlan().toString()
            bcasts["graph_pagerank_iterate"][k] = plan.count(
                "BroadcastHashJoin"
            )
            print(json.dumps({
                "family": "graph_pagerank_split", "k": k,
                "edges": n_edges, "rows": n,
                "ingest_sec": round(results["graph_pagerank_ingest"][k], 2),
                "iterate_sec": round(results["graph_pagerank_iterate"][k], 2),
                "ingest_spread": [round(ing_samples[0], 2),
                                  round(ing_samples[-1], 2)],
                "iterate_spread": [round(it_samples[0], 2),
                                   round(it_samples[-1], 2)],
            }), flush=True)
            # drop the level's catalog entry now that its files are
            # about to go with the level dir
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    finally:
        shutil.rmtree(base, ignore_errors=True)

    summary = {}
    for fam in FAMILIES + SPLIT:
        pts = [(k, s) for k, s in sorted(results[fam].items()) if k >= 2]
        if len(pts) >= 2:
            xs = [math.log(k) for k, _ in pts]
            ys = [math.log(s) for _, s in pts]
            mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
            slope = (sum((x - mx) * (y - my) for x, y in zip(xs, ys))
                     / sum((x - mx) ** 2 for x in xs))
        else:
            slope = None
        summary[fam] = {
            "exponent": round(slope, 2) if slope is not None else None,
            "sec_by_k": {str(k): round(s, 2)
                         for k, s in sorted(results[fam].items())},
            "broadcast_joins_by_k": {str(k): b
                                     for k, b in sorted(bcasts[fam].items())},
        }
    line = json.dumps({"stepup": summary, "src": SRC, "ks": ks})
    print(line, flush=True)
    if out_json:
        with open(out_json, "w") as fh:
            fh.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()

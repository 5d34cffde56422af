#!/usr/bin/env python3
"""Build a persistent k-fold key-remapped replica of a testdata dir, so
the catalog can run at sf1 (k=10 over sf0.1) through
``SPARK_GRAFT_SF_DIR`` or ``probe.py --sf``.

Usage: python scripts/build_replica.py <k> <out_dir>

The source is $SPARK_GRAFT_SF_DIR (default: the sf0.1 testdata dir).

A replica copies each keyed table k times; copy i shifts every join and
group key by i * (max_key + 1), so referential integrity, per-key row
counts, skew shape and selectivities are exactly the source's: the data
grows, the distributions do not. Document texts get a per-copy token
suffix and embeddings a per-copy sign flip, so duplicate structure
repeats per copy instead of colliding across copies. Events keep their
time range (k-fold traffic density). ``_layout.json`` stamps a layout
fingerprint that bench.py copies into its record.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

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


# Deterministic replica layout: an sf10 pagerank cell once moved
# 31.3 -> 63.9 s purely from replica file/page-cache layout. So every
# keyed table is written with a FIXED partition count (derived only
# from the source file size and k), hash-partitioned on its unique key
# and sorted within partitions on that key — two independently built
# replicas produce the same file count with byte-identical contents
# (names still carry write UUIDs, so the fingerprint hashes sorted
# sizes, not names).
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
    floored at 32 (one scan task per core on a 32-core host even for
    small tables), capped at 512."""
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


def build_upsampled(spark, k: int, out_dir: str, src: str) -> str:
    """Write the k-fold key-remapped replica of ``src`` into ``out_dir``."""
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    for t in COPY_AS_IS:
        shutil.copy(f"{src}/{t}.parquet", f"{out_dir}/{t}.parquet")
    for t, keys in KEYED.items():
        df = spark.read.parquet(f"{src}/{t}.parquet")
        shifts = {kc: df.agg(F.max(kc)).first()[0] + 1 for kc in keys}
        emb_dim = 0
        if t == "embeddings":
            # bound once, ahead of the copy loop
            first_row = df.select("embedding").first()
            if first_row is None or first_row[0] is None:
                raise SystemExit(
                    f"{src}/embeddings.parquet is empty or has a null "
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
                # Per-copy deterministic ORTHOGONAL sign-flip: copying
                # vectors byte-identical gave every vector 100 exact
                # duplicates at k=100, so true
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
        n_parts = _replica_partitions(_src_bytes(f"{src}/{t}.parquet"), k)
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


def main() -> int:
    k = int(sys.argv[1])
    out = sys.argv[2]
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from spark_eventhubs_spark.session import build_session

    spark = build_session("build-replica")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    build_upsampled(spark, k, out, src)
    n = spark.read.parquet(os.path.join(out, "events.parquet")).count()
    print(f"built {out}: k={k}, events={n}, {time.time() - t0:.1f}s")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

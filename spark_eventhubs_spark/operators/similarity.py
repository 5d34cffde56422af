"""Similarity search over the ``embeddings`` table (array<float>).

North-star operators (SURVEY §2.3):
- brute-force cosine top-k (the correctness baseline)
- LSH-bucketed ANN (random-hyperplane signs) — the scale path: buckets
  shrink the candidate set so the per-query work is |bucket|, not |N|.

Numerics are done in double and results are reported as integer
``score_e6 = floor(cosine * 1e6)`` so Spark and DuckDB hash
identically. Vector math takes two routes, picked by dots-per-row:

- one or two dots per row (brute-force scoring, LSH bucketing,
  pairwise verification): ``zip_with``/``aggregate`` higher-order
  folds — JVM-side, interpreted per element but cheap at this width,
  and bit-identical to the oracles' ``list_sum(list_transform(...))``.
- C dots per row (IVF assignment/scoring, k-means): an Arrow-batched
  ``mapInPandas`` numpy kernel (:func:`_seq_dot_np`) that keeps the
  same sequential fold order via ``np.cumsum`` — ``np.sum``'s pairwise
  summation would break bit-parity. Round-1 measured the HOF form at
  ~5.4s for IVF at sf0.1; the kernel is ~3x faster and scale-safe
  (zero shuffle, codebook in the task closure).

Each vector-search primitive exists once, shared by the IVF, recall,
PQ and k-means operators (``operators/clustering.py``):

- :func:`_codebook_and_query`: the one driver collect of the seed
  codebook and the query vector;
- :func:`_nearest_cells`: the one centroid-assignment kernel over a
  :func:`_codebook` (argmax cosine, ties to the smallest cid);
- :func:`_probe_cells`: the one driver-side probe-cell ranking;
- :func:`_plane_matrix` / :func:`_plane_buckets`: the LSH plane
  weights and sign-bit bucket fold;
- ``clustering.kmeans_centroids``: the one (integer-sum) k-means
  trainer, and ``plans.hubview.cached_model`` the one model memo.

Zero norms: a zero-norm corpus row, query or codebook centroid has no
cosine (0/0 is NaN, and a NaN would win ``np.argmax``), so every one
of these refuses it with a ValueError naming the id
(:func:`_zero_norm`), as the JVM legs fail under ANSI division.

Scale design: top-k against a query set is a broadcast join (query
vectors are small) + per-partition partial top-k via groupBy agg of
max_by arrays; no global sort of N rows. The LSH variant buckets on
sign-bit prefixes: an equi-join on bucket id, never a cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_eventhubs_spark.functions.hashing import md5_hash64


DIM = 64  # embeddings.parquet vector width (TESTDATA.md)


def _dot(a: Column, b: Column, dim: int = DIM) -> Column:
    """<a, b> as a zip_with/aggregate higher-order fold (sequential
    left-to-right double adds — the order every twin of this function
    must reproduce). ``dim`` is accepted for signature parity with the
    numpy kernels but the fold is data-length-driven.

    Tried and rejected: unrolling into dim explicit multiply-adds to
    stay inside WholeStageCodegen. The generated method overflows
    Janino's 64KB limit at C*dim terms (IVF), and even at 1-2x dim the
    compile time of the giant method dominates these sub-second
    queries — measured 0.36s -> 1.5s on brute-force top-k at sf0.1.
    The HOF interpreter overhead only matters when a query evaluates
    MANY dots per row (the IVF family), and those use the
    :func:`_seq_dot_np` mapInPandas kernels instead."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column, dim: int = DIM) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _norm_py(vals: list) -> float:
    """Driver-side twin of :func:`_norm` — same sequential fold, and
    Python floats are IEEE doubles, so bit-identical."""
    import math

    acc = 0.0
    for x in vals:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def cosine_col(a: Column, b: Column, dim: int = DIM) -> Column:
    return _dot(a, b, dim) / (_norm(a, dim) * _norm(b, dim))


def oracle_cosine(a: str, b: str, dim: int = 64) -> str:
    """DuckDB SQL for cosine similarity that bit-matches the Spark-side
    :func:`cosine_col`: ``list_cosine_similarity`` accumulates in
    float32, while Spark's aggregate fold is sequential float64 — so
    the oracle spells out the same left-to-right double arithmetic."""
    def dot(x, y):
        return (f"list_sum(list_transform(range(1, {dim + 1}), "
                f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)))")
    return f"({dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})))"


def brute_force_topk(
    df: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors of one stored vector (excluding itself).

    The query row is a 1-row broadcast; scoring is a scan; the limit is
    partition-incremental (Spark TakeOrderedAndProject), so no full
    sort materializes.
    """
    q = df.where(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("qvec")
    )
    scored = (
        df.where(F.col(id_col) != query_vec_id)
        .join(F.broadcast(q))
        .select(
            F.col(id_col),
            F.floor(cosine_col(F.col(vec_col), F.col("qvec")) * 1e6)
            .cast("long")
            .alias("score_e6"),
        )
    )
    return scored.orderBy(F.col("score_e6").desc(), F.col(id_col).asc()).limit(k)


def oracle_brute_force_topk(query_vec_id: int = 0, k: int = 10) -> str:
    cos = oracle_cosine("embedding", "qvec")
    return f"""WITH q AS (
  SELECT embedding AS qvec FROM embeddings WHERE vec_id = {query_vec_id}
)
SELECT vec_id,
  CAST(FLOOR({cos} * 1000000) AS BIGINT) AS score_e6
FROM embeddings, q
WHERE vec_id <> {query_vec_id}
ORDER BY score_e6 DESC, vec_id ASC
LIMIT {k}"""


def hyperplane_bucket(
    vec: Column, dim: int, n_planes: int = 8
) -> Column:
    """Deterministic random-hyperplane LSH bucket id in [0, 2^n_planes).

    Plane weights are pseudo-random in [-1000, 1000], derived from the
    shared md5 hash of (plane, dim-index) — reproducible in SQL, no
    stored model. Bit p of the bucket = sign of <vec, w_p>.

    The weights are computed on the DRIVER (hashlib md5 == engine md5)
    and shipped as array literals: the earlier column-expression form
    re-ran md5 per row (rows x planes x dim md5 calls) because Catalyst
    does not constant-fold through the higher-order-function boundary.
    """
    bucket = F.lit(0)
    for p in range(n_planes):
        weights = F.array(
            *[F.lit(float(_plane_weight(p, i))) for i in range(dim)]
        )
        proj = F.aggregate(
            F.zip_with(vec, weights, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket.cast("long")


def _plane_weight(p: int, i: int) -> int:
    """Weight of hyperplane p at dimension i: ((md5_60("p:i") % 2001)
    - 1000), identical to the SQL oracle's derivation."""
    from spark_eventhubs_spark.functions.hashing import md5_hash64_py

    return (md5_hash64_py(f"{p}:{i}") % 2001) - 1000


def _plane_matrix(dim: int, n_planes: int):
    """The LSH plane weights as an (n_planes, dim) float64 matrix:
    row p is hyperplane p's :func:`_plane_weight` vector."""
    import numpy as np

    return np.array(
        [[float(_plane_weight(p, i)) for i in range(dim)] for p in range(n_planes)],
        dtype=np.float64,
    )


def _plane_buckets(X, W):
    """Sign-bit bucket of every row of ``X``: bit p is set when the
    :func:`_seq_dot_np` projection on plane ``W[p]`` is positive —
    bit-identical to :func:`hyperplane_bucket` and the SQL oracle."""
    import numpy as np

    bucket = np.zeros(len(X), dtype=np.int64)
    for p in range(W.shape[0]):
        bucket += (_seq_dot_np(X, W[p]) > 0).astype(np.int64) << p
    return bucket


def _bucket_frame(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    with_norm: bool = False,
) -> DataFrame:
    """(id, vec, bucket[, nrm]) via one Arrow-batched kernel: all
    n_planes hyperplane projections as whole-array sequential folds
    (:func:`_plane_buckets`), replacing n_planes interpreted HOF
    evaluations per row. Bit-identical signs to the
    :func:`hyperplane_bucket` expression form and the SQL oracle."""
    import numpy as np

    W = _plane_matrix(dim, n_planes)
    schema = f"{id_col} long, {vec_col} array<float>, bucket long" + (
        ", nrm double" if with_norm else ""
    )

    def _fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            out = pdf[[id_col, vec_col]].copy()
            out["bucket"] = _plane_buckets(X, W)
            if with_norm:
                out["nrm"] = np.sqrt(np.cumsum(X * X, axis=1)[:, -1])
            yield out

    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(_fn, schema)


def lsh_ann_topk(
    df: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: score only vectors in the query's hyperplane bucket.

    At 100 TB the bucket column is precomputed/partitioned-by at ingest
    so a query touches 1/2^n_planes of the data; here it is derived on
    the fly (Arrow bucket kernel — see :func:`_bucket_frame`); scoring
    the small in-bucket candidate set stays a JVM expression.
    Approximate by construction — recall measured in tests, not
    oracle-checked (the catalog entry derives an exact oracle from the
    deterministic plane weights).

    The query's vector is fetched with a pushed-down id filter and its
    bucket computed DRIVER-side with the same :func:`_plane_buckets`
    fold — the previous form filtered the bucketed frame, which ran
    the corpus-wide bucket kernel a second time just to produce the
    one query row.
    """
    import numpy as np

    _, qvec = _codebook_and_query(df, 0, query_vec_id, id_col, vec_col)
    qbucket = int(_plane_buckets(
        np.asarray([qvec], dtype=np.float64), _plane_matrix(dim, n_planes)
    )[0])
    qdf = df.sparkSession.createDataFrame([(qvec,)], "qvec array<float>")
    with_bucket = _bucket_frame(df, id_col, vec_col, dim, n_planes)
    return (
        with_bucket.where(F.col("bucket") == qbucket)
        .where(F.col(id_col) != query_vec_id)
        .join(F.broadcast(qdf))
        .select(
            F.col(id_col),
            F.floor(cosine_col(F.col(vec_col), F.col("qvec"), dim) * 1e6).cast("long").alias("score_e6"),
        )
        .orderBy(F.col("score_e6").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _oracle_bucket_expr(vec: str, n_planes: int = 8, dim: int = 64) -> str:
    """Hyperplane-signature bucket of ``vec`` as ONE deterministic
    scalar expression: each plane's projection is an ORDERED
    left-to-right float64 fold (the :func:`oracle_cosine` pattern —
    bit-parity with :func:`_seq_dot_np`), with the plane weights
    inlined as literals from :func:`_plane_weight` — the same values
    the oracle previously re-derived via MD5, but through a grouped
    float SUM whose accumulation order DuckDB does not define (a
    projection within rounding error of zero could flip sign, and
    therefore bucket, nondeterministically)."""
    planes = []
    for p in range(n_planes):
        w = "[" + ", ".join(str(_plane_weight(p, i)) for i in range(dim)) + "]"
        proj = (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> CAST({vec}[i] AS DOUBLE) * CAST(({w})[i] AS DOUBLE)))"
        )
        planes.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(planes) + ")"


def oracle_pairwise_above_threshold(
    threshold_e6: int = 950_000, n_planes: int | None = 8, dim: int = 64
) -> str:
    """DuckDB twin of :func:`pairwise_above_threshold`: the hyperplane
    bucket is computed by :func:`_oracle_bucket_expr` — literal
    :func:`_plane_weight` weights, ordered per-plane folds — so the
    bucket assignment, and therefore the exact candidate set, matches
    the Spark plan deterministically.

    ``n_planes=None`` mirrors the engine's :func:`auto_n_planes`
    IN LOCKSTEP at every corpus size: the SQL derives the width from
    the same ``COUNT(*)`` the engine counts, computes the full
    ``ORACLE_MAX_PLANES``-plane bucket once, and masks it to the low
    ``planes`` bits with ``%`` — valid because plane p always
    contributes exactly bit p (:func:`_plane_weight` depends only on
    (p, i)), so the K-plane bucket IS the low-K-bit prefix of the
    wide one. Without this, engine-auto vs oracle-pinned-8 diverge on
    any corpus past target * 2^8 = 2048 vectors."""
    if n_planes is None:
        bkt = f"""WITH np AS (
  SELECT GREATEST(8, CAST(CEIL(LOG2(GREATEST(
    (COUNT(*) + {PAIRWISE_TARGET_BUCKET - 1}) // {PAIRWISE_TARGET_BUCKET}, 1
  ))) AS BIGINT)) AS planes
  FROM embeddings
), bkt AS (
  SELECT vec_id,
    CAST({_oracle_bucket_expr("embedding", ORACLE_MAX_PLANES, dim)} AS BIGINT)
      % (CAST(1 AS BIGINT) << np.planes) AS bucket
  FROM embeddings, np
)"""
    else:
        bkt = f"""WITH bkt AS (
  SELECT vec_id, CAST({_oracle_bucket_expr("embedding", n_planes, dim)} AS BIGINT) AS bucket
  FROM embeddings
)"""
    return f"""{bkt}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  CAST(FLOOR({oracle_cosine("ea.embedding", "eb.embedding", dim)} * 1000000) AS BIGINT) AS score_e6
FROM bkt a
JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
JOIN embeddings ea ON ea.vec_id = a.vec_id
JOIN embeddings eb ON eb.vec_id = b.vec_id
WHERE FLOOR({oracle_cosine("ea.embedding", "eb.embedding", dim)} * 1000000) >= {threshold_e6}"""


def _seq_dot_np(X, w):
    """Row-wise <X[i], w> with the SAME left-to-right fold order as the
    engine/oracle sums: ``np.cumsum`` is ``np.add.accumulate`` —
    strictly sequential — whereas ``np.sum``/``@`` use pairwise
    summation and would drift in the last ulp. Bit-identical doubles
    are what keep the IVF candidate set (argmax assignment) and the
    floor(cos*1e6) scores hash-equal to the DuckDB oracle."""
    import numpy as np

    return np.cumsum(X * w[None, :], axis=1)[:, -1]


def _zero_norm(id_col: str, vec_id) -> ValueError:
    """A zero-norm vector has no cosine: 0/0 is NaN, which the floor to
    a long would rank as the score INT64_MIN, and which ``np.argmax``
    would pick as a row's nearest cell. Every consumer refuses it —
    corpus row, query or codebook centroid — as the JVM legs do (ANSI
    division by zero)."""
    return ValueError(f"zero-norm embedding at {id_col}={vec_id}: cosine undefined")


def _checked_norm(vals: list, id_col: str, vec_id) -> float:
    """:func:`_norm_py` of one driver-side vector, refusing zero."""
    n = _norm_py(vals)
    if n == 0:
        raise _zero_norm(id_col, vec_id)
    return n


def _codebook(cents: list, id_col: str = "cid"):
    """``(cids, C, cnorms)`` of a ``[(cid, vec)]`` codebook, sorted by
    cid so that ``np.argmax``'s first-max rule sends ties to the
    smallest cid. A zero-norm centroid is refused by ``id_col`` (its
    cid, or its vec_id when the codebook is seeded from corpus
    rows)."""
    import numpy as np

    cents = sorted(cents, key=lambda t: t[0])
    cids = np.array([cid for cid, _ in cents], dtype=np.int64)
    C = np.array([v for _, v in cents], dtype=np.float64)
    cnorms = np.array([_checked_norm(v, id_col, cid) for cid, v in cents])
    return cids, C, cnorms


def _row_norms(X, ids, id_col: str):
    """Row norms of a batch matrix (the sequential fold), refusing a
    zero-norm row by its id."""
    import numpy as np

    rn = np.sqrt(np.cumsum(X * X, axis=1)[:, -1])
    if not rn.all():
        raise _zero_norm(id_col, ids[rn == 0][0])
    return rn


def _nearest_cells(X, ids, book, id_col: str):
    """The one centroid-assignment kernel, shared by the IVF scan, the
    recall scan, the IVF index writer and the k-means passes. Returns
    the rows x cells cosine matrix of batch ``X`` against a
    :func:`_codebook`, each row's nearest cell as a column index into
    the codebook (ties to the smallest cid) and the row norms. One
    :func:`_seq_dot_np` fold per centroid, not ``X @ C.T``: pairwise
    summation would break bit parity with the SQL oracle."""
    import numpy as np

    rn = _row_norms(X, ids, id_col)
    _, C, cnorms = book
    S = np.empty((X.shape[0], len(C)), dtype=np.float64)
    for j, c in enumerate(C):
        S[:, j] = _seq_dot_np(X, c) / (rn * cnorms[j])
    return S, np.argmax(S, axis=1), rn


def _probe_cells(
    cents: list, qvec: list, n_probe: int, query_vec_id, id_col: str,
    cent_col: str = "cid",
) -> list:
    """The ``n_probe`` cids nearest the query, ranked driver-side by
    (-cosine, cid) with the same sequential fold as the kernels and
    the oracle's ``ORDER BY`` (numpy float64 and Python floats are
    both IEEE doubles). Refuses a zero-norm query by ``id_col`` and a
    zero-norm centroid by ``cent_col``."""
    import numpy as np

    cids, C, cnorms = _codebook(cents, cent_col)
    qn = _checked_norm(qvec, id_col, query_vec_id)
    cos = _seq_dot_np(C, np.asarray(qvec, dtype=np.float64)) / (cnorms * qn)
    return [int(cid) for cid in cids[np.lexsort((cids, -cos))[:n_probe]]]


def _codebook_and_query(
    df: DataFrame, n_cells: int, query_vec_id: int, id_col: str, vec_col: str
) -> tuple:
    """ONE driver collect of the seed codebook — the first ``n_cells``
    vectors by id, as cid-sorted ``[(cid, vec)]`` — and the query
    vector; both are pushed-down filters on the id column, and
    ``n_cells=0`` fetches the query alone. A missing query is refused
    here: otherwise it surfaces later as an opaque numpy shape error
    inside the executor kernel."""
    rows = df.where(
        (F.col(id_col) < n_cells) | (F.col(id_col) == query_vec_id)
    ).select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")).collect()
    cents = sorted(
        ((r["cid"], [float(x) for x in r["cvec"]]) for r in rows if r["cid"] < n_cells),
        key=lambda t: t[0],
    )
    qvec = next(
        ([float(x) for x in r["cvec"]] for r in rows if r["cid"] == query_vec_id),
        None,
    )
    if qvec is None:
        raise ValueError(f"query vector {id_col}={query_vec_id} not found")
    return cents, qvec


def _ivf_scan_fn(cents, probe_cids, qvec, query_vec_id, id_col, vec_col):
    """mapInPandas kernel: assign each vector to its nearest centroid
    (:func:`_nearest_cells`), drop rows outside the probe cells, and
    score survivors against the query vector. All arithmetic via
    :func:`_seq_dot_np` so results bit-match the SQL oracle."""
    import numpy as np

    book = _codebook(cents)
    qv = np.asarray(qvec, dtype=np.float64)
    qn = _checked_norm(qvec, id_col, query_vec_id)
    probe = np.array(sorted(probe_cids), dtype=np.int64)

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            _, a, rn = _nearest_cells(X, ids, book, id_col)
            keep = np.isin(book[0][a], probe) & (ids != query_vec_id)
            if not keep.any():
                continue
            sq = _seq_dot_np(X[keep], qv) / (rn[keep] * qn)
            yield pd.DataFrame({
                id_col: ids[keep],
                "score_e6": np.floor(sq * 1e6).astype(np.int64),
            })

    return fn


def _recall_scan_fn(
    cents, probe_cids, qvec, qbucket, W, query_vec_id, k, id_col, vec_col
):
    """mapInPandas kernel for :func:`recall_topk_per_method`: ONE pass
    over the corpus scoring every row against the query (brute leg)
    and deciding LSH-bucket / IVF-probe-cell membership, then emitting
    only each task's LOCAL top-k per method — the per-partition
    partial top-k shape, so the downstream global rank sees <=
    3k rows per task regardless of corpus size. All arithmetic via
    :func:`_seq_dot_np` (bit-parity with the SQL oracle, proven by the
    IVF/LSH legs it fuses)."""
    import numpy as np

    book = _codebook(cents)
    qv = np.asarray(qvec, dtype=np.float64)
    qn = _checked_norm(qvec, id_col, query_vec_id)
    probe = np.array(sorted(probe_cids), dtype=np.int64)
    none = np.empty(0, dtype=np.int64)

    def fn(batches):
        import pandas as pd

        # running (ids, scores) top-k per method: each batch's
        # candidates are merged into it and truncated, so a task holds
        # O(k + batch) rows whatever its partition size
        top = {m: (none, none) for m in ("brute", "lsh", "ivf")}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # IVF cell (same kernel as _ivf_scan_fn)
            _, a, rn = _nearest_cells(X, ids, book, id_col)
            nq = ids != query_vec_id
            # brute score for every row (same float sequence as
            # _ivf_scan_fn: cosine double, * 1e6, floor)
            sq = _seq_dot_np(X, qv) / (rn * qn)
            score = np.floor(sq * 1e6).astype(np.int64)
            for m, mask in (
                ("brute", nq),
                ("lsh", nq & (_plane_buckets(X, W) == qbucket)),
                ("ivf", nq & np.isin(book[0][a], probe)),
            ):
                if mask.any():
                    aid = np.concatenate([top[m][0], ids[mask]])
                    asc = np.concatenate([top[m][1], score[mask]])
                    order = np.lexsort((aid, -asc))[:k]  # (score desc, id asc)
                    top[m] = (aid[order], asc[order])
        top = {m: t for m, t in top.items() if len(t[0])}
        if top:
            yield pd.DataFrame({
                "method": [m for m, (aid, _) in top.items() for _ in aid],
                id_col: np.concatenate([aid for aid, _ in top.values()]),
                "score_e6": np.concatenate([asc for _, asc in top.values()]),
            })

    return fn


def recall_topk_per_method(
    df: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_planes: int = 8,
    dim: int = DIM,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The three recall-evaluation top-k legs — brute-force ground
    truth, LSH-bucketed ANN, IVF-probed ANN — from ONE corpus pass:
    (method, id, score_e6) with exactly each method's global top-k,
    bit-identical to running :func:`brute_force_topk`,
    :func:`lsh_ann_topk` and :func:`ivf_ann_topk` separately (same
    candidate sets, same sequential-fold scores, same
    (score desc, id asc) tie order).

    Why it exists (r13 verdict item 2): the recall@k entry built the
    legs independently — three full corpus scans (two of them
    Arrow-kernel passes), two plan-time driver jobs, and the per-leg
    ``orderBy().limit()``s compiled under the final union/join into
    single-partition GlobalLimit exchanges instead of
    TakeOrderedAndProject, serializing a deep DAG of tiny stages (the
    driver record read 2x SLOWER than the pre-r13 two-join form and
    anti-scaled 0.49 at 8-vs-32 cores). Here: ONE driver collect
    (codebook + query vector), ONE Arrow pass emitting per-task local
    top-ks, ONE tiny 3-key exchange for the global rank.

    Scale: the kernel's per-task output is <= 3k rows regardless of
    corpus size; the rank shuffles <= 3k * n_tasks rows. At 100 TB the
    bucket/cell ids are ingest-materialized partition columns and each
    ANN leg prunes its scan instead (the entry measures the eval
    harness, which must score the full corpus for ground truth
    anyway)."""
    import numpy as np

    cents, qvec = _codebook_and_query(df, n_cells, query_vec_id, id_col, vec_col)
    probe_cids = _probe_cells(cents, qvec, n_probe, query_vec_id, id_col, id_col)
    W = _plane_matrix(dim, n_planes)
    qbucket = int(_plane_buckets(np.asarray([qvec], dtype=np.float64), W)[0])

    local = df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        _recall_scan_fn(
            cents, probe_cids, qvec, qbucket, W, query_vec_id, k,
            id_col, vec_col,
        ),
        schema=f"method string, {id_col} long, score_e6 long",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("method").orderBy(
        F.col("score_e6").desc(), F.col(id_col).asc()
    )
    return (
        local.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


def _ivf_topk(df, cents, qvec, query_vec_id, k, n_probe, id_col, vec_col, cent_col):
    """Probe-rank ``cents`` against the query, then ONE
    :func:`_ivf_scan_fn` pass and a TakeOrdered top-k."""
    probe_cids = _probe_cells(cents, qvec, n_probe, query_vec_id, id_col, cent_col)
    scored = df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        _ivf_scan_fn(cents, probe_cids, qvec, query_vec_id, id_col, vec_col),
        schema=f"{id_col} long, score_e6 long",
    )
    return scored.orderBy(F.col("score_e6").desc(), F.col(id_col).asc()).limit(k)


def ivf_ann_topk(
    df: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: coarse-quantize every vector to its nearest of
    ``n_cells`` centroids, then search only the query's ``n_probe``
    closest cells.

    Centroid seeding is training-free and deterministic (the first
    ``n_cells`` vectors by id) so the whole pipeline — assignment,
    probing, scoring — is oracle-checkable; :func:`ivf_ann_topk_refined`
    swaps in a trained codebook (the assignment plan is unchanged).

    Scale: the centroid codebook + query vector are collected in ONE
    driver job (C+1 rows, tiny — the IVF codebook always fits);
    probe-cell ranking happens driver-side with the SAME sequential
    double arithmetic as the engines (:func:`_probe_cells`).
    Cell assignment + probe filter + scoring run in ONE Arrow-batched
    ``mapInPandas`` pass — zero shuffle, no N*C row expansion, the
    codebook rides in the task closure (C*dim doubles). A C-wide
    unrolled JVM expression was tried and abandoned: 16x64 terms
    overflows Janino's 64KB method limit and de-optimizes the whole
    stage to interpreted (round-1: 5.35 s at sf0.1). At 100 TB the
    cell id is materialized at ingest and used as a partition column
    so a query reads n_probe/n_cells of the data.
    """
    cents, qvec = _codebook_and_query(df, n_cells, query_vec_id, id_col, vec_col)
    return _ivf_topk(
        df, cents, qvec, query_vec_id, k, n_probe, id_col, vec_col, id_col
    )


def oracle_ivf_ann_topk(
    query_vec_id: int = 0, k: int = 10, n_cells: int = 16, n_probe: int = 4
) -> str:
    return f"""WITH cent AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < {n_cells}
), assigned AS (
  SELECT e.vec_id, e.embedding, c.cid,
    ROW_NUMBER() OVER (PARTITION BY e.vec_id
      ORDER BY {oracle_cosine("e.embedding", "c.cvec")} DESC, c.cid ASC) AS rn
  FROM embeddings e, cent c
), cells AS (
  SELECT vec_id, embedding, cid FROM assigned WHERE rn = 1
), qcells AS (
  SELECT c.cid
  FROM cent c, (SELECT embedding FROM embeddings WHERE vec_id = {query_vec_id}) q
  ORDER BY {oracle_cosine("c.cvec", "q.embedding")} DESC, c.cid ASC
  LIMIT {n_probe}
), q AS (
  SELECT embedding AS qvec FROM embeddings WHERE vec_id = {query_vec_id}
)
SELECT x.vec_id,
  CAST(FLOOR({oracle_cosine("x.embedding", "qvec")} * 1000000) AS BIGINT) AS score_e6
FROM cells x JOIN qcells p ON x.cid = p.cid, q
WHERE x.vec_id <> {query_vec_id}
ORDER BY score_e6 DESC, x.vec_id ASC
LIMIT {k}"""


# target rows per LSH bucket for pairwise_above_threshold's auto
# plane count: the within-bucket screen is O(load^2) per bucket, so a
# FIXED signature width breaks linearity as the corpus grows (fixed 8
# planes = 256 buckets: measured 136x wall at 100x data, round 8 —
# same failure class as semdedup's fixed k). 8 keeps n_planes exactly
# 8 at every oracle-verified sf (500 vecs at sf0.01, 2000 at sf0.1).
PAIRWISE_TARGET_BUCKET = 8


# widest signature the DYNAMIC oracle precomputes (masked down to the
# auto width): 20 planes covers corpora to target * 2^20 ~ 8.4M
# vectors — far past any sf the DuckDB twin could materialize anyway
ORACLE_MAX_PLANES = 20


def auto_n_planes(n: int, target: int = PAIRWISE_TARGET_BUCKET) -> int:
    """Smallest signature width holding expected bucket load <= target
    (floor 8, the oracle-pinned width at the driver's check scales):
    2^planes buckets ~ n/target.

    Pure-integer form (``ceil(log2(ceil(n/target)))`` via bit_length —
    identical values to the float original for every n >= 1) so the
    engine side is float-free; the SQL twin's
    ``CEIL(LOG2((COUNT(*) + t-1) // t))`` computes log2 of the SAME
    integer, where ceil can only disagree within half an ulp of an
    integer boundary — impossible below n ~ 2^45 (verified by sweep in
    tests)."""
    m = (max(n, 1) + target - 1) // target
    return max(8, (m - 1).bit_length())


def pairwise_above_threshold(
    df: DataFrame,
    threshold_e6: int = 950_000,
    n_planes: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs: bucket by hyperplane signature, score
    within buckets only (equi-join), keep cosine >= threshold.

    ``n_planes=None`` derives the signature width from one
    metadata-cheap count via :func:`auto_n_planes`, holding the
    expected bucket load — and therefore the O(load) candidate pairs
    PER ROW — constant as the corpus grows; pass an explicit width to
    pin it (the SQL oracle pins 8, which auto matches at every
    oracle-verified sf). This is the 100 TB contract: bucket count is
    what scales, bucket size is a constant.

    Each side's norm is computed ONCE per row before the join (narrow)
    instead of once per candidate pair — identical doubles, since
    cosine = dot/(sqrt(na)*sqrt(nb)) either way, but 2/3 less vector
    arithmetic in the post-join hot loop.

    The bucket+norm stage runs as an Arrow-batched ``mapInPandas``
    numpy kernel with the sequential-fold arithmetic of
    :func:`_seq_dot_np` — and is checkpoint-memoized, so a catalog/
    production session pays it once per corpus. The per-pair scoring
    HOT path is pure JVM since round 13: ``zip_with`` + ``aggregate``
    folds the element products left-to-right in double, which is the
    exact same operation order as the numpy ``cumsum`` kernel it
    replaced (cast-to-double, multiply, strictly sequential add), so
    scores stay bit-equal to the SQL oracle while the candidate
    stream never crosses an Arrow boundary — the r12 bench cell's
    multi-second jitter was Python-worker spawn + 100s-of-MB Arrow
    transfer on exactly this stage, and at 100 TB the candidate
    stream is the operator's dominant data volume."""
    if n_planes is None:
        from spark_eventhubs_spark.operators.dedup import _count_cached

        n_planes = auto_n_planes(_count_cached(df))
    from spark_eventhubs_spark.operators.dedup import _checkpoint_cached

    # materialize the bucket+norm frame once: it feeds BOTH sides of
    # the self-join, and when AQE broadcasts one side the broadcast
    # subplan shares no exchange with the probe side — without this
    # the corpus-wide projection kernel runs twice (the exact hazard
    # dedup.lsh_candidate_pairs documents and fixes the same way)
    with_bucket = _checkpoint_cached(
        _bucket_frame(df, id_col, vec_col, dim, n_planes, with_norm=True),
        df, "pairwise_buckets", (n_planes, dim, id_col, vec_col),
    )
    a = with_bucket.alias("a")
    b = with_bucket.alias("b")
    cand = (
        a.join(b, "bucket")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            F.col(f"a.{vec_col}").alias("va"),
            F.col(f"b.{vec_col}").alias("vb"),
            F.col("a.nrm").alias("na"),
            F.col("b.nrm").alias("nb"),
        )
    )

    dot = F.aggregate(
        F.zip_with(
            F.col("va"), F.col("vb"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    score = F.floor(dot / (F.col("na") * F.col("nb")) * F.lit(1e6))
    return (
        cand.select("vec_a", "vec_b", score.cast("long").alias("score_e6"))
        .where(F.col("score_e6") >= F.lit(threshold_e6))
    )


def knn_join(
    df: DataFrame,
    query_max_id: int = 8,
    k: int = 5,
    method: str = "window",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """k-NN join: top-k neighbors for every query vector (ids below
    ``query_max_id``), excluding the query set from the corpus side.

    Two physically different, result-identical strategies:

    - ``window``: rank with row_number over qid — one shuffle of all
      scored rows onto |queries| reducers. Simple, but with few hot
      qids every scored row funnels through few tasks.
    - ``partial``: per-input-partition top-k first (sort_array over a
      collect_list bounded by the partition's rows), then a final
      merge of |partitions| x k candidates per query. The shuffle
      carries only the k-sized partials — the scale path when the
      corpus side is large (same idea as Spark's TakeOrderedAndProject,
      generalized per group).

    Scoring runs in one Arrow-batched ``mapInPandas`` pass: the query
    set (tiny by definition) is collected and closed over, and each
    corpus batch scores against all queries with the exact-arithmetic
    :func:`_seq_dot_np` fold — replacing |queries| interpreted
    higher-order cosine evaluations per row while keeping
    floor(cos*1e6) bit-equal to the SQL oracle. A zero-norm query or
    corpus row is refused by id (:func:`_zero_norm`).
    """
    import numpy as np

    qs = [
        (int(r[0]), np.asarray(r[1], dtype=np.float64))
        for r in df.where(F.col(id_col) < query_max_id)
        .select(id_col, vec_col)
        .collect()
    ]
    qnorms = {qid: _checked_norm(list(qv), id_col, qid) for qid, qv in qs}

    def _score_fn(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            xnorm = _row_norms(X, ids, id_col)
            frames = []
            for qid, qv in qs:
                s = _seq_dot_np(X, qv) / (xnorm * qnorms[qid])
                frames.append(
                    pd.DataFrame(
                        {
                            "qid": np.full(len(ids), qid, dtype=np.int64),
                            id_col: ids,
                            "score_e6": np.floor(s * 1e6).astype(np.int64),
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    scored = (
        df.where(F.col(id_col) >= query_max_id)
        .select(id_col, vec_col)
        .mapInPandas(_score_fn, f"qid long, {id_col} long, score_e6 long")
    )
    if method == "window":
        from pyspark.sql import Window

        w = Window.partitionBy("qid").orderBy(
            F.col("score_e6").desc(), F.col(id_col).asc()
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("qid", id_col, "score_e6")
        )
    if method != "partial":
        raise ValueError(f"unknown method {method!r}")
    # sort key (-score, vec_id) ascending == score desc, id asc
    cand = F.struct(
        (-F.col("score_e6")).alias("neg"), F.col(id_col).alias("vid")
    )
    def topk(col):
        return F.slice(F.sort_array(F.collect_list(col)), 1, k)
    partial = (
        scored.groupBy("qid", F.spark_partition_id().alias("p"))
        .agg(topk(cand).alias("cands"))
        .select("qid", F.explode("cands").alias("c"))
    )
    return (
        partial.groupBy("qid")
        .agg(topk(F.col("c")).alias("cands"))
        .select("qid", F.explode("cands").alias("c"))
        .select(
            "qid",
            F.col("c.vid").alias(id_col),
            (-F.col("c.neg")).alias("score_e6"),
        )
    )


def ivf_ann_topk_refined(
    df: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN over a k-means-refined codebook: same probe/scan shape
    as :func:`ivf_ann_topk`, but the cells come from ``iters`` Lloyd
    updates of ``operators.clustering.kmeans_centroids`` — the
    integer-sum trainer that :func:`ivf_build_index` also uses, so the
    codebook is the same whatever the input partitioning, and it is a
    memoized session artifact. Tighter cells, better recall at the
    same n_probe. The trained centroids are data-dependent, so no SQL
    oracle (rows-only check); recall is asserted in tests.

    The query vector is fetched first, so a missing query fails before
    any training job runs."""
    # function-level import: clustering imports this module
    from spark_eventhubs_spark.operators.clustering import kmeans_centroids

    _, qvec = _codebook_and_query(df, 0, query_vec_id, id_col, vec_col)
    cents = kmeans_centroids(
        df, k=n_cells, iters=iters, id_col=id_col, vec_col=vec_col
    )
    return _ivf_topk(
        df, cents, qvec, query_vec_id, k, n_probe, id_col, vec_col, "cid"
    )


def oracle_lsh_ann_topk(
    query_vec_id: int = 0, k: int = 10, n_planes: int = 8, dim: int = 64
) -> str:
    """DuckDB twin of :func:`lsh_ann_topk`: the hyperplane bucket
    assignment is deterministic (:func:`_oracle_bucket_expr` — literal
    weights, ordered folds), so even the "approximate" ANN is exactly
    reproducible — the approximation is in WHICH vectors get scored,
    not in any randomness."""
    return f"""WITH bkt AS (
  SELECT vec_id, CAST({_oracle_bucket_expr("embedding", n_planes, dim)} AS BIGINT) AS bucket
  FROM embeddings
), q AS (
  SELECT e.embedding AS qvec, b.bucket AS qbucket
  FROM embeddings e JOIN bkt b ON b.vec_id = e.vec_id
  WHERE e.vec_id = {query_vec_id}
)
SELECT e.vec_id,
  CAST(FLOOR({oracle_cosine("e.embedding", "q.qvec", dim)} * 1000000) AS BIGINT) AS score_e6
FROM embeddings e JOIN bkt b ON b.vec_id = e.vec_id, q
WHERE b.bucket = q.qbucket AND e.vec_id <> {query_vec_id}
ORDER BY score_e6 DESC, e.vec_id ASC
LIMIT {k}"""


# ---------------------------------------------------------------------
# IVF index on disk: cell_id as a partition column
# ---------------------------------------------------------------------


def _write_cells(
    df: DataFrame, cents: list, index_dir: str, mode: str, id_col: str, vec_col: str
) -> None:
    """Assign every vector to its nearest ``cents`` cell
    (:func:`_nearest_cells`) and write it under
    ``{index_dir}/vectors/cell_id=<cid>/`` with save ``mode`` — the
    build (overwrite) and append paths share it.

    The write shuffles on (cell_id, salt) instead of cell_id alone. A
    bare repartition(cell_id) funnels the ENTIRE corpus through |cells|
    writer tasks — at 100 TB, 16 tasks writing 100 TB. The
    deterministic id-derived salt spreads each cell across
    ~parallelism/|cells|+ writers; partitionBy still lays rows out
    under their cell_id dir (several files per cell, which parquet
    readers handle natively)."""
    import numpy as np

    book = _codebook(cents)

    def _assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            _, a, _ = _nearest_cells(X, pdf[id_col].to_numpy(), book, id_col)
            out = pdf[[id_col, vec_col]].copy()
            out["cell_id"] = book[0][a]
            yield out

    assigned = df.select(id_col, vec_col).mapInPandas(
        _assign, f"{id_col} long, {vec_col} array<float>, cell_id long"
    )
    n = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    (
        assigned.repartition(n, F.col("cell_id"), F.pmod(F.col(id_col), F.lit(n)))
        .write.mode(mode)
        .partitionBy("cell_id")
        .parquet(f"{index_dir}/vectors")
    )


def _read_codebook(spark, index_dir: str) -> list:
    """An :func:`ivf_build_index` layout's saved codebook."""
    return [
        (int(r["cid"]), [float(x) for x in r["cvec"]])
        for r in spark.read.parquet(f"{index_dir}/codebook").collect()
    ]


def ivf_build_index(
    df: DataFrame,
    index_dir: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> list:
    """Materialize the IVF layout the scan-time operators only
    simulate: assign every vector to its nearest centroid and write
    the corpus as parquet PARTITIONED BY cell id, with the codebook
    alongside. This is the 100 TB serving path promised in
    :func:`ivf_ann_topk`'s scale note — a query then physically reads
    ``n_probe/n_cells`` of the data via Spark partition pruning
    instead of scanning everything and discarding.

    Centroids use the same deterministic seeding as
    :func:`ivf_ann_topk` (``clustering.kmeans_seeds``: the first
    ``n_cells`` vectors by id); ``refine_iters > 0`` runs that many
    Lloyd updates through ``operators.clustering.kmeans_centroids``
    first — the INTEGER-SUM trainer, so a rebuild on the same corpus
    produces the bit-identical codebook and cell layout regardless of
    input partitioning. Assignment runs in the shared exact-arithmetic
    kernel, so an indexed query returns bit-identical scores to the
    scan-time operator. Returns the codebook as [(cid, centroid)].

    Scale: the write shuffles on (cell_id, salt), see
    :func:`_write_cells`. The codebook is C rows. Rebuild = rerun;
    incremental append = :func:`ivf_append_index`.
    """
    # function-level import: clustering imports this module
    from spark_eventhubs_spark.operators.clustering import (
        kmeans_centroids,
        kmeans_seeds,
    )

    if refine_iters > 0:
        cents = kmeans_centroids(
            df, k=n_cells, iters=refine_iters, id_col=id_col, vec_col=vec_col
        )
    else:
        cents = kmeans_seeds(df, n_cells, id_col, vec_col)
    _write_cells(df, cents, index_dir, "overwrite", id_col, vec_col)
    df.sparkSession.createDataFrame(
        cents, "cid long, cvec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/codebook")
    return cents


def ivf_query_indexed(
    spark,
    index_dir: str,
    qvec: list,
    k: int = 10,
    n_probe: int = 4,
    exclude_id: int = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine over an :func:`ivf_build_index` layout: rank probe
    cells driver-side against the C-row codebook, then scan ONLY those
    cells — ``cell_id`` is a hive partition column, so Catalyst prunes
    the rest at planning time (assert via PartitionFilters in the
    plan; at 100 TB this is the difference between reading 25% and
    100% of the corpus). Scoring reuses the exact sequential-fold
    kernel, so results are bit-identical to :func:`ivf_ann_topk` over
    the same data. A zero-norm query is named by ``exclude_id`` (or
    as ``query``)."""
    import numpy as np

    qv = [float(x) for x in qvec]
    probe_cids = _probe_cells(
        _read_codebook(spark, index_dir), qv, n_probe,
        "query" if exclude_id is None else exclude_id, id_col,
    )
    qarr = np.asarray(qv, dtype=np.float64)
    qn = _norm_py(qv)  # non-zero: _probe_cells refuses a zero-norm query

    def _score(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            s = _seq_dot_np(X, qarr) / (_row_norms(X, ids, id_col) * qn)
            yield pd.DataFrame(
                {id_col: ids, "score_e6": np.floor(s * 1e6).astype(np.int64)}
            )

    scan = spark.read.parquet(f"{index_dir}/vectors").where(
        F.col("cell_id").isin(probe_cids)
    )
    if exclude_id is not None:
        scan = scan.where(F.col(id_col) != exclude_id)
    scored = scan.select(id_col, vec_col).mapInPandas(
        _score, f"{id_col} long, score_e6 long"
    )
    return scored.orderBy(F.col("score_e6").desc(), F.col(id_col).asc()).limit(k)


def ivf_append_index(
    df: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add vectors to an existing :func:`ivf_build_index`
    layout: assign against the SAVED codebook (no reseeding — cell
    semantics stay stable, so old and new vectors are comparable) and
    append into the same cell_id partitions. The steady-state ingest
    path: each micro-batch/backfill appends its assignments; queries
    see the union immediately; rebuild with :func:`ivf_build_index`
    only when the codebook itself should move."""
    cents = _read_codebook(df.sparkSession, index_dir)
    _write_cells(df, cents, index_dir, "append", id_col, vec_col)


# ---- product quantization (PQ) ----

PQ_M = 16          # subspaces (dim 64 -> 4 floats each)
PQ_NCENT = 16      # centroids per subspace (4-bit codes)
PQ_SHORTLIST = 100 # ADC shortlist size before exact re-rank


def _pq_partials_fn(codebooks, vec_col):
    """mapInPandas kernel for PQ training: per Arrow batch, assign every
    row's m subvectors to their nearest (L2) subspace centroid and emit
    per-(subspace, centroid) ``(n, sum_vec)`` partials — the same
    driver-merge treeAggregate shape as the k-means partials
    (``clustering.kmeans_partials``), so one job trains all m
    codebooks simultaneously. Output is bounded by
    m * n_centroids rows per batch."""
    import numpy as np

    CBS = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    m = len(CBS)

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d_sub = X.shape[1] // m
            out_s, out_c, out_n, out_sum = [], [], [], []
            for s in range(m):
                Xs = X[:, s * d_sub:(s + 1) * d_sub]
                d2 = ((Xs[:, None, :] - CBS[s][None, :, :]) ** 2).sum(axis=2)
                a = d2.argmin(axis=1)  # ties -> lowest centroid id
                for c in np.unique(a):
                    mask = a == c
                    out_s.append(s)
                    out_c.append(int(c))
                    out_n.append(int(mask.sum()))
                    out_sum.append(Xs[mask].sum(axis=0))
            yield pd.DataFrame({"s": out_s, "c": out_c, "n": out_n, "v": out_sum})

    return fn


def pq_train(
    df: DataFrame,
    m: int = PQ_M,
    n_centroids: int = PQ_NCENT,
    iters: int = 1,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Train PQ codebooks: split each vector into ``m`` subvectors and
    run per-subspace k-means, all subspaces in ONE distributed pass per
    Lloyd iteration (the :func:`_pq_partials_fn` kernel + driver
    merge). Seeds are the first ``n_centroids`` vectors' subvectors
    (``clustering.kmeans_seeds``, deterministic). Returns
    ``codebooks[m][n_centroids][dim//m]``.

    Scale: the shape of ``clustering.kmeans_centroids`` — no vector
    shuffle, per-iteration traffic is m * n_centroids * (dim/m)
    partial sums = dim * n_centroids doubles total.

    The trained codebooks are a session-scoped INGEST ARTIFACT (r13,
    same contract as ``clustering.kmeans_centroids``), memoized by
    ``plans.hubview.cached_model`` on analyzed-plan + input-file
    fingerprints + every training parameter; the bench's
    artifact-build counter records every build."""
    import numpy as np

    from spark_eventhubs_spark.operators.clustering import kmeans_seeds
    from spark_eventhubs_spark.plans.hubview import cached_model

    def _train() -> list:
        d_sub = dim // m
        seeds = np.array(
            [v for _, v in kmeans_seeds(df, n_centroids, id_col, vec_col)],
            dtype=np.float64,
        )
        codebooks = [seeds[:, s * d_sub:(s + 1) * d_sub].copy() for s in range(m)]
        base = df.select(F.col(vec_col))
        if iters > 1:
            base = base.persist()
        try:
            for _ in range(iters):
                partials = base.mapInPandas(
                    _pq_partials_fn(codebooks, vec_col),
                    schema="s long, c long, n long, v array<double>",
                ).collect()
                acc: dict = {}
                for r in partials:
                    key = (r["s"], r["c"])
                    n, v = acc.get(key, (0, None))
                    vv = np.asarray(r["v"], dtype=np.float64)
                    acc[key] = (n + r["n"], vv if v is None else v + vv)
                for (s, c), (n, v) in acc.items():
                    codebooks[s][c] = v / n  # empty cells keep their seed
        finally:
            if iters > 1:
                base.unpersist()
        return [cb.tolist() for cb in codebooks]

    return cached_model(
        df, ("pq_codebooks", m, n_centroids, iters, dim, id_col, vec_col), _train
    )


def _pq_adc_fn(codebooks, qvec, query_vec_id, id_col, vec_col):
    """mapInPandas kernel: encode each row (nearest subspace centroids)
    and score it against the query via asymmetric distance computation
    — two lookup tables per subspace (centroid·q_sub dots and centroid
    norms²), so the cosine against the RECONSTRUCTION costs m table
    lookups per row, never a dim-wide dot. |recon|² = sum of subspace
    centroid norms² exactly (concatenation), which is what makes the
    LUT trick lossless vs scoring the reconstruction directly."""
    import numpy as np

    CBS = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    m = len(CBS)
    qv = np.asarray(qvec, dtype=np.float64)
    qn = _norm_py(qvec)

    def fn(batches):
        import pandas as pd

        d_sub = len(qv) // m
        lut_dot = [CBS[s] @ qv[s * d_sub:(s + 1) * d_sub] for s in range(m)]
        lut_n2 = [(CBS[s] ** 2).sum(axis=1) for s in range(m)]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            dots = np.zeros(len(X))
            n2 = np.zeros(len(X))
            for s in range(m):
                Xs = X[:, s * d_sub:(s + 1) * d_sub]
                d2 = ((Xs[:, None, :] - CBS[s][None, :, :]) ** 2).sum(axis=2)
                code = d2.argmin(axis=1)
                dots += lut_dot[s][code]
                n2 += lut_n2[s][code]
            rn = np.sqrt(n2)
            score = np.where(rn > 0, dots / np.where(rn > 0, rn * qn, 1.0), -2.0)
            keep = pdf[id_col].to_numpy() != query_vec_id
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy()[keep],
                "adc_e6": np.floor(score[keep] * 1e6).astype(np.int64),
            })

    return fn


def pq_topk_rerank(
    df: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    shortlist: int = PQ_SHORTLIST,
    m: int = PQ_M,
    n_centroids: int = PQ_NCENT,
    iters: int = 1,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-compressed ANN with exact re-rank: train codebooks, score the
    whole corpus by ADC lookups (the compressed-domain pass — at scale
    this reads m-byte codes, not dim*4-byte vectors), take a
    ``shortlist`` of candidates, then re-rank ONLY the shortlist with
    exact cosine and return the top ``k``.

    This is the standard PQ serving architecture (shortlist quality is
    what matters, not raw PQ recall); exact scores come from the same
    sequential-fold arithmetic as :func:`brute_force_topk`, so the
    returned score_e6 values are directly comparable to brute force.
    Scale: codebook + query in task closures (no join), shortlist is a
    TakeOrdered of integer scores, re-rank touches ``shortlist`` rows.
    A zero-norm query is refused by id on the driver, before training."""
    _, qvec = _codebook_and_query(df, 0, query_vec_id, id_col, vec_col)
    _checked_norm(qvec, id_col, query_vec_id)
    codebooks = pq_train(df, m, n_centroids, iters, dim, id_col, vec_col)
    adc = df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        _pq_adc_fn(codebooks, qvec, query_vec_id, id_col, vec_col),
        schema=f"{id_col} long, adc_e6 long",
    )
    short = (
        adc.orderBy(F.col("adc_e6").desc(), F.col(id_col).asc())
        .limit(shortlist)
        .select(id_col)
    )
    qcol = F.array(*[F.lit(float(x)) for x in qvec])
    rerank = (
        df.join(F.broadcast(short), id_col, "semi")
        .select(
            F.col(id_col),
            F.floor(cosine_col(F.col(vec_col), qcol, dim) * F.lit(1e6))
            .cast("long")
            .alias("score_e6"),
        )
    )
    return rerank.orderBy(F.col("score_e6").desc(), F.col(id_col).asc()).limit(k)


# ---------------------------------------------------------------------
# Matryoshka (prefix-dimension) two-stage retrieval
# ---------------------------------------------------------------------

MRL_PREFIX_DIM = 16
MRL_SHORTLIST = 50


def mrl_rerank_topk(
    df: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    prefix_dim: int = MRL_PREFIX_DIM,
    shortlist: int = MRL_SHORTLIST,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-representation two-stage ANN: rank every vector by
    cosine over its first ``prefix_dim`` dimensions (4x less math and
    4x less I/O when the prefix is stored column-separate), take a
    ``shortlist``, then re-rank the shortlist by full-dimension cosine
    and return the top ``k``. Both stages are exact arithmetic over
    deterministic candidate sets, so the whole two-stage pipeline has
    a SQL oracle.

    Scale: stage 1 is a narrow scan + TakeOrdered (partition-
    incremental, no global sort); stage 2 touches ``shortlist`` rows.
    With MRL-trained embeddings the prefix is a faithful coarse score;
    here it demonstrates the plumbing on the synthetic vectors."""
    q = df.where(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("qvec")
    )
    pref = lambda c: F.slice(c, 1, prefix_dim)  # noqa: E731
    stage1 = (
        df.where(F.col(id_col) != query_vec_id)
        .join(F.broadcast(q))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("qvec"),
            F.floor(
                cosine_col(pref(F.col(vec_col)), pref(F.col("qvec"))) * 1e6
            ).cast("long").alias("prefix_e6"),
        )
        .orderBy(F.col("prefix_e6").desc(), F.col(id_col).asc())
        .limit(shortlist)
    )
    return (
        stage1.select(
            F.col(id_col),
            "prefix_e6",
            F.floor(cosine_col(F.col(vec_col), F.col("qvec")) * 1e6)
            .cast("long").alias("score_e6"),
        )
        .orderBy(F.col("score_e6").desc(), F.col(id_col).asc())
        .limit(k)
    )


def oracle_mrl_rerank_topk(
    query_vec_id: int = 0,
    k: int = 10,
    prefix_dim: int = MRL_PREFIX_DIM,
    shortlist: int = MRL_SHORTLIST,
) -> str:
    pcos = oracle_cosine("embedding", "qvec", dim=prefix_dim)
    fcos = oracle_cosine("embedding", "qvec")
    return f"""WITH q AS (
  SELECT embedding AS qvec FROM embeddings WHERE vec_id = {query_vec_id}
), s1 AS (
  SELECT vec_id, embedding, qvec,
    CAST(FLOOR({pcos} * 1000000) AS BIGINT) AS prefix_e6
  FROM embeddings, q
  WHERE vec_id <> {query_vec_id}
  ORDER BY prefix_e6 DESC, vec_id ASC
  LIMIT {shortlist}
)
SELECT vec_id, prefix_e6,
  CAST(FLOOR({fcos} * 1000000) AS BIGINT) AS score_e6
FROM s1
ORDER BY score_e6 DESC, vec_id ASC
LIMIT {k}"""

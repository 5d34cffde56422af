"""Embedding clustering + semantic dedup over the ``embeddings`` table.

North-star LLM-pipeline operators (curation layer):
- distributed k-means (Lloyd) with an EXACT cross-engine oracle —
  the building block for SemDeDup-style pruning, IVF codebooks and
  per-domain curation;
- SemDeDup: within-cluster cosine screening that drops semantic
  near-duplicates (Abbas et al. 2023, "SemDeDup: Data-efficient
  learning at web-scale through semantic deduplication").

Exactness across engines (the trick that makes an iterative float
algorithm hash-checkable against DuckDB):

- every assignment runs the similarity layer's one centroid kernel
  (`similarity._nearest_cells` over a `similarity._codebook`): the
  SAME sequential left-to-right double fold as `oracle_cosine`, ties
  to the smallest cid, so assignments are bit-identical. It refuses a
  zero-norm row or centroid with a ValueError naming its id (a NaN
  cosine would otherwise win the argmax);
- the Lloyd *mean* update is the order-dependent part — a float sum
  over arbitrarily-ordered members drifts in the last ulp between
  engines. Instead each member vector is quantized once
  (``floor(x * 10000)`` of the identical double, bit-exact both
  sides) and the centroid is kept as the INTEGER element-wise sum of
  its members. Integer addition is associative/commutative, so the
  merged partials equal DuckDB's SUM() exactly regardless of order,
  and cosine is scale-invariant so the un-normalized sum vector is a
  valid centroid direction. No division ever happens, so there is
  nothing to drift.

This module holds the one k-means trainer (`kmeans_centroids`): the
k-means, SemDeDup, curation and refined-IVF operators all train
through it, memoized per session by `plans.hubview.cached_model`.

Design for 100 TB:
- per iteration ONE Arrow-batched ``mapInPandas`` pass emits <= k
  ``(cid, n, int_sum)`` partials per batch (map-side combine); the
  driver merge is O(k * dim) ints — the treeAggregate shape of
  distributed k-means. No shuffle of vectors, ever.
- the final assignment is another zero-shuffle pass; the centroid
  codebook rides in the task closure (k * dim doubles).
- SemDeDup's pairwise screen runs per cluster via
  ``groupBy(cluster_id).applyInPandas`` — one shuffle on cluster_id,
  and the quadratic work is bounded by the largest cluster. That is
  the SemDeDup contract: k scales with n (the paper uses k ~ n/1000)
  so clusters stay small; the kernel is O(|cluster|^2 * dim) numpy.

Reference note: the reference connector has no clustering operators;
its docs delegate analytics to Spark (README.md:23-24). These extend
that surface for the training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_eventhubs_spark.operators.similarity import (
    DIM,
    _codebook,
    _nearest_cells,
    oracle_cosine,
)

KMEANS_K = 8
KMEANS_ITERS = 2
KMEANS_Q = 10_000  # member quantization scale for integer-sum centroids
SEMDEDUP_TAU_E6 = 350_000  # see queries.py: synthetic max pairwise cos ~0.51


def _assign_partials_fn(cents, id_col, vec_col, q_scale):
    """mapInPandas kernel for one Lloyd step: assign each row to its
    nearest centroid (``similarity._nearest_cells``) and emit one
    ``(cid, n, int_sum)`` partial per non-empty cell, where int_sum is
    the element-wise sum of ``floor(x * q_scale)`` member vectors.
    Output is <= k rows per Arrow batch regardless of batch size."""
    import numpy as np

    book = _codebook(cents)

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            _, a, _ = _nearest_cells(X, pdf[id_col].to_numpy(), book, id_col)
            Qm = np.floor(X * float(q_scale)).astype(np.int64)
            out_cid, out_n, out_sum = [], [], []
            for j in np.unique(a):
                mask = a == j
                out_cid.append(int(book[0][j]))
                out_n.append(int(mask.sum()))
                out_sum.append(Qm[mask].sum(axis=0))
            yield pd.DataFrame({"cid": out_cid, "n": out_n, "s": out_sum})

    return fn


def _final_assign_fn(cents, id_col, vec_col, with_vec=False):
    """mapInPandas kernel: final assignment against the converged
    centroids (``similarity._nearest_cells``), emitting
    (id, cluster_id, score_e6[, vec passthrough])."""
    import numpy as np

    book = _codebook(cents)

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            S, a, _ = _nearest_cells(X, ids, book, id_col)
            out = {
                id_col: ids,
                "cluster_id": book[0][a],
                "score_e6": np.floor(
                    S[np.arange(len(a)), a] * 1e6
                ).astype(np.int64),
            }
            if with_vec:
                out[vec_col] = pdf[vec_col]
            yield pd.DataFrame(out)

    return fn


def kmeans_partials(
    df: DataFrame,
    cents: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_scale: int = KMEANS_Q,
) -> DataFrame:
    """One Lloyd step's partials against FIXED centroids:
    (cid, n, int_sum) rows, <= k per Arrow batch. Exposed separately
    so incremental/streaming ingest can run the same step per
    micro-batch: integer sums commute, so merging per-batch partials
    over ANY split of the data equals the one-shot batch result
    bit-for-bit (see :func:`merge_partial_rows`)."""
    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        _assign_partials_fn(cents, id_col, vec_col, q_scale),
        schema="cid long, n long, s array<long>",
    )


def merge_partial_rows(acc: dict, rows) -> dict:
    """Merge (cid, n, s) partial rows into ``acc`` ({cid: (n, [int])}).
    Exact integer addition — associative and commutative, so the merge
    order (across partitions, micro-batches, or repeated calls) can
    never change the result."""
    for r in rows:
        n, s = acc.get(r["cid"], (0, None))
        v = [int(x) for x in r["s"]]
        acc[r["cid"]] = (
            n + r["n"],
            v if s is None else [a + b for a, b in zip(s, v)],
        )
    return acc


def centroids_from_acc(cents: list, acc: dict) -> list:
    """Finish a Lloyd update from merged partials: non-empty cells
    take their integer sum vector as the new (un-normalized) centroid
    direction; empty cells keep the previous centroid."""
    return [
        (cid, [float(x) for x in acc[cid][1]]) if cid in acc
        else (cid, cvec)
        for cid, cvec in cents
    ]


def kmeans_seeds(
    df: DataFrame,
    k: int = KMEANS_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Deterministic codebook bootstrap: the first ``k`` vectors by id
    as ``[(cid, [float, ...])]`` sorted by cid — the shared seed rule
    of the batch Lloyd pass, its oracle CTE, and the streaming twin."""
    rows = sorted(
        df.where(F.col(id_col) < k)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .collect(),
        key=lambda r: r["cid"],
    )
    return [(r["cid"], [float(x) for x in r["cvec"]]) for r in rows]


def assign_with_centroids(
    df: DataFrame,
    cents: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Stateless final-assignment pass against a FIXED codebook:
    (id, cluster_id, score_e6) via one zero-shuffle Arrow pass with
    the centroids in the task closure — usable identically over a
    batch frame or a micro-batch slice (the codebook is the only
    state, and it is broadcast-by-closure, never shuffled)."""
    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        _final_assign_fn(cents, id_col, vec_col),
        schema=f"{id_col} long, cluster_id long, score_e6 long",
    )


def kmeans_centroids(
    df: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_scale: int = KMEANS_Q,
) -> list:
    """Run ``iters`` Lloyd updates from deterministic seeds (the first
    ``k`` vectors by id) and return the final centroids as
    ``[(cid, [float, ...])]`` sorted by cid.

    Centroids after an update are un-normalized integer sum vectors
    (see module docstring); a cell that goes empty keeps its previous
    centroid — mirrored by the oracle's COALESCE. Each iteration is
    ONE job whose result is <= k * n_partitions tiny partial rows.

    The trained codebook is a session-scoped INGEST ARTIFACT (r13):
    a pure deterministic function of (corpus, k, iters, quantization)
    — the same contract as the memoized MinHash banded frame and the
    PQ codebooks — so it is memoized by ``plans.hubview.cached_model``
    under a non-"query" prefix (bench counts the build). Three catalog
    entries train identical codebooks (``embed_kmeans_assign``'s
    k=8 model; ``embed_semdedup`` and ``corpus_curation_decisions``
    share the auto-k model), each previously re-running seeds +
    ``iters`` full Lloyd passes per invocation; the refined IVF
    (``similarity.ivf_ann_topk_refined``, ``ivf_build_index``) trains
    here too. The key is the analyzed-plan fingerprint + input-file
    fingerprint + every training parameter, so a different corpus,
    file set, or knob retrains."""
    from spark_eventhubs_spark.plans.hubview import cached_model

    def _train() -> list:
        cents = kmeans_seeds(df, k, id_col, vec_col)
        base = df.select(F.col(id_col), F.col(vec_col))
        if iters > 1:
            base = base.persist()
        try:
            for _ in range(iters):
                rows = kmeans_partials(base, cents, id_col, vec_col, q_scale).collect()
                cents = centroids_from_acc(cents, merge_partial_rows({}, rows))
        finally:
            if iters > 1:
                base.unpersist()
        return cents

    return cached_model(
        df, ("kmeans_cents", k, iters, id_col, vec_col, q_scale), _train
    )


def kmeans_assign(
    df: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_scale: int = KMEANS_Q,
) -> DataFrame:
    """Distributed k-means clustering: ``iters`` Lloyd updates + a
    final assignment pass. Returns (id, cluster_id, score_e6) where
    score_e6 = floor(cos(x, centroid) * 1e6). iters + 2 jobs total,
    zero shuffle; see module docstring for the exactness design."""
    cents = kmeans_centroids(df, k, iters, id_col, vec_col, q_scale)
    return assign_with_centroids(df, cents, id_col, vec_col)


def _oracle_kmeans_cte(
    k: int | None = KMEANS_K,
    iters: int = KMEANS_ITERS,
    q_scale: int = KMEANS_Q,
    dim: int = DIM,
) -> str:
    """CTE chain computing the final assignment ``mfin(vec_id, cid)``
    and centroids ``cfin(cid, cvec)``; composable into full oracles.

    ``k=None`` mirrors :func:`semdedup`'s auto-k IN LOCKSTEP at every
    corpus size: the seed predicate derives
    ``max(KMEANS_K, ceil(n / SEMDEDUP_TARGET_CLUSTER))`` from the same
    ``COUNT(*)`` the engine counts — pure-integer ``(n + t-1) // t``,
    so no float boundary can ever split the two sides. k appears
    nowhere else in the CTE chain (Lloyd steps group by whatever cids
    the seeds produced), which is what makes a scalar-subquery k
    possible at all."""
    cos = oracle_cosine
    k_expr = (
        f"""(SELECT GREATEST({KMEANS_K},
    (COUNT(*) + {SEMDEDUP_TARGET_CLUSTER - 1}) // {SEMDEDUP_TARGET_CLUSTER})
   FROM embeddings)"""
        if k is None
        else str(k)
    )
    parts = [f"""seeds AS (
  SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
  FROM embeddings WHERE vec_id < {k_expr}
), qv AS (
  SELECT vec_id, i, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {q_scale}) AS BIGINT) AS q
  FROM embeddings, range(1, {dim + 1}) t(i)
)"""]
    prev = "seeds"
    for it in range(1, iters + 1):
        m_in = f"m{it - 1}"
        parts.append(f"""a{it - 1} AS (
  SELECT e.vec_id, c.cid,
    ROW_NUMBER() OVER (PARTITION BY e.vec_id
      ORDER BY {cos('e.embedding', 'c.cvec', dim)} DESC, c.cid ASC) AS rn
  FROM embeddings e, {prev} c
), {m_in} AS (SELECT vec_id, cid FROM a{it - 1} WHERE rn = 1
), s{it} AS (
  SELECT {m_in}.cid, qv.i, SUM(qv.q) AS s FROM {m_in} JOIN qv USING (vec_id) GROUP BY 1, 2
), c{it}raw AS (SELECT cid, list(CAST(s AS DOUBLE) ORDER BY i) AS cvec FROM s{it} GROUP BY cid
), c{it} AS (
  SELECT sd.cid, COALESCE(c.cvec, sd.cvec) AS cvec
  FROM {prev} sd LEFT JOIN c{it}raw c USING (cid)
)""")
        prev = f"c{it}"
    parts.append(f"""af AS (
  SELECT e.vec_id, c.cid, {cos('e.embedding', 'c.cvec', dim)} AS cs,
    ROW_NUMBER() OVER (PARTITION BY e.vec_id
      ORDER BY {cos('e.embedding', 'c.cvec', dim)} DESC, c.cid ASC) AS rn
  FROM embeddings e, {prev} c
), mfin AS (SELECT vec_id, cid, cs FROM af WHERE rn = 1
), cfin AS (SELECT cid, cvec FROM {prev})""")
    return "WITH " + ",\n".join(parts)


def oracle_kmeans_assign(
    k: int = KMEANS_K, iters: int = KMEANS_ITERS,
    q_scale: int = KMEANS_Q, dim: int = DIM,
) -> str:
    return (
        _oracle_kmeans_cte(k, iters, q_scale, dim)
        + """
SELECT vec_id, cid AS cluster_id,
  CAST(FLOOR(cs * 1000000) AS BIGINT) AS score_e6
FROM mfin"""
    )


def _semdedup_pair_fn(id_col, vec_col, tau_e6):
    """applyInPandas kernel (one cluster per call): count, per vector,
    how many SMALLER-id vectors in the same cluster exceed the cosine
    threshold. The pairwise Gram matrix is accumulated dim-by-dim
    (64 rank-1 updates) so every entry folds left-to-right in the same
    order as the engines' sequential dots — bit-identical floors."""
    import numpy as np

    def fn(pdf):
        import pandas as pd

        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        n = len(X)
        G = np.zeros((n, n), dtype=np.float64)
        for d in range(X.shape[1]):
            G = G + np.outer(X[:, d], X[:, d])
        rn = np.sqrt(np.cumsum(X * X, axis=1)[:, -1])
        E = np.floor(G / (rn[:, None] * rn[None, :]) * 1e6)
        hit = E >= tau_e6
        n_dups = np.array(
            [int(hit[i, :i].sum()) for i in range(n)], dtype=np.int64
        )
        return pd.DataFrame({
            id_col: pdf[id_col].to_numpy(),
            "cluster_id": pdf["cluster_id"].to_numpy(),
            "n_dups": n_dups,
            "keep": (n_dups == 0).astype(np.int32),
        })

    return fn


# target rows per cluster for semdedup's auto-k: equals the sf0.1
# embedding count (2000) / KMEANS_K, so every oracle-verified scale
# (sf0.001/0.01/0.1) resolves to exactly k = KMEANS_K and the static
# SQL oracle stays byte-exact there, while larger corpora grow k
# proportionally and the per-cluster quadratic screen stays flat
SEMDEDUP_TARGET_CLUSTER = 250


def semdedup(
    df: DataFrame,
    k: int | None = None,
    iters: int = KMEANS_ITERS,
    tau_e6: int = SEMDEDUP_TAU_E6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup semantic near-dup screening: cluster with
    :func:`kmeans_assign`'s centroids, then within each cluster drop
    every vector that has a smaller-id neighbor with
    floor(cos * 1e6) >= tau_e6. The exists-a-smaller-neighbor rule is
    order-independent (unlike greedy sweep), so it is exactly
    SQL-mirrorable. Returns every row with its cluster, the count of
    smaller-id near-dup witnesses, and keep = (n_dups == 0).

    Shape: one zero-shuffle assignment pass (vectors ride through),
    one shuffle on cluster_id, then per-cluster quadratic screening —
    the work SemDeDup bounds by choosing k ~ n/cluster_size. A FIXED
    k breaks that contract as the corpus grows (cluster size — and
    the O(size^2) screen — scales with n: measured 45.8x wall at 30x
    data, round 8), so the default ``k=None`` derives
    ``k = max(KMEANS_K, ceil(n / SEMDEDUP_TARGET_CLUSTER))`` from one
    metadata-cheap count; pass an explicit ``k`` to pin it."""
    if k is None:
        from spark_eventhubs_spark.operators.dedup import _count_cached

        n = _count_cached(df)
        k = max(KMEANS_K, -(-n // SEMDEDUP_TARGET_CLUSTER))
    cents = kmeans_centroids(df, k, iters, id_col, vec_col)
    assigned = df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        _final_assign_fn(cents, id_col, vec_col, with_vec=True),
        schema=f"{id_col} long, cluster_id long, score_e6 long, "
        f"{vec_col} array<float>",
    )
    return assigned.groupBy("cluster_id").applyInPandas(
        _semdedup_pair_fn(id_col, vec_col, tau_e6),
        schema=f"{id_col} long, cluster_id long, n_dups long, keep int",
    )


def oracle_semdedup(
    k: int | None = KMEANS_K, iters: int = KMEANS_ITERS,
    tau_e6: int = SEMDEDUP_TAU_E6, dim: int = DIM,
) -> str:
    """DuckDB twin of :func:`semdedup`; pass ``k=None`` to mirror the
    engine's auto-k from the same COUNT(*) (see
    :func:`_oracle_kmeans_cte`) so both sides stay in lockstep at
    every scale factor, not just the ones where auto resolves to
    KMEANS_K."""
    cos = oracle_cosine("e1.embedding", "e2.embedding", dim)
    return (
        _oracle_kmeans_cte(k, iters, dim=dim)
        + f""",
pairs AS (
  SELECT m1.vec_id AS v, COUNT(*) AS nd
  FROM mfin m1 JOIN mfin m2 ON m1.cid = m2.cid AND m2.vec_id < m1.vec_id
  JOIN embeddings e1 ON e1.vec_id = m1.vec_id
  JOIN embeddings e2 ON e2.vec_id = m2.vec_id
  WHERE CAST(FLOOR({cos} * 1000000) AS BIGINT) >= {tau_e6}
  GROUP BY 1
)
SELECT m.vec_id, m.cid AS cluster_id,
  COALESCE(p.nd, 0) AS n_dups,
  CAST(CASE WHEN p.nd IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM mfin m LEFT JOIN pairs p ON p.v = m.vec_id"""
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    q_scale: int = KMEANS_Q,
) -> DataFrame:
    """Per-label centroid accumulators via the pure-JVM path:
    posexplode + groupBy(label, dim) with map-side partial aggregation.
    Emitted as exact integers (member count + quantized element sum),
    so the result is engine-independent; downstream divides when it
    wants the mean. Shuffle volume is |partitions| * |labels| * dim
    combiner rows — independent of row count. The contrast with
    :func:`kmeans_centroids` is deliberate: labeled (supervised)
    centroids need no iteration, so Catalyst's hash aggregate does the
    whole job without a kernel."""
    return (
        df.select(
            F.col(label_col).alias("label"),
            F.posexplode(F.col(vec_col)).alias("pos", "x"),
        )
        .select("label", F.col("pos").cast("long").alias("i"), "x")
        .groupBy("label", "i")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(
                F.floor(F.col("x").cast("double") * F.lit(float(q_scale)))
                .cast("long")
            ).alias("csum"),
        )
    )


def oracle_label_centroids(q_scale: int = KMEANS_Q, dim: int = DIM) -> str:
    return f"""SELECT label, i, COUNT(*) AS n_vecs,
  CAST(SUM(CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * {q_scale}) AS BIGINT)) AS BIGINT) AS csum
FROM embeddings, range({dim}) t(i)
GROUP BY 1, 2"""

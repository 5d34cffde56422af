"""Round-14 optimization internals.

Each test pins the EQUIVALENCE an optimization claims (same rows as
the unfused form) plus the structural property that makes it an
optimization (one Python eval node / shared production).
"""

import pyspark.sql.functions as F
import pytest


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---- fused recall@k kernel (similarity.recall_topk_per_method) ----

def _emb(spark, n=40, dim=8):
    # deterministic spread of float vectors with some near-duplicates
    rows = []
    for i in range(n):
        v = [((i * 7 + j * 13) % 19 - 9) / 7.0 for j in range(dim)]
        if i % 11 == 3:  # near-dup of vector 0's direction
            v = [x * 1.5 + 0.01 * i for x in rows[0][1]] if rows else v
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_recall_topk_matches_standalone_legs(spark):
    """The fused one-pass kernel must reproduce each standalone
    operator's top-k EXACTLY (same ids, same score_e6, same tie
    order) — it replaces three corpus scans, not the algorithm."""
    from spark_eventhubs_spark.operators import similarity as S

    emb = _emb(spark)
    k, dim, n_cells = 5, 8, 4
    fused = S.recall_topk_per_method(
        emb, query_vec_id=0, k=k, dim=dim, n_cells=n_cells, n_probe=2
    )
    per = {}
    for r in fused.collect():
        per.setdefault(r["method"], set()).add((r["vec_id"], r["score_e6"]))
    brute = {
        (r["vec_id"], r["score_e6"])
        for r in S.brute_force_topk(emb, 0, k).collect()
    }
    lsh = {
        (r["vec_id"], r["score_e6"])
        for r in S.lsh_ann_topk(emb, 0, k, dim=dim).collect()
    }
    ivf = {
        (r["vec_id"], r["score_e6"])
        for r in S.ivf_ann_topk(emb, 0, k, n_cells=n_cells, n_probe=2).collect()
    }
    assert per["brute"] == brute
    assert per.get("lsh", set()) == lsh
    assert per.get("ivf", set()) == ivf


def test_recall_topk_single_python_eval(spark):
    """Structural: ONE scan, ONE Python eval node — the whole point of
    the fusion (the r13 form ran three corpus scans / two kernels)."""
    from spark_eventhubs_spark.operators import similarity as S

    emb = _emb(spark)
    df = S.recall_topk_per_method(
        emb, query_vec_id=0, k=5, dim=8, n_cells=4, n_probe=2
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan


def test_recall_topk_missing_query_raises(spark):
    from spark_eventhubs_spark.operators import similarity as S
    import pytest as _pytest

    emb = _emb(spark)
    with _pytest.raises(ValueError, match="query vector"):
        S.recall_topk_per_method(emb, query_vec_id=10_000, k=5, dim=8)


def test_recall_kernel_running_topk_equals_single_sort():
    """The kernel keeps a running per-method top-k across Arrow
    batches; fed the same rows in many batches it must emit exactly
    what one batch (one sort over every candidate) emits."""
    import numpy as np
    import pandas as pd

    from spark_eventhubs_spark.operators import similarity as S

    rng = np.random.default_rng(7)
    dim, k = 8, 5
    X = rng.integers(-9, 10, size=(300, dim)).astype(np.float64) / 7.0
    X[~X.any(axis=1), 0] = 1.0  # keep every row's norm non-zero
    pdf = pd.DataFrame({"vec_id": np.arange(300), "embedding": list(X)})
    cents = [(i, X[i].tolist()) for i in range(4)]
    W = S._plane_matrix(dim, 3)
    qbucket = int(S._plane_buckets(X[:1], W)[0])
    fn = S._recall_scan_fn(cents, [0, 2], X[0].tolist(), qbucket, W, 0, k,
                           "vec_id", "embedding")
    one = pd.concat(list(fn(iter([pdf]))), ignore_index=True)
    many = pd.concat(
        list(fn(iter([pdf[i:i + 7] for i in range(0, len(pdf), 7)]))),
        ignore_index=True,
    )
    assert len(one) == 3 * k
    pd.testing.assert_frame_equal(one, many)


def test_recall_topk_many_arrow_batches_per_task(spark):
    """Same fused output whether each task's rows arrive as one Arrow
    batch or as ten."""
    from spark_eventhubs_spark.operators import similarity as S

    emb = _emb(spark, n=200).repartition(2)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)

    def run(batch_rows):
        spark.conf.set(conf, str(batch_rows))
        return _rows(S.recall_topk_per_method(
            emb, query_vec_id=0, k=5, dim=8, n_cells=4, n_probe=2
        ))

    try:
        assert run(10) == run(10_000)
    finally:
        spark.conf.set(conf, prev)


def _with_zero_row(spark, vec_id):
    rows = [(r["vec_id"], list(r["embedding"])) for r in _emb(spark).collect()]
    rows = [(i, [0.0] * 8 if i == vec_id else v) for i, v in rows]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _unrefused(legs):
    """The (name, expected-pattern, callable) legs that did NOT fail
    with a ValueError matching their pattern, with what they did
    instead. A ValueError raised in a task arrives wrapped, with the
    Python traceback in its message."""
    import re

    missed = []
    for name, pattern, leg in legs:
        try:
            leg()
        except Exception as e:
            valueerror = isinstance(e, ValueError) or "ValueError" in str(e)
            if not (re.search(pattern, str(e)) and valueerror):
                missed.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        else:
            missed.append(f"{name}: no error")
    return missed


def _index(spark, path, **kw):
    from spark_eventhubs_spark.operators import similarity as S

    S.ivf_build_index(_emb(spark), str(path), n_cells=4, **kw)
    return str(path)


@pytest.mark.parametrize("vec_id", [17, 2])  # 2 is also a seed centroid
def test_zero_norm_row_is_refused_by_every_leg(spark, tmp_path, vec_id):
    """A zero-norm corpus row has no cosine: every codebook consumer,
    ``knn_join`` and the JVM brute-force leg (ANSI division) fail rather
    than rank a NaN as a score or let it win an argmax. Row 2 is also a
    seed centroid, which the legs seeded by ``kmeans_seeds`` name as
    cid=2, and a ``knn_join`` query."""
    from spark_eventhubs_spark.operators import clustering as CL
    from spark_eventhubs_spark.operators import similarity as S

    emb = _with_zero_row(spark, vec_id)
    row = f"zero-norm embedding at vec_id={vec_id}"
    seed = row if vec_id == 17 else "zero-norm embedding at cid=2"
    index = _index(spark, tmp_path / "index")

    def query_zero_row_in_index():
        spark.createDataFrame(
            [(vec_id, [0.0] * 8, 0)],
            "vec_id long, embedding array<float>, cell_id long",
        ).write.mode("append").partitionBy("cell_id").parquet(f"{index}/vectors")
        qvec = list(_emb(spark).where("vec_id = 0").first()["embedding"])
        S.ivf_query_indexed(spark, index, qvec, 5, n_probe=4).collect()

    assert not _unrefused([
        ("recall_topk_per_method", row, lambda: S.recall_topk_per_method(
            emb, query_vec_id=0, k=5, dim=8, n_cells=4, n_probe=2
        ).collect()),
        ("ivf_ann_topk", row,
         lambda: S.ivf_ann_topk(emb, 0, 5, n_cells=4, n_probe=4).collect()),
        ("ivf_ann_topk_refined", seed, lambda: S.ivf_ann_topk_refined(
            emb, 0, 5, n_cells=4, n_probe=4
        ).collect()),
        ("kmeans_assign", seed,
         lambda: CL.kmeans_assign(emb, k=4, iters=1).collect()),
        ("ivf_build_index", seed,
         lambda: S.ivf_build_index(emb, str(tmp_path / "zero"), n_cells=4)),
        ("ivf_append_index", row, lambda: S.ivf_append_index(emb, index)),
        ("ivf_query_indexed", row, query_zero_row_in_index),
        # row 17 is a corpus row, row 2 one of the queries
        ("knn_join", row,
         lambda: S.knn_join(emb, query_max_id=4, k=5).collect()),
    ])
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        S.brute_force_topk(emb, 0, 5).collect()


def test_zero_norm_query_is_refused(spark, tmp_path):
    """A zero-norm query, and a zero-norm centroid in a codebook that
    is not seeded from the corpus (a trained or saved one), are
    refused by id too: a zero centroid's NaN cosines would otherwise
    win every row's argmax in the scan kernel."""
    from spark_eventhubs_spark.operators import similarity as S

    emb = _with_zero_row(spark, 0)
    query = "zero-norm embedding at vec_id=0"
    index = _index(spark, tmp_path / "index")
    zero_cent = _index(spark, tmp_path / "zero_cent")
    cents = [(r["cid"], [0.0] * 8 if r["cid"] == 1 else list(r["cvec"]))
             for r in spark.read.parquet(f"{zero_cent}/codebook").collect()]
    spark.createDataFrame(cents, "cid long, cvec array<double>").write.mode(
        "overwrite"
    ).parquet(f"{zero_cent}/codebook")
    qvec = list(_emb(spark).where("vec_id = 0").first()["embedding"])

    assert not _unrefused([
        ("recall_topk_per_method", query, lambda: S.recall_topk_per_method(
            emb, query_vec_id=0, k=5, dim=8, n_cells=4
        )),
        ("ivf_ann_topk", query, lambda: S.ivf_ann_topk(emb, 0, 5, n_cells=4)),
        ("ivf_ann_topk_refined", "zero-norm embedding at (vec_id|cid)=0",
         lambda: S.ivf_ann_topk_refined(emb, 0, 5, n_cells=4).collect()),
        ("ivf_query_indexed", query, lambda: S.ivf_query_indexed(
            spark, index, [0.0] * 8, 5, exclude_id=0
        )),
        ("pq_topk_rerank", query, lambda: S.pq_topk_rerank(
            emb, 0, 5, m=2, n_centroids=4, dim=8
        ).collect()),
        ("ivf_query_indexed: saved zero centroid", "zero-norm embedding at cid=1",
         lambda: S.ivf_query_indexed(spark, zero_cent, qvec, 5)),
        ("ivf_append_index: saved zero centroid", "zero-norm embedding at cid=1",
         lambda: S.ivf_append_index(_emb(spark), zero_cent)),
        # the scan kernel itself refuses a zero query and a zero centroid
        ("_ivf_scan_fn: query", "zero-norm embedding at vec_id=3",
         lambda: S._ivf_scan_fn(
             [(0, [1.0] * 8)], [0], [0.0] * 8, 3, "vec_id", "embedding"
         )),
        ("_ivf_scan_fn: centroid", "zero-norm embedding at cid=1",
         lambda: S._ivf_scan_fn(
             [(0, [1.0] * 8), (1, [0.0] * 8)], [0], [1.0] * 8, 3,
             "vec_id", "embedding",
         )),
    ])


def _ivf_query_over_index(spark, emb, tmp):
    from spark_eventhubs_spark.operators import similarity as S

    S.ivf_build_index(emb, str(tmp), n_cells=4, refine_iters=1)
    qvec = list(emb.where("vec_id = 0").first()["embedding"])
    return S.ivf_query_indexed(spark, str(tmp), qvec, 5, n_probe=2, exclude_id=0)


def _partitioning_op(op):
    from spark_eventhubs_spark.operators import clustering as CL
    from spark_eventhubs_spark.operators import similarity as S

    return {
        "ivf_ann_topk": lambda spark, emb, tmp: S.ivf_ann_topk(
            emb, 0, 5, n_cells=4, n_probe=2
        ),
        "ivf_ann_topk_refined": lambda spark, emb, tmp: S.ivf_ann_topk_refined(
            emb, 0, 5, n_cells=4, n_probe=2
        ),
        "recall_topk_per_method": lambda spark, emb, tmp: S.recall_topk_per_method(
            emb, 0, 5, dim=8, n_cells=4, n_probe=2
        ),
        "kmeans_assign": lambda spark, emb, tmp: CL.kmeans_assign(emb, k=4, iters=2),
        "ivf_query_indexed": _ivf_query_over_index,
    }[op]


@pytest.mark.parametrize("op", [
    "ivf_ann_topk", "ivf_ann_topk_refined", "recall_topk_per_method",
    "kmeans_assign", "ivf_query_indexed",
])
def test_empty_partitions_and_tiny_batches_change_no_row(spark, tmp_path, op):
    """The same 40-row corpus in one task, in 64 tasks (many of them
    empty) and in one task cut into 3-row Arrow batches returns the
    same rows: the kernels skip empty batches, and the k-means partials
    are integer sums, so no split of the input can move a centroid."""
    from spark_eventhubs_spark.plans.hubview import clear_cached_plans

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    got = {}
    try:
        for name, parts, batch in [
            ("one_task", 1, prev), ("64_tasks", 64, prev), ("3_row_batches", 1, "3"),
        ]:
            spark.conf.set(conf, batch)
            clear_cached_plans(spark, "kmeans_cents")  # retrain every time
            emb = _emb(spark).repartition(parts)
            got[name] = _rows(_partitioning_op(op)(spark, emb, tmp_path / name))
    finally:
        spark.conf.set(conf, prev)
    assert got["one_task"], op
    assert got["one_task"] == got["64_tasks"] == got["3_row_batches"]


# ---- shared batch gram frame (exact_substring_spans_incremental) ----

def test_substring_incremental_accepts_precomputed_grams(spark):
    """The ingest twin persists substring_grams(batch) once per
    trigger and passes it in; the result must be IDENTICAL to the
    self-computed path."""
    from spark_eventhubs_spark.operators import dedup as D

    batch = spark.createDataFrame(
        [
            (10, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
            (11, "a b c d e f g h i j k l m n o p zz yy xx ww vv uu"),
            (12, "totally different words with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    store = spark.createDataFrame([], "h bigint, n_occ bigint")
    base = D.exact_substring_spans_incremental(batch, store)
    shared = D.exact_substring_spans_incremental(
        batch, store, grams=D.substring_grams(batch)
    )
    assert _rows(base) == _rows(shared)


def test_substring_incremental_rejects_foreign_grams(spark):
    """``grams`` must be substring_grams's (doc_id, i, h) frame; any
    other shape is refused instead of silently profiling wrong spans."""
    from spark_eventhubs_spark.operators import dedup as D

    batch = spark.createDataFrame(
        [(10, "a b c d e f g h i j k l m n o p q r s t u v w x y z")],
        "doc_id long, text string",
    )
    store = spark.createDataFrame([], "h bigint, n_occ bigint")
    grams = D.substring_grams(batch)
    for bad in (
        grams.select("doc_id", "i"),
        grams.withColumn("gram", F.lit("x")),
        grams.toPandas(),
    ):
        with pytest.raises(ValueError, match="grams must be"):
            D.exact_substring_spans_incremental(batch, store, grams=bad)

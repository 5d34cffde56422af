"""Round-13 optimization internals: fused media kernels, bigram
carry columns, posting-list winnow pairs, memoized k-means codebooks.

Each test pins the EQUIVALENCE the optimization claims (same rows as
the unfused/unmemoized form) plus the structural property that makes
it an optimization (one Python eval node, no join, one build)."""

import pyspark.sql.functions as F
import pytest


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


DOCS = [
    (0, "en", "the quick brown fox jumps over the lazy dog"),
    (1, "en", "the quick brown fox naps under the old tree"),
    (2, "de", "der schnelle braune fuchs springt"),
    (3, "de", ""),
    (4, "en", "one"),
]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---- fused media encode>>decode ----

def test_fused_media_stats_equal_chained(spark):
    import spark_eventhubs_spark.operators.multimodal as M

    df = _docs(spark, DOCS)
    assert _rows(M.bmp_image_stats(df)) == _rows(
        M.image_stats(M.as_bmp_column(df))
    )
    assert _rows(M.wav_audio_features(df)) == _rows(
        M.audio_features(M.as_wav_column(df))
    )
    assert _rows(M.avi_video_stats(df)) == _rows(
        M.video_stats(M.as_avi_column(df))
    )


def test_fused_media_stats_single_python_eval(spark):
    import spark_eventhubs_spark.operators.multimodal as M

    df = _docs(spark, DOCS)
    for fused in (M.bmp_image_stats, M.wav_audio_features, M.avi_video_stats):
        plan = fused(df)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1, fused.__name__


# ---- bigram LM carry columns ----

def test_bigram_lm_carry_cols_match_join_back(spark):
    from spark_eventhubs_spark.operators.text import bigram_lm_scores

    df = _docs(spark, DOCS)
    carried = bigram_lm_scores(df, carry_cols=("lang",))
    joined = bigram_lm_scores(df).join(df.select("doc_id", "lang"), "doc_id")
    assert sorted(
        (r["doc_id"], r["lang"], r["n_bigrams"], r["nll_e3"])
        for r in carried.collect()
    ) == sorted(
        (r["doc_id"], r["lang"], r["n_bigrams"], r["nll_e3"])
        for r in joined.collect()
    )
    # the fused form must not rescan documents for the carry column
    plan = carried._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


# ---- posting-list winnow overlap ----

def test_winnow_overlap_matches_self_join_form(spark):
    from spark_eventhubs_spark.operators.text import winnowing_fingerprints

    # two docs sharing a long identical run (>= 3 winnow windows at
    # k=3/w=4 needs a run much longer than k+w-1), one unrelated,
    # one empty
    shared = " ".join(f"tok{i % 11}x{i % 7}" for i in range(60))
    df = _docs(
        spark,
        [
            (0, "en", shared + " alpha beta gamma"),
            (1, "en", "prefix words here " + shared),
            (2, "en", "completely unrelated text about other things entirely"),
            (3, "en", ""),
        ],
    ).select("doc_id", "text")
    fps = winnowing_fingerprints(df)
    a, b = fps.alias("a"), fps.alias("b")
    expected = _rows(
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("shared_fps"))
        .where(F.col("shared_fps") >= 3)
    )
    # every fp here is held by <= 2 docs, far under the 64 cap, so the
    # entry's posting-list plan must reproduce the plain self-join
    import spark_eventhubs_spark.queries as Q
    from pyspark.sql import Window

    posting = (
        fps.select(
            "doc_id", "fp", F.count("*").over(Window.partitionBy("fp")).alias("n")
        )
        .where(F.col("n") <= 64)
        .groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
    )
    pairs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + F.lit(2), F.size(F.col("ds"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    got = _rows(
        posting.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("shared_fps"))
        .where(F.col("shared_fps") >= 3)
    )
    assert got == expected
    assert expected, "fixture must produce at least one overlapping pair"


# ---- memoized k-means codebook ----

def test_kmeans_centroids_memoized_per_session(spark):
    from spark_eventhubs_spark.operators.clustering import kmeans_centroids
    from spark_eventhubs_spark.plans.hubview import (
        artifact_build_count,
        clear_cached_plans,
    )

    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(4)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    clear_cached_plans(spark)
    n0 = artifact_build_count()
    c1 = kmeans_centroids(vecs, k=4, iters=2)
    n1 = artifact_build_count()
    c2 = kmeans_centroids(vecs, k=4, iters=2)
    n2 = artifact_build_count()
    assert c1 == c2
    assert n1 - n0 == 1, "first call must register one artifact build"
    assert n2 == n1, "second call must be a memo hit"
    # a different k is a different model: must rebuild
    kmeans_centroids(vecs, k=5, iters=2)
    assert artifact_build_count() == n2 + 1

# ---- memoized IVF/PQ model artifacts ----

def test_pq_codebooks_memoized_per_session(spark):
    from spark_eventhubs_spark.operators.similarity import pq_train
    from spark_eventhubs_spark.plans.hubview import (
        artifact_build_count,
        clear_cached_plans,
    )

    vecs = spark.createDataFrame(
        [(i, [float((i * 3 + j) % 7) for j in range(8)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    clear_cached_plans(spark)
    n0 = artifact_build_count()
    c1 = pq_train(vecs, m=2, n_centroids=4, iters=1, dim=8)
    n1 = artifact_build_count()
    c2 = pq_train(vecs, m=2, n_centroids=4, iters=1, dim=8)
    n2 = artifact_build_count()
    assert c1 == c2
    assert n1 - n0 == 1, "first call must register one artifact build"
    assert n2 == n1, "second call must be a memo hit"
    # a different subspace count is a different model: must rebuild
    pq_train(vecs, m=4, n_centroids=4, iters=1, dim=8)
    assert artifact_build_count() == n2 + 1

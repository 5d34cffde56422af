"""Contracts for the operators that are approximate by construction
(no SQL oracle): ANN recall vs the brute-force baseline, and the
relative-error bound of approx_count_distinct."""

from pyspark.sql import functions as F

from spark_eventhubs_spark.operators import similarity as S
from spark_eventhubs_spark.plans.hubview import load_hub_flat

from conftest import SF_DIR


def _embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_ivf_ann_recall_vs_brute_force(spark):
    emb = _embeddings(spark)
    exact = {r["vec_id"] for r in S.brute_force_topk(emb, 0, 10).collect()}
    approx = {r["vec_id"] for r in S.ivf_ann_topk(emb, 0, 10).collect()}
    # n_probe=4 of 16 cells: expect most of the true top-10 recovered
    assert len(approx) == 10
    assert len(exact & approx) >= 5


def test_lsh_ann_returns_subset_of_bucket_scored(spark):
    emb = _embeddings(spark)
    got = S.lsh_ann_topk(emb, 0, 10).collect()
    # every returned score must equal the brute-force score for that id
    exact = {
        r["vec_id"]: r["score_e6"]
        for r in S.brute_force_topk(emb, 0, k=emb.count()).collect()
    }
    for r in got:
        assert exact[r["vec_id"]] == r["score_e6"]


def test_pairwise_neardup_symmetric_ids(spark):
    emb = _embeddings(spark)
    pairs = S.pairwise_above_threshold(emb, threshold_e6=250_000).collect()
    assert all(r["vec_a"] < r["vec_b"] for r in pairs)


def test_pairwise_auto_planes_matches_oracle_width_at_check_scales():
    """The auto-derived signature width must be EXACTLY 8 (the SQL
    oracle's pinned width) at every corpus size the driver's
    correctness gate runs — 500 vectors at sf0.001/sf0.01, 2000 at
    sf0.1 — and grow for larger corpora so the O(load^2) within-bucket
    screen stays bounded (fixed 8 planes measured 136x wall at 100x
    data, round 8)."""
    assert S.auto_n_planes(500) == 8
    assert S.auto_n_planes(2000) == 8
    assert S.auto_n_planes(0) == 8
    # growth: expected load n / 2^planes stays <= the target
    for n in (20_000, 200_000, 10_000_000):
        p = S.auto_n_planes(n)
        assert n / (1 << p) <= S.PAIRWISE_TARGET_BUCKET
        assert p >= 8


def test_pairwise_auto_equals_pinned_eight_at_oracle_scale(spark):
    """At the oracle-checked corpus size the auto path must emit
    byte-identical pairs to the pinned n_planes=8 the SQL oracle
    hardcodes."""
    emb = _embeddings(spark)
    auto = sorted(
        (r["vec_a"], r["vec_b"], r["score_e6"])
        for r in S.pairwise_above_threshold(emb, threshold_e6=250_000).collect()
    )
    pinned = sorted(
        (r["vec_a"], r["vec_b"], r["score_e6"])
        for r in S.pairwise_above_threshold(
            emb, threshold_e6=250_000, n_planes=8
        ).collect()
    )
    assert auto == pinned and auto


def test_approx_count_distinct_error(spark):
    hub = load_hub_flat(spark, SF_DIR)
    exact = {
        r["event_type"]: r["n"]
        for r in hub.groupBy("event_type")
        .agg(F.countDistinct("user_id_str").alias("n"))
        .collect()
    }
    approx = {
        r["event_type"]: r["approx_users"]
        for r in hub.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id_str", 0.01).alias("approx_users"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(3, 0.05 * n)


def test_approx_percentiles_close_to_exact(spark):
    """p2 emits its contract directly: every approximate percentile must
    sit inside the exact envelope at rank q +/- 0.005 (GK guarantees
    1e-4 rank error at accuracy=10000, so these are all TRUE unless the
    sketch breaks)."""
    from spark_eventhubs_spark import queries as Q

    rows = Q.queries()["p2_approx_percentiles"](spark, SF_DIR).collect()
    assert len(rows) == 5  # one per o_orderpriority
    for r in rows:
        assert r["p50_ok"] and r["p90_ok"] and r["p99_ok"], r


def test_knn_join_partial_equals_window(spark):
    """The scale path (per-partition partial top-k + merge) must return
    exactly the window formulation's results."""
    from spark_eventhubs_spark.operators.similarity import knn_join

    emb = _embeddings(spark)
    win = {(r["qid"], r["vec_id"], r["score_e6"])
           for r in knn_join(emb, method="window").collect()}
    par = {(r["qid"], r["vec_id"], r["score_e6"])
           for r in knn_join(emb, method="partial").collect()}
    assert win == par and len(win) > 0


def test_ivf_refined_recall_not_worse(spark):
    """One Lloyd iteration must not hurt recall vs the seeded codebook
    (and usually helps): both compared against brute force."""
    emb = _embeddings(spark)
    exact = {r["vec_id"] for r in S.brute_force_topk(emb, 0, 10).collect()}
    seeded = {r["vec_id"] for r in S.ivf_ann_topk(emb, 0, 10).collect()}
    refined = {r["vec_id"] for r in S.ivf_ann_topk_refined(emb, 0, 10).collect()}
    assert len(refined & exact) >= len(seeded & exact) - 2  # no collapse
    assert len(refined) == 10


def test_ivf_index_partition_pruning_and_parity(spark, tmp_path):
    """ivf_build_index writes the corpus partitioned by cell_id;
    ivf_query_indexed must (a) return bit-identical top-k to the
    scan-time ivf_ann_topk, and (b) physically read ONLY the probe
    cells (partition pruning — the 100 TB serving property)."""
    from spark_eventhubs_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    cents = S.ivf_build_index(emb, idx, n_cells=8)
    assert len(cents) == 8

    qvec = [float(x) for x in emb.where("vec_id = 0").collect()[0]["embedding"]]
    got = S.ivf_query_indexed(
        spark, idx, qvec, k=10, n_probe=2, exclude_id=0
    )
    want = S.ivf_ann_topk(emb, query_vec_id=0, k=10, n_cells=8, n_probe=2)
    key = lambda r: (r["vec_id"], r["score_e6"])
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))

    # pruning: the scan plan must carry a partition filter on cell_id
    # (inputFiles() lists the relation's files pre-filter, so inspect
    # the physical plan, and check the actually-read rows span <= 2
    # cells)
    import io
    import re
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell_id" in m.group(1), plan
    # semantic check: every returned neighbor lives in a probe cell
    probe = {r["cell_id"] for r in
             spark.read.parquet(f"{idx}/vectors")
             .join(got.select("vec_id"), "vec_id", "semi")
             .select("cell_id").distinct().collect()}
    assert 0 < len(probe) <= 2


def test_ivf_append_matches_full_rebuild(spark, tmp_path):
    """Building an index from half the corpus then appending the rest
    must equal building from everything at once (same saved codebook
    => same assignments => same pruned query results)."""
    from pyspark.sql import functions as F

    from spark_eventhubs_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    full_idx = str(tmp_path / "full")
    inc_idx = str(tmp_path / "inc")
    S.ivf_build_index(emb, full_idx, n_cells=8)
    # incremental: half1 must contain ALL seed vectors (vec_id < 8) so
    # both builds derive the identical codebook; half2 is the backfill
    half1 = emb.where(F.col("vec_id") < 250)
    half2 = emb.where(F.col("vec_id") >= 250)
    S.ivf_build_index(half1, inc_idx, n_cells=8)
    S.ivf_append_index(half2, inc_idx)
    cb_full = sorted(map(tuple, spark.read.parquet(f"{full_idx}/codebook").collect()))
    cb_inc = sorted(map(tuple, spark.read.parquet(f"{inc_idx}/codebook").collect()))
    assert cb_full == cb_inc

    qvec = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    key = lambda r: (r["vec_id"], r["score_e6"])
    got = sorted(map(key, S.ivf_query_indexed(
        spark, inc_idx, qvec, k=10, n_probe=3, exclude_id=0).collect()))
    want = sorted(map(key, S.ivf_query_indexed(
        spark, full_idx, qvec, k=10, n_probe=3, exclude_id=0).collect()))
    assert got == want


def test_pq_rerank_recall_and_score_parity(spark):
    """The PQ shortlist + exact re-rank must (a) recover most of the
    true top-10, (b) report scores identical to brute force for every
    id it returns (re-rank is exact), and (c) train deterministic
    codebooks (same data -> same codebooks)."""
    emb = _embeddings(spark)
    exact = {
        r["vec_id"]: r["score_e6"]
        for r in S.brute_force_topk(emb, 0, k=emb.count()).collect()
    }
    got = S.pq_topk_rerank(emb, 0, 10).collect()
    assert len(got) == 10
    for r in got:
        assert exact[r["vec_id"]] == r["score_e6"]
    top10 = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert len({v for v, _ in top10} & {r["vec_id"] for r in got}) >= 6

    cb1 = S.pq_train(emb)
    cb2 = S.pq_train(emb)
    assert cb1 == cb2


def test_count_cached_sees_appended_files(spark, tmp_path):
    """ADVICE r9: the count memo must key on the underlying FILE SET,
    not just the analyzed-plan string — appending to a parquet path
    and re-reading it in the same session must return the fresh count
    (auto_n_planes / auto-k would otherwise silently diverge from the
    oracle's fresh COUNT(*))."""
    from spark_eventhubs_spark.operators import dedup as D

    p = str(tmp_path / "grow")
    spark.range(10).write.parquet(p)
    assert D._count_cached(spark.read.parquet(p)) == 10
    spark.range(7).write.mode("append").parquet(p)
    assert D._count_cached(spark.read.parquet(p)) == 17
    spark.range(3).write.mode("overwrite").parquet(p)
    assert D._count_cached(spark.read.parquet(p)) == 3

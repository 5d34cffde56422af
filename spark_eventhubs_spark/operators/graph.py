"""Graph analytics over the TPC-H-ish tables: co-purchase PageRank.

The missing family next to near-dup connected components
(`dedup.near_dup_components`): iterative message passing over an
edge list — the shape of PageRank, label propagation, and influence
scoring on Spark. The graph is parts co-purchased within an order
(distinct bidirectional pairs from the lineitem self-join on
orderkey — bounded expansion, every order holds <= 7 items).

Exactness across engines (the same design as integer-sum k-means):
every quantity in the iteration is an INTEGER —

- ranks are scaled to ``SCALE`` (1e12) integer units;
- each edge's contribution is ``(85 * r_src) div (100 * deg_src)``
  (integer division — the damping multiply and the degree divide in
  one exact step);
- the gather is an integer SUM, which commutes, so partition order
  can never change a rank;
- the teleport term is ``(15 * SCALE) div (100 * N)``.

Integer flooring biases each rank down by at most deg ulps per
iteration vs real-valued PageRank — irrelevant for ranking, decisive
for cross-engine hash equality.

Scale: the ``(src, dst, deg)`` artifact shuffles once on orderkey to
build (degree is joined in AT INGEST, so iterations carry no degree
join); each iteration is one join of the artifact with the |nodes|-row
ranks frame on ``src`` plus one integer-sum gather on ``dst`` — no
stage ever exceeds |edges| rows. At 100 TB the artifact is
materialized bucketed by ``src``
(``bucketing.ensure_copurchase_edges``), which removes the edge-side
Exchange from every iteration: only the small ranks frame shuffles.
The ingest and steady-state medians per scale are recorded separately
in STEPUP_r09.json (``graph_pagerank_ingest``/``_iterate``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_SCALE = 1_000_000_000_000  # rank fixed-point units
PR_ITERS = 3
PR_TOP = 20


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct bidirectional (src, dst) part pairs co-occurring in an
    order, via per-order part ARRAYS: one ``collect_set`` aggregation
    on orderkey (map-side partials, <= 7 parts per order so a set row
    is tiny) and a double explode minus the diagonal — pair expansion
    is purely local. This replaces the previous
    distinct-then-self-join, which cost two extra lineitem-scale
    shuffles ((orderkey, part) dedup + the join exchange on orderkey);
    the only wide stages left in ingest are this one orderkey
    aggregation and the final (src, dst) distinct (the 30x ingest
    medians live in STEPUP_r08.json's ``graph_pagerank_ingest``)."""
    per_order = lineitem.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.collect_set("l_partkey").alias("parts")
    )
    return (
        per_order.select(F.explode("parts").alias("src"), "parts")
        .select("src", F.explode("parts").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def copurchase_edge_artifact(lineitem: DataFrame) -> DataFrame:
    """The iteration-invariant edge frame ``(src, dst, deg)`` — deg is
    the out-degree of src, joined in ONCE here so no per-iteration
    degree join exists at all. This is THE ingest artifact of the
    family: a pure function of the corpus that a 100 TB deployment
    materializes bucketed by ``src`` at ingest
    (:func:`spark_eventhubs_spark.bucketing.ensure_copurchase_edges`),
    leaving each iteration exactly one co-located join + one gather
    aggregation."""
    edges = copurchase_edges(lineitem)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return edges.join(deg, "src").select("src", "dst", "deg")


def pagerank(
    lineitem: DataFrame | None = None,
    iters: int = PR_ITERS,
    top: int = PR_TOP,
    scale: int = PR_SCALE,
    edges: DataFrame | None = None,
) -> DataFrame:
    """Integer-exact PageRank over the co-purchase graph; returns the
    ``top`` parts by final rank (ties to the smaller partkey).

    ``edges``: a pre-materialized ``(src, dst, deg)`` artifact (see
    :func:`copurchase_edge_artifact`); when given, ``lineitem`` is
    unused and the call measures STEADY-STATE iteration cost only —
    the shape a deployment with an ingest-time edge table runs. When
    absent, the artifact is built from ``lineitem`` and
    checkpoint-cached per session."""
    from spark_eventhubs_spark.operators.dedup import _checkpoint_cached

    if edges is None:
        if lineitem is None:
            raise ValueError("pagerank needs lineitem or edges")
        # The edge list is an ingest artifact (a pure function of the
        # corpus): without materialization the lazy plan re-runs the
        # orderkey self-join + distinct once for nodes and once PER
        # ITERATION (~5x the work). Cached per session like the
        # MinHash signature store; a 100 TB deployment materializes
        # and buckets this frame at ingest (bucketing module).
        edges = _checkpoint_cached(
            copurchase_edge_artifact(lineitem), lineitem,
            "graph_edges_deg", ()
        )
    # |parts|-row frame, materialized once: it seeds r0 and anchors the
    # per-iteration left join (dangling-node teleport), so re-deriving
    # it from edges every iteration would add a distinct per round.
    nodes = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()  # bounded driver scalar (|parts|)
    r0 = scale // n_nodes
    base = (15 * scale) // (100 * n_nodes)
    ranks = nodes.select("node", F.lit(r0).cast("long").alias("rank"))
    for it in range(iters):
        contrib = (
            edges.join(
                ranks.withColumnRenamed("node", "src").withColumnRenamed(
                    "rank", "r_src"
                ),
                "src",
            )
            .select(
                F.col("dst").alias("node"),
                F.expr("(85 * r_src) div (100 * deg)").alias("c"),
            )
        )
        gathered = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        # Lineage truncation every 4th round (the near_dup_components
        # pattern): without any truncation each iteration's plan
        # embeds all prior iterations, so analysis cost and lineage
        # depth grow with ``iters``. But an EAGER checkpoint per round
        # is a driver barrier + |nodes|-row materialization whose
        # scheduling cost exceeds the iteration compute at default
        # iters=3 (r13 A/B: 2.12 s -> 1.81 s median, hash-identical) —
        # so short chains stay one lazy plan and long runs still
        # truncate before analysis cost compounds.
        ranks = (
            nodes.select("node")
            .join(gathered, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce(F.col("s"), F.lit(0)))
                .cast("long")
                .alias("rank"),
            )
        )
        if it % 4 == 3:
            ranks = ranks.localCheckpoint(eager=True)
    return (
        ranks.orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(top)
        .select(F.col("node").alias("partkey"), F.col("rank"))
    )


def oracle_pagerank(
    iters: int = PR_ITERS, top: int = PR_TOP, scale: int = PR_SCALE
) -> str:
    parts = [f"""e0 AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
), edges AS (
  SELECT DISTINCT a.p AS src, b.p AS dst
  FROM e0 a JOIN e0 b ON a.ok = b.ok AND a.p <> b.p
), deg AS (
  SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1
), nn AS (SELECT COUNT(*) AS n FROM deg
), r0 AS (
  SELECT d.src AS node, CAST({scale} // nn.n AS BIGINT) AS rank
  FROM deg d, nn
)"""]
    prev = "r0"
    for it in range(1, iters + 1):
        parts.append(f"""g{it} AS (
  SELECT e.dst AS node, CAST(SUM((85 * r.rank) // (100 * d.deg)) AS BIGINT) AS s
  FROM edges e JOIN {prev} r ON r.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY 1
), r{it} AS (
  SELECT n.node,
    CAST((15 * {scale}) // (100 * nn.n) + COALESCE(g.s, 0) AS BIGINT) AS rank
  FROM (SELECT src AS node FROM deg) n
  LEFT JOIN g{it} g ON g.node = n.node, nn
)""")
        prev = f"r{it}"
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT node AS partkey, rank FROM {prev}
ORDER BY rank DESC, node ASC LIMIT {top}"""
    )

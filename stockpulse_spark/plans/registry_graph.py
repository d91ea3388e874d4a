"""Graph analytics over the copurchase graph: damped PageRank with
two in-plan iterations.

The iterative-join pattern at scale: the edge table shuffles on dst
once per iteration (partial-agg map-side), the rank vector stays
nodes-sized, nothing is collected to the driver — the same unrolled-
iteration recipe kmeans_lloyd_2iter and embedding_power_iteration
pinned. All rank mass is integer units of 1e-12 (the cohort_ltv
integer-cents recipe), so both engines run bit-identical fixed-point
arithmetic: no float-summation order sensitivity can flip the top-k.

Reference analog: the reference has no graph operators; this extends
the analytics surface along SURVEY §2's extension axis (dashboard
affinity tiles -> link analysis over the same basket pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stockpulse_spark.plans.registry import _register, _t

_UNIT = 1_000_000_000_000  # rank mass scale: 1.0 == 1e12 units
_TELEPORT = 150_000_000_000  # 0.15 * _UNIT


def _fits_broadcast(spark: SparkSession, est_bytes: float) -> bool:
    """Whether a footer-estimated build side fits the session's
    autoBroadcastJoinThreshold; a threshold <= 0 (broadcast disabled)
    or a missing estimate takes the shuffled branch."""
    conf = spark._jsparkSession.sessionState().conf()
    return 0 < est_bytes <= conf.autoBroadcastJoinThreshold()


@_register(
    "copurchase_pagerank",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), edges AS (
      SELECT p1 AS src, p2 AS dst FROM pairs
      UNION ALL
      SELECT p2, p1 FROM pairs
    ), deg AS (
      SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src
    ), n AS (
      SELECT COUNT(*) AS nn FROM deg
    ), pr0 AS (
      SELECT node, outdeg, {_UNIT} // nn AS pr_units FROM deg, n
    ), it1 AS (
      SELECT d.node, d.outdeg,
             CAST({_TELEPORT} // n.nn
                  + (85 * SUM(p.pr_units // p.outdeg)) // 100
                  AS BIGINT) AS pr_units
      FROM edges e
      JOIN pr0 p ON e.src = p.node
      JOIN deg d ON e.dst = d.node, n
      GROUP BY d.node, d.outdeg, n.nn
    ), it2 AS (
      SELECT d.node, d.outdeg,
             CAST({_TELEPORT} // n.nn
                  + (85 * SUM(p.pr_units // p.outdeg)) // 100
                  AS BIGINT) AS pr_units
      FROM edges e
      JOIN it1 p ON e.src = p.node
      JOIN deg d ON e.dst = d.node, n
      GROUP BY d.node, d.outdeg, n.nn
    )
    SELECT node,
           ROUND(CAST(pr_units AS DOUBLE) / {_UNIT}, 12) AS pagerank
    FROM it2
    ORDER BY pr_units DESC, node
    LIMIT 20
    """,
    tags=("graph", "iterative", "join"),
    doc="damped PageRank (d=0.85, 2 unrolled iterations) over the "
    "undirected copurchase graph: nodes = parts co-ordered at least "
    "once, edges = distinct within-order pairs (in-row expansion over "
    "collected baskets, never a self-join). Rank mass is integer "
    "units of 1e-12 with floor division throughout, so Spark and the "
    "oracle agree bit-exactly regardless of summation order; the "
    "top-20 selection orders by the integer units. Per iteration: "
    "one shuffle on dst with map-side partial sum; the rank vector "
    "is nodes-sized and never collected.",
)
def q_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # hash-repartition by the grouping key BEFORE the groupBy
    # (optimization r11): lineitem is one parquet split, so the
    # collect_set partial aggregation otherwise runs in a single task;
    # pre-partitioning on l_orderkey satisfies the aggregation's
    # required distribution, so no second exchange is added
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .repartition(
            spark.sparkContext.defaultParallelism, "l_orderkey"
        )
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS p1, y AS p2))))"
                )
            ).alias("q")
        )
        .select(F.col("q.p1").alias("p1"), F.col("q.p2").alias("p2"))
        .distinct()
    )
    # materialize the edge list once (non-eager local checkpoint — the
    # production shape writes edges to a table before iterating);
    # without it every iteration re-derives the basket->pairs pipeline
    edges = (
        pairs.select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
        .unionAll(
            pairs.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
        )
        .localCheckpoint(eager=False)
    )
    # pin the degree table once per invocation (optimization r12, the
    # triangles multi-branch class): it feeds the seed vector and BOTH
    # unrolled steps — unpinned, each use re-aggregated the edge RDD.
    # The rank/degree vectors are |nodes|-sized (bounded by the part
    # catalog); broadcast them into the per-step joins when the
    # parquet-footer cardinality says they fit the session's broadcast
    # threshold (checkpointed RDDs carry no stats, so AQE cannot make
    # this call itself) — interleaved A/B at sf0.1: 2.37 -> 1.84 s.
    # Above the threshold the joins stay shuffled, the 100 TB shape.
    from stockpulse_spark.sources.tables import footer_row_count

    n_parts = footer_row_count(sf_dir, "part") or footer_row_count(
        sf_dir, "lineitem"
    ) or 0
    small_nodes = _fits_broadcast(spark, n_parts * 48)
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint(eager=False)
    )
    n = deg.agg(F.count(F.lit(1)).alias("nn"))
    pr = (
        deg.join(F.broadcast(n))
        .select(
            F.col("src").alias("node"),
            "outdeg",
            F.expr(f"CAST({_UNIT} AS BIGINT) DIV nn").alias("pr_units"),
        )
    )

    def step(p: DataFrame) -> DataFrame:
        if small_nodes:
            p = F.broadcast(p)
        inflow = (
            edges.join(p, edges["src"] == p["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr("pr_units DIV outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        dj = F.broadcast(deg) if small_nodes else deg
        return (
            inflow.join(F.broadcast(n))
            .join(dj, inflow["node"] == F.col("src"))
            .select(
                "node",
                "outdeg",
                (
                    F.expr(f"CAST({_TELEPORT} AS BIGINT) DIV nn")
                    + F.expr("(85 * inflow) DIV 100")
                ).alias("pr_units"),
            )
        )

    it2 = step(step(pr))
    return (
        it2.orderBy(F.desc("pr_units"), "node")
        .limit(20)
        .select(
            "node",
            F.round(F.col("pr_units").cast("double") / F.lit(_UNIT), 12).alias(
                "pagerank"
            ),
        )
    )


@_register(
    "copurchase_triangles",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), tri AS (
      SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
      FROM pairs e1
      JOIN pairs e2 ON e1.p2 = e2.p1
      JOIN pairs e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    ), node_tri AS (
      SELECT node, COUNT(*) AS triangles FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    ), deg AS (
      SELECT node, COUNT(*) AS degree FROM (
        SELECT p1 AS node FROM pairs
        UNION ALL SELECT p2 FROM pairs
      ) GROUP BY node
    )
    SELECT d.node, d.degree,
           COALESCE(t.triangles, 0) AS triangles,
           ROUND(CASE WHEN d.degree >= 2
                 THEN 2.0 * COALESCE(t.triangles, 0)
                      / (d.degree * (d.degree - 1))
                 ELSE 0.0 END, 6) AS clustering_coef
    FROM deg d LEFT JOIN node_tri t USING (node)
    ORDER BY triangles DESC, node
    LIMIT 20
    """,
    tags=("graph", "join"),
    doc="Triangle counting + local clustering coefficient over the "
    "undirected copurchase graph (same node/edge derivation as "
    "`copurchase_pagerank`: in-row basket pair expansion, never a "
    "basket self-join). Enumeration uses the ordered orientation "
    "a<b<c, so each triangle is emitted exactly ONCE by two equi-"
    "joins on the canonical (low->high) edge list — the compact "
    "form of the classic MapReduce triangle algorithm; hub-node "
    "fanout in the e1.p2=e2.p1 join is the known skew point and is "
    "AQE-skew-split at scale (a degree-threshold split of the edge "
    "list is the documented 100 TB refinement). Clustering "
    "coefficient = 2*tri/(deg*(deg-1)) flags tightly-bundled "
    "product groups; integer counts make cross-engine ordering "
    "exact.",
)
def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # hash-repartition by the grouping key BEFORE the groupBy
    # (optimization r11, same as the pagerank twin): lineitem is one
    # parquet split, so the collect_set partial aggregation otherwise
    # runs in a single task; pre-partitioning on l_orderkey satisfies
    # the aggregation's required distribution (no second exchange).
    # Interleaved A/B at sf0.1: equal-or-faster on every round.
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .repartition(
            spark.sparkContext.defaultParallelism, "l_orderkey"
        )
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS p1, y AS p2))))"
                )
            ).alias("q")
        )
        .select(F.col("q.p1").alias("p1"), F.col("q.p2").alias("p2"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # pin the degree table once per invocation (optimization r12): it
    # feeds the two orientation broadcasts AND the final join spine —
    # unpinned, each BroadcastExchange subtree re-ran the union +
    # degree aggregation over the pair set (the before-plan shows the
    # deg HashAggregate SEVEN times)
    deg = (
        pairs.select(F.col("p1").alias("node"))
        .unionAll(pairs.select(F.col("p2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint(eager=False)
    )
    # Degree-ordered orientation (optimization r11, guide §3 exploding
    # joins): the id-ordered wedge join enumerated Σ_b in·out wedges —
    # 49.3M intermediate rows for 1.2M edges / 1.9M triangles at sf0.1,
    # 26x the output. Orienting every edge from its lower-(degree, id)
    # endpoint and generating wedges only at the low vertex (the
    # Chiba–Nishizeki / compact-forward bound: out-degree ≤ O(√m))
    # emits each triangle exactly once — for {x,y,z} ranked x<y<z the
    # single qualifying wedge is (y,z) at x, closed by oriented edge
    # y→z — with ~6x fewer intermediate rows. Same triangle multiset,
    # same per-node counts; the degree join is a broadcast (nodes are
    # metadata-sized next to edges).
    dd = deg.select("node", F.col("degree").alias("d"))
    ed = pairs.join(
        F.broadcast(dd.select(F.col("node").alias("p1"), F.col("d").alias("d1"))),
        "p1",
    ).join(
        F.broadcast(dd.select(F.col("node").alias("p2"), F.col("d").alias("d2"))),
        "p2",
    )
    fwd = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("p1") < F.col("p2"))
    )
    # pin the oriented edge list once per invocation (optimization
    # r12): it feeds THREE plan branches — both wedge sides and the
    # closing join — and each broadcast side otherwise re-ran the
    # whole pairs ⋈ deg ⋈ deg orientation. A checkpointed RDD has no
    # size statistics, so the join strategy is chosen here from
    # parquet FOOTER cardinality (the planner-stat doctrine the LSH
    # width ladder and the SRP plane count already use): the edge list
    # measures ~2 rows per lineitem row at every tier, ~24 B per hash-
    # relation entry — broadcast the closing/wedge sides only when
    # that estimate fits the session's auto-broadcast threshold (the
    # 64m default holds it through the 10x tier); above it, or with
    # broadcast disabled, fall back to a shuffled-hash join (guide
    # §3.1 — the wedge stream is the big probe side, never the build
    # side), which is the 100 TB-safe shape an |E|-sized frame requires.
    from stockpulse_spark.sources.tables import footer_row_count

    est_edge_bytes = (footer_row_count(sf_dir, "lineitem") or 0) * 2 * 24
    small_edges = _fits_broadcast(spark, est_edge_bytes)
    oriented = ed.select(
        F.when(fwd, F.col("p1")).otherwise(F.col("p2")).alias("src"),
        F.when(fwd, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
        F.when(fwd, F.col("d2")).otherwise(F.col("d1")).alias("ddst"),
    ).localCheckpoint(eager=False)
    o1 = oriented.select("src", F.col("dst").alias("u"), F.col("ddst").alias("du"))
    o2 = oriented.select("src", F.col("dst").alias("w"), F.col("ddst").alias("dw"))
    closing = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    if small_edges:
        o2 = F.broadcast(o2)
        closing = F.broadcast(closing)
    else:
        o2 = o2.hint("shuffle_hash")
        closing = closing.hint("shuffle_hash")
    wedges = o1.join(o2, "src").filter(
        (F.col("du") < F.col("dw"))
        | ((F.col("du") == F.col("dw")) & (F.col("u") < F.col("w")))
    )
    tri = wedges.join(closing, ["u", "w"])
    node_tri = (
        tri.select(F.explode(F.array("src", "u", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = deg.join(node_tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce("triangles", F.lit(0)).alias("triangles"),
        F.round(
            F.when(
                F.col("degree") >= 2,
                2.0
                * F.coalesce("triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
            ).otherwise(0.0)
            * 1e6
        ).alias("cc_scaled"),
    )
    return (
        out.select(
            "node",
            "degree",
            "triangles",
            (F.col("cc_scaled") / 1e6).alias("clustering_coef"),
        )
        .orderBy(F.desc("triangles"), "node")
        .limit(20)
    )

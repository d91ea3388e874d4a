"""Graph and recommendation queries over the co-purchase graph built
from `lineitem`: PageRank, triangle counting, co-purchase pairs and
basket lift, user-user collaborative filtering and the popularity
recommender evaluation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stockpulse_spark.plans.registry import _r6, _register, _t


@_register(
    "copurchase_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_partkey AS part_1, b.l_partkey AS part_2
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey
       AND a.l_partkey < b.l_partkey
    )
    SELECT part_1, part_2, COUNT(*) AS n_orders
    FROM pairs GROUP BY part_1, part_2
    HAVING COUNT(*) >= 2
    ORDER BY n_orders DESC, part_1, part_2
    LIMIT 20
    """,
    tags=("analytics", "join"),
    doc="Market-basket co-occurrence: part pairs appearing in the "
    "same order at least twice, top 20 with full tie-break. The "
    "self-join is WITHIN the order key (equi-join on l_orderkey + "
    "triangular inequality), so fanout is bounded by per-order "
    "basket size squared — never a global cross join; the DISTINCT "
    "pre-shrink drops duplicate part lines before pairing. At 100 TB "
    "add a per-order basket cap (baskets beyond ~1k items are "
    "boilerplate carts) exactly like the LSH bucket cap.",
)
def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part_1")
    )
    b = items.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part_2")
    )
    pairs = a.join(b, "okey").filter(F.col("part_1") < F.col("part_2"))
    return (
        pairs.groupBy("part_1", "part_2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .orderBy(F.col("n_orders").desc(), "part_1", "part_2")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Graph analytics over the copurchase graph: damped PageRank with
# two in-plan iterations.
#
# The iterative-join pattern at scale: the edge table shuffles on dst
# once per iteration (partial-agg map-side), the rank vector stays
# nodes-sized, nothing is collected to the driver — the same unrolled-
# iteration recipe kmeans_lloyd_2iter and embedding_power_iteration
# pinned. All rank mass is integer units of 1e-12 (the cohort_ltv
# integer-cents recipe), so both engines run bit-identical fixed-point
# arithmetic: no float-summation order sensitivity can flip the top-k.
#
# Reference analog: the reference has no graph operators; this extends
# the analytics surface along SURVEY §2's extension axis (dashboard
# affinity tiles -> link analysis over the same basket pairs).


_UNIT = 1_000_000_000_000  # rank mass scale: 1.0 == 1e12 units
_TELEPORT = 150_000_000_000  # 0.15 * _UNIT


def _fits_broadcast(spark: SparkSession, rows: int | None, row_bytes: int) -> bool:
    """Whether a build side of `rows` footer-counted rows fits the
    session's autoBroadcastJoinThreshold. A missing row count (footers
    unreadable: an object-store path, an empty dir) or a threshold <= 0
    (broadcast disabled) takes the shuffled branch."""
    if rows is None:
        return False
    conf = spark._jsparkSession.sessionState().conf()
    return 0 < rows * row_bytes <= conf.autoBroadcastJoinThreshold()


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
    # Above the threshold, or with no footer estimate, the joins are
    # pinned shuffled (the checkpoint keeps its origin's size stats, so
    # an unhinted join could still auto-broadcast), the 100 TB shape.
    from stockpulse_spark.sources.tables import footer_row_count

    n_parts = footer_row_count(sf_dir, "part") or footer_row_count(
        sf_dir, "lineitem"
    )
    small_nodes = _fits_broadcast(spark, n_parts, 48)
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
        p = F.broadcast(p) if small_nodes else p.hint("shuffle_hash")
        inflow = (
            edges.join(p, edges["src"] == p["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr("pr_units DIV outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        dj = F.broadcast(deg) if small_nodes else deg.hint("shuffle_hash")
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

    small_edges = _fits_broadcast(spark, footer_row_count(sf_dir, "lineitem"), 2 * 24)
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


@_register(
    "basket_affinity_lift",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n_orders AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n FROM baskets
    ), item AS (
      SELECT l_partkey, COUNT(*) AS item_cnt FROM baskets GROUP BY l_partkey
    ), pair AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS pair_cnt
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 3
    )
    SELECT p.p1, p.p2, p.pair_cnt,
           ROUND(CAST(p.pair_cnt AS DOUBLE) / i1.item_cnt, 6) AS confidence,
           ROUND(CAST(p.pair_cnt AS DOUBLE) * n.n
                 / (i1.item_cnt * CAST(i2.item_cnt AS DOUBLE)), 6) AS lift
    FROM pair p
    JOIN item i1 ON p.p1 = i1.l_partkey
    JOIN item i2 ON p.p2 = i2.l_partkey
    CROSS JOIN n_orders n
    ORDER BY lift DESC, p.p1, p.p2
    LIMIT 20
    """,
    tags=("join", "growth", "agg"),
    doc="association rules over order baskets: support (pair count), "
    "confidence P(p2|p1) and lift P(p1,p2)/(P(p1)P(p2)) for co-ordered "
    "part pairs with support >= 3, top-20 by lift. The pair expansion "
    "is WITHIN-order, in-row over each order's collected part set "
    "(bounded by basket size squared, never corpus-quadratic) so the "
    "basket table never self-joins — one collect_set shuffle replaces "
    "the join. The per-item count table is catalog-sized (TPC-H part "
    "grows with SF: ~2e8 parts at SF=1e5), so the two item-count "
    "joins carry NO broadcast hint — AQE broadcasts while the "
    "catalog is small and shuffles on the part key when it is not; "
    "only the 1-row order-count scalar is hinted.",
)
def q_basket_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # one shuffle builds each order's distinct part set (map-side
    # partial collect_set); pairs expand in-row over the sorted array
    # (bounded by basket size squared), so the basket table never
    # self-joins
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    n_orders = li.agg(F.count_distinct("l_orderkey").alias("n"))
    item = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("item_cnt"))
    )
    pair = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS p1, y AS p2))))"
                )
            ).alias("q")
        )
        .groupBy(F.col("q.p1").alias("p1"), F.col("q.p2").alias("p2"))
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= 3)
    )
    i1 = item.select(
        F.col("l_partkey").alias("p1"), F.col("item_cnt").alias("cnt1")
    )
    i2 = item.select(
        F.col("l_partkey").alias("p2"), F.col("item_cnt").alias("cnt2")
    )

    return (
        pair.join(i1, "p1")
        .join(i2, "p2")
        .join(F.broadcast(n_orders))
        .select(
            "p1",
            "p2",
            "pair_cnt",
            _r6(F.col("pair_cnt").cast("double") / F.col("cnt1")).alias(
                "confidence"
            ),
            _r6(
                F.col("pair_cnt").cast("double")
                * F.col("n")
                / (F.col("cnt1") * F.col("cnt2").cast("double"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "p1", "p2")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Round-8b recommender wave: user-user collaborative-filtering
# neighbor search (df-capped inverted index — the CF twin of the LSH
# candidate machinery) and a time-split popularity-recommender
# evaluation (hit-rate@k) — the retrieval/eval loop a personalization
# pipeline runs on the warehouse tables.
#
# Reference parity: outside the reference's indicator scope; extends
# the engine the way the ANN/recall-eval family did — candidate
# generation bounded at the source, evaluation as a driver-hashed
# certificate.
#
# Scale posture:
# - the CF candidate join is an inverted index on part keys, df-capped
#   at {cap}: a part held by B customers contributes <= B^2/2 pairs,
#   so one hot item (everyone buys the bestseller) cannot turn the
#   join quadratic — same guard as the LSH bucket cap.  On the
#   scale-out axis (customers AND parts grow together) per-part df
#   stays ~constant, so candidate volume grows linearly.
# - min-support (>= 2 common parts) prunes the noise tail before the
#   rank; per-customer top-3 is one bounded sort_array/slice
#   aggregation (neighbor lists are df-cap-bounded), never a
#   |customers|-task window.
# - the popularity evaluation's model frame is 20 rows (top-k parts) —
#   the one legitimately broadcast-hinted frame here.


_CF_DF_CAP = 64
_CF_MIN_COMMON = 2
_CF_TOPK = 3


@_register(
    "customer_cf_neighbors",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), sizes AS (
      SELECT c, CAST(COUNT(*) AS BIGINT) AS s FROM baskets GROUP BY c
    ), kept AS (
      SELECT b.c, b.p FROM baskets b
      JOIN (SELECT p FROM baskets GROUP BY p
            HAVING COUNT(*) <= {_CF_DF_CAP}) d ON b.p = d.p
    ), cand AS (
      SELECT a.c AS c1, b.c AS c2, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM kept a JOIN kept b ON a.p = b.p AND a.c < b.c
      GROUP BY 1, 2 HAVING COUNT(*) >= {_CF_MIN_COMMON}
    ), sym AS (
      SELECT c1 AS customer, c2 AS neighbor, n_common FROM cand
      UNION ALL
      SELECT c2, c1, n_common FROM cand
    ), scored AS (
      SELECT b.customer, b.neighbor, b.n_common,
             b.n_common * 1.0 / (s1.s + s2.s - b.n_common) AS jaccard
      FROM sym b
      JOIN sizes s1 ON b.customer = s1.c
      JOIN sizes s2 ON b.neighbor = s2.c
    ), ranked AS (
      SELECT customer, neighbor, n_common, jaccard,
             ROW_NUMBER() OVER (PARTITION BY customer
                                ORDER BY jaccard DESC, neighbor) AS rank
      FROM scored
    )
    SELECT customer, CAST(rank AS BIGINT) AS rank, neighbor, n_common,
           ROUND(jaccard, 6) AS jaccard
    FROM ranked WHERE rank <= {_CF_TOPK}
    ORDER BY customer, rank
    """,
    tags=("recsys", "join", "topk"),
    doc=f"User-user collaborative-filtering neighbors: top-{_CF_TOPK} "
    "most-similar customers by Jaccard over purchased part sets, "
    f"via a part-keyed inverted index (df cap {_CF_DF_CAP} — a part "
    "everyone buys carries no similarity signal AND would make the "
    "index join quadratic; dropping it is both the statistical and "
    f"the scale fix), min-support {_CF_MIN_COMMON} common parts.  "
    "The neighbor-retrieval primitive behind user-based "
    "recommendation and look-alike audiences.  Shape: one part-key "
    "shuffle builds the index; candidates are equi-join + partial "
    "agg; per-customer top-k is ONE bounded aggregation (each kept "
    "part contributes <= cap-1 neighbors, so per-key state is "
    "O(cap x basket), never |customers| window tasks).  Ties break on (jaccard DESC, "
    "neighbor) and the jaccard doubles are identical across engines "
    "(exact-int ratios, one correctly-rounded divide).",
)
def q_customer_cf_neighbors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # pin the basket set once per invocation: it feeds the sizes pass
    # AND the df-capped index — unpinned, the lineitem⋈orders join +
    # distinct executed three times (optimization r11)
    baskets = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = baskets.groupBy("c").agg(F.count(F.lit(1)).alias("s"))
    # df-cap as ONE window count over the p exchange instead of
    # groupBy(p) + join-back (same §2.4 rewrite as the containment /
    # exact-Jaccard index): one shuffle of baskets, same rows out
    kept = (
        baskets.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("p"))
        )
        .filter(F.col("__df") <= _CF_DF_CAP)
        .drop("__df")
    )
    a = kept.select(F.col("c").alias("c1"), "p")
    b = kept.select(F.col("c").alias("c2"), "p")
    cand = (
        a.join(b, "p")
        .filter(F.col("c1") < F.col("c2"))
        .groupBy("c1", "c2")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= _CF_MIN_COMMON)
    )
    both = cand.select(
        F.col("c1").alias("customer"),
        F.col("c2").alias("neighbor"),
        "n_common",
    ).unionAll(
        cand.select(
            F.col("c2").alias("customer"),
            F.col("c1").alias("neighbor"),
            "n_common",
        )
    )
    s1 = sizes.select(F.col("c").alias("customer"), F.col("s").alias("__s1"))
    s2 = sizes.select(F.col("c").alias("neighbor"), F.col("s").alias("__s2"))
    scored = (
        both.join(s1, "customer")
        .join(s2, "neighbor")
        .select(
            "customer",
            "neighbor",
            "n_common",
            (
                F.col("n_common")
                * 1.0
                / (F.col("__s1") + F.col("__s2") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    # bounded per-customer top-k as ONE aggregation (optimization r12):
    # the grouped-global-rank machinery (range exchange + checkpoint +
    # window + offset join) is the right shape for UNBOUNDED groups,
    # but a customer's neighbor list is bounded by the df cap — each
    # kept part contributes <= cap-1 neighbors — so a sort_array +
    # slice over the per-customer collect is O(cap x basket) per-key
    # state and one hash exchange. Interleaved A/B at sf0.1:
    # 4.67 -> 3.94 s, identical 44803 rows. Ordering matches the
    # oracle's (jaccard DESC, neighbor): the sort key negates the
    # strictly-positive jaccard (no -0.0/NaN hazard — exact-int ratio,
    # n_common >= 2), neighbor breaks ties ascending.
    top = scored.groupBy("customer").agg(
        F.slice(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (-F.col("jaccard")).alias("nj"),
                        F.col("neighbor").alias("neighbor"),
                        F.col("n_common").alias("n_common"),
                        F.col("jaccard").alias("jaccard"),
                    )
                )
            ),
            1,
            _CF_TOPK,
        ).alias("t")
    )
    return (
        top.select("customer", F.posexplode("t").alias("pos", "q"))
        .select(
            "customer",
            (F.col("pos") + 1).cast("bigint").alias("rank"),
            F.col("q.neighbor").alias("neighbor"),
            F.col("q.n_common").alias("n_common"),
            _r6(F.col("q.jaccard")).alias("jaccard"),
        )
        .orderBy("customer", "rank")
    )


_REC_TOPK = 20
_REC_HOLDOUT_DAYS = 90


@_register(
    "popularity_rec_hitrate",
    oracle=f"""
    WITH cut AS (
      SELECT MAX(o_orderdate) - INTERVAL '{_REC_HOLDOUT_DAYS}' DAY
               AS cutoff
      FROM orders
    ), purchases AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p,
             o.o_orderdate >= cut.cutoff AS is_test
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      CROSS JOIN cut
    ), pop AS (
      SELECT p, CAST(COUNT(DISTINCT c) AS BIGINT) AS n_buyers
      FROM purchases WHERE NOT is_test GROUP BY p
      ORDER BY n_buyers DESC, p LIMIT {_REC_TOPK}
    ), test_c AS (
      SELECT c, CAST(COUNT(*) AS BIGINT) AS n_test_parts
      FROM purchases WHERE is_test GROUP BY c
    ), hits AS (
      SELECT pu.c, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM purchases pu JOIN pop ON pu.p = pop.p
      WHERE pu.is_test GROUP BY pu.c
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test_customers,
           CAST(COALESCE(SUM(CASE WHEN h.n_hits > 0 THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS n_hit_customers,
           CASE WHEN COUNT(*) > 0
                THEN ROUND(SUM(CASE WHEN h.n_hits > 0 THEN 1 ELSE 0 END)
                           * 1.0 / COUNT(*), 6) END
             AS hitrate_at_{_REC_TOPK},
           CASE WHEN COUNT(*) > 0
                THEN ROUND(SUM(COALESCE(h.n_hits, 0)) * 1.0 / COUNT(*),
                           6) END AS avg_hits
    FROM test_c t LEFT JOIN hits h ON t.c = h.c
    """,
    tags=("recsys", "evaluation"),
    doc=f"Time-split popularity-recommender evaluation: train on all "
    f"purchases before (max order date - {_REC_HOLDOUT_DAYS} days), "
    f"recommend the {_REC_TOPK} parts with the most distinct train "
    "buyers, and measure on the holdout: share of test-window "
    "customers who bought a recommended part (hit-rate@k) and mean "
    "hits per test customer — the baseline every personalized "
    "recommender must beat, as a driver-hashed certificate.  Scale "
    "shape: one (customer, part) dedup shuffle feeds both sides; "
    "the model is a TakeOrdered top-k (ties by part key) joined back "
    f"as a {_REC_TOPK}-row broadcast; the cutoff is a 1-row scalar "
    "cross-joined in.  Leakage-safe by construction: the model sees "
    "only pre-cutoff rows (point-in-time discipline, same contract "
    "as leakage_free_training_set).",
)
def q_popularity_rec_hitrate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cut = o.agg(
        (
            F.max("o_orderdate")
            - F.expr(f"INTERVAL {_REC_HOLDOUT_DAYS} DAYS")
        ).alias("cutoff")
    )
    purchases = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .crossJoin(F.broadcast(cut))
        .select(
            F.col("o_custkey").alias("c"),
            F.col("l_partkey").alias("p"),
            (F.col("o_orderdate") >= F.col("cutoff")).alias("is_test"),
        )
        .distinct()
    )
    pop = (
        purchases.filter(~F.col("is_test"))
        .groupBy("p")
        .agg(F.countDistinct("c").alias("n_buyers"))
        .orderBy(F.desc("n_buyers"), "p")
        .limit(_REC_TOPK)
    )
    test_c = (
        purchases.filter(F.col("is_test"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("n_test_parts"))
    )
    hits = (
        purchases.filter(F.col("is_test"))
        .join(F.broadcast(pop.select("p")), "p")
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    joined = test_c.join(hits, "c", "left")
    hit = F.when(F.col("n_hits") > 0, 1).otherwise(0)
    return joined.agg(
        F.count(F.lit(1)).alias("n_test_customers"),
        F.coalesce(F.sum(hit), F.lit(0))
        .cast("bigint")
        .alias("n_hit_customers"),
        F.coalesce(F.sum(F.coalesce("n_hits", F.lit(0))), F.lit(0)).alias(
            "__total_hits"
        ),
    ).select(
        "n_test_customers",
        "n_hit_customers",
        F.when(
            F.col("n_test_customers") > 0,
            _r6(
                F.col("n_hit_customers") * 1.0 / F.col("n_test_customers")
            ),
        ).alias(f"hitrate_at_{_REC_TOPK}"),
        F.when(
            F.col("n_test_customers") > 0,
            _r6(F.col("__total_hits") * 1.0 / F.col("n_test_customers")),
        ).alias("avg_hits"),
    )

"""Matryoshka truncation eval — how much ANN quality survives using
only the first d dimensions of each embedding (Kusupati et al. 2022,
"Matryoshka Representation Learning"): the cheapest vector-compression
knob a 100 TB store has (prefix-slice at read time, no re-encoding),
evaluated with the same self-certifying recall pattern as
pq_adc_recall_eval / ann_recall_eval.

For d in {8, 16, 32, 64}: rank the corpus by prefix-d cosine for each
of the 10 probe queries, compare the top-10 against the full-64-dim
top-10 (d=64 is by construction recall 1.0 — the eval's built-in
sanity row). Prefix cosines fold sequentially over identical
expressions in both engines; ranks use 6dp-rounded cosine with
cand_id tiebreak; zero-prefix vectors get NULL cosine via
nullif-guarded prefix norms and are excluded identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stockpulse_spark.llmdata.similarity import _as_double
from stockpulse_spark.plans.registry import _r6, _register, _t

_NQ = 10
_TOPK = 10
_DS = (8, 16, 32, 64)

# prefix-d cosine between two 64-d arrays, both dialects: transform to
# products / squares over range(1, d+1), reduce sequentially.
_D_PDOT = (
    "list_reduce(list_transform(range(1, {d} + 1),"
    " i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
)
_S_PDOT = (
    "aggregate(transform(sequence(1, {d}),"
    " i -> element_at({a}, i) * element_at({b}, i)),"
    " 0D, (acc, x) -> acc + x)"
)


def _d_pcos(a: str, b: str, d: str) -> str:
    dot_ab = _D_PDOT.format(a=a, b=b, d=d)
    dot_aa = _D_PDOT.format(a=a, b=a, d=d)
    dot_bb = _D_PDOT.format(a=b, b=b, d=d)
    return (
        f"{dot_ab} / (sqrt(nullif({dot_aa}, 0.0))"
        f" * sqrt(nullif({dot_bb}, 0.0)))"
    )


def _truncation_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpinned top-k per (query, d) — split out so the plan-shape
    test can assert the broadcast/cartesian structure that the
    builder's localCheckpoint pin hides from the outer explain."""
    v = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", _as_double(F.col("embedding")).alias("e"))
        # spread the corpus before the probe x d expansion — the
        # embeddings scan is one small file, so every interpreted
        # prefix-cosine fold ran in a SINGLE task (optimization r11,
        # same idiom as the PQ family / corpus repartitions)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    q = v.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    ds = spark.range(1).select(
        F.explode(F.array(*[F.lit(d) for d in _DS])).alias("d")
    )
    # precompute the prefix self-norms once per (vector, d) / (query,
    # d) instead of re-folding them per candidate PAIR: the cosine's
    # three interpreted folds per pair become one (dot_ab) — aa folds
    # 40x, bb folds |corpus| x 4 instead of |corpus| x NQ x 4. Same
    # doubles through the same division, so cos_d is bit-identical
    # (optimization r11, guide §4).
    vd = v.crossJoin(F.broadcast(ds)).select(
        F.col("vec_id").alias("cand_id"),
        "e",
        "d",
        F.expr(_S_PDOT.format(a="e", b="e", d="d")).alias("__bb"),
    )
    qd = q.crossJoin(ds).select(
        "query_id",
        "qe",
        "d",
        F.expr(_S_PDOT.format(a="qe", b="qe", d="d")).alias("__aa"),
    )
    dot_ab = F.expr(_S_PDOT.format(a="qe", b="e", d="d"))
    cos_d = dot_ab / (
        F.sqrt(F.expr("nullif(__aa, 0D)")) * F.sqrt(F.expr("nullif(__bb, 0D)"))
    )
    scored = (
        vd.join(F.broadcast(qd), "d")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "d", "cand_id", _r6(cos_d).alias("cos_d"))
        .filter(F.col("cos_d").isNotNull())
    )
    w = Window.partitionBy("query_id", "d").orderBy(
        F.desc("cos_d"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOPK)
        .select("query_id", "d", "cand_id")
    )



@_register(
    "matryoshka_truncation_eval",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE embedding IS NOT NULL
    ), q AS (
      SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {_NQ}
    ), scored AS (
      SELECT q.query_id, d.d, v.vec_id AS cand_id,
             ROUND({_d_pcos('q.qe', 'v.e', 'd.d')}, 6) AS cos_d
      FROM q
      CROSS JOIN (VALUES (8), (16), (32), (64)) d(d)
      JOIN v ON v.vec_id != q.query_id
    ), ranked AS (
      SELECT query_id, d, cand_id,
             ROW_NUMBER() OVER (PARTITION BY query_id, d
                                ORDER BY cos_d DESC, cand_id) AS rk
      FROM scored WHERE cos_d IS NOT NULL
    ), top AS (
      SELECT query_id, d, cand_id FROM ranked WHERE rk <= {_TOPK}
    ), hits AS (
      SELECT t.query_id, t.d, COUNT(g.cand_id) AS n_hit
      FROM top t
      LEFT JOIN (SELECT query_id, cand_id FROM top WHERE d = 64) g
        ON g.query_id = t.query_id AND g.cand_id = t.cand_id
      GROUP BY t.query_id, t.d
    )
    SELECT CAST(d AS BIGINT) AS d,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(SUM(n_hit) * 1.0 / (COUNT(*) * {_TOPK}), 6)
             AS avg_recall,
           ROUND(MIN(n_hit) * 1.0 / {_TOPK}, 6) AS min_recall
    FROM hits
    GROUP BY d
    ORDER BY d
    """,
    tags=("llmdata", "similarity", "eval"),
    doc="Matryoshka truncation curve: recall@10 of prefix-d cosine "
    "(d = 8/16/32/64) against the full-dimension top-10 for 10 probe "
    "queries — the read-time compression knob evaluated before "
    "anyone flips it (d=64 is the built-in recall-1.0 sanity row). "
    "One corpus scan crossed with the broadcast 10-query x 4-d "
    "probe set; prefix cosines are sequential folds rounded to 6dp "
    "before ranking with cand_id tiebreaks, so no last-ulp flip can "
    "shear a rank between engines. Integer hit counts make the "
    "final averages fold-order-free.",
)
def q_matryoshka_truncation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pin: top feeds both the per-d rows and the d=64 gold filter —
    # unpinned, the full score+rank pipeline executed twice
    # (optimization r11); the pinned frame is <= NQ x |DS| x TOPK rows
    top = _truncation_top(spark, sf_dir).localCheckpoint(eager=False)
    gold = top.filter(F.col("d") == 64).select(
        F.col("query_id").alias("g_qid"), F.col("cand_id").alias("g_cand")
    )
    hits = (
        top.join(
            gold,
            (F.col("query_id") == F.col("g_qid"))
            & (F.col("cand_id") == F.col("g_cand")),
            "left",
        )
        .groupBy("query_id", "d")
        .agg(F.count("g_cand").alias("n_hit"))
    )
    return (
        hits.groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum("n_hit").alias("s_hit"),
            F.min("n_hit").alias("m_hit"),
        )
        .select(
            F.col("d").cast("long").alias("d"),
            F.col("n_queries").cast("long").alias("n_queries"),
            _r6(
                F.col("s_hit") * 1.0 / (F.col("n_queries") * _TOPK)
            ).alias("avg_recall"),
            _r6(F.col("m_hit") * 1.0 / _TOPK).alias("min_recall"),
        )
        .orderBy("d")
    )

"""Embedding-vector queries: exact cosine top-k, SRP-LSH ANN, IVF,
int8 and product quantization, MMR, Matryoshka truncation, k-means,
kNN classification, power iteration, and the recall evaluations that
certify each approximate path against brute force.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stockpulse_spark.functions.nullsafe import corr_nn, not_finite
from stockpulse_spark.llmdata.hashing import word32_sql
from stockpulse_spark.llmdata.similarity import (
    _as_double,
    cosine_topk,
    dot,
    norm,
    pseudo_planes,
    srp_lsh_topk,
)
from stockpulse_spark.operators.topk import salted_grouped_topk
from stockpulse_spark.plans.registry import _r6, _register, _t


# ---------------------------------------------------------------------------
# similarity search

_DOT_DUCK = (
    "list_reduce(list_transform(range(1, 65), i -> qv[i] * cv[i]), (x, y) -> x + y)"
)
_NORM_DUCK = (
    "sqrt(nullif(list_reduce(list_transform(range(1, 65), i -> {v}[i] * {v}[i]), (x, y) -> x + y), 0))"
)


@_register(
    "embedding_cosine_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS neighbor_id, e AS cv FROM v
    ), scored AS (
      SELECT query_id, neighbor_id,
             {_DOT_DUCK} / ({_NORM_DUCK.format(v='qv')} * {_NORM_DUCK.format(v='cv')}) AS cosine
      FROM q, c WHERE query_id != neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine
    FROM ranked WHERE rank <= 5
    """,
    headline=True,
    tags=("llmdata", "similarity"),
    doc="exact brute-force cosine top-5 per query vector (the ANN "
    "correctness baseline): broadcast query side, JVM-side sequential "
    "fold over array<double> (bit-identical to DuckDB list_reduce), "
    "per-query top-k via window.",
)
def q_embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = cosine_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)
    return out.select(
        "query_id", "rank", "neighbor_id", _r6(F.col("cosine")).alias("cosine")
    )


_N_TABLES, _N_PLANES = 8, 4


def _plane_duck(p: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"


def _bucket_duck(table: int) -> str:
    planes = pseudo_planes(_N_PLANES, 64, table=table)
    return " + ".join(
        f"(CASE WHEN list_reduce(list_transform(range(1, 65), i -> e[i] * ({_plane_duck(p)})[i]), (x, y) -> x + y) > 0 THEN {2**j} ELSE 0 END)"
        for j, p in enumerate(planes)
    )


_BUCKETS_DUCK = "[" + ", ".join(_bucket_duck(t) for t in range(_N_TABLES)) + "]"


@_register(
    "embedding_srp_ann",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             {_BUCKETS_DUCK} AS buckets
      FROM embeddings
    ), exp AS (
      SELECT vec_id, e, t.i AS tidx, buckets[t.i + 1] AS bucket
      FROM v, range({_N_TABLES}) t(i)
    ), q AS (
      SELECT vec_id AS query_id, e AS qv, tidx, bucket FROM exp WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS neighbor_id, e AS cv, tidx, bucket FROM exp
    ), cand AS (
      SELECT DISTINCT query_id, neighbor_id, qv, cv
      FROM q JOIN c USING (tidx, bucket) WHERE query_id != neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id,
             {_DOT_DUCK} / ({_NORM_DUCK.format(v='qv')} * {_NORM_DUCK.format(v='cv')}) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               {_DOT_DUCK} / ({_NORM_DUCK.format(v='qv')} * {_NORM_DUCK.format(v='cv')}) DESC,
               neighbor_id) AS rank
      FROM cand
    )
    SELECT query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine
    FROM ranked WHERE rank <= 3
    """,
    tags=("llmdata", "similarity"),
    doc="multi-table SRP-LSH ANN (the scale path): 8 independent "
    "4-plane families -> per-(table, bucket) equi-join, pair-distinct, "
    "top-3 by cosine. Multi-table buys recall (1-(1-p^4)^8); recall "
    "vs brute force asserted in tests/test_llmdata.py.",
)
def q_embedding_srp_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    out = srp_lsh_topk(
        emb.filter(F.col("vec_id") < 10),
        emb,
        k=3,
        n_planes=_N_PLANES,
        n_tables=_N_TABLES,
        dim=64,
    )
    return out.select(
        "query_id", "rank", "neighbor_id", _r6(F.col("cosine")).alias("cosine")
    )


# Shared exact-vs-SRP CTE block: exact_top = brute-force cosine top-10
# per query, approx_top = the SRP-LSH index's top-10 over its candidate
# set. ann_recall_eval reports per-query recall; the certificate query
# aggregates the same block into one driver-hashed boolean gate.
_ANN_EVAL_CTES = f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             {_BUCKETS_DUCK} AS buckets
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, e AS qv, buckets AS qb FROM v
      WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS neighbor_id, e AS cv, buckets AS cb FROM v
    ), exact_ranked AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               {_DOT_DUCK} / ({_NORM_DUCK.format(v='qv')} * {_NORM_DUCK.format(v='cv')}) DESC,
               neighbor_id) AS rank
      FROM q, c WHERE query_id != neighbor_id
    ), exact_top AS (
      SELECT query_id, neighbor_id FROM exact_ranked WHERE rank <= 10
    ), cand AS (
      SELECT DISTINCT query_id, neighbor_id, qv, cv
      FROM q JOIN c ON EXISTS (
        SELECT 1 FROM range({_N_TABLES}) t(i)
        WHERE qb[t.i + 1] = cb[t.i + 1]
      ) WHERE query_id != neighbor_id
    ), approx_ranked AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               {_DOT_DUCK} / ({_NORM_DUCK.format(v='qv')} * {_NORM_DUCK.format(v='cv')}) DESC,
               neighbor_id) AS rank
      FROM cand
    ), approx_top AS (
      SELECT query_id, neighbor_id FROM approx_ranked WHERE rank <= 10
    )"""


@_register(
    "ann_recall_eval",
    oracle=_ANN_EVAL_CTES
    + """
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           ROUND(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS recall_at_10
    FROM exact_top e
    LEFT JOIN approx_top a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id ORDER BY e.query_id
    """,
    tags=("llmdata", "similarity", "evaluation"),
    doc="Measured recall@10 of the multi-table SRP-LSH ANN against "
    "the exact brute-force cosine baseline, per query vector — the "
    "ANN counterpart of minhash_lsh_recall_eval: an index is only as "
    "good as the recall you MEASURED at the bucket/table budget you "
    "deploy. Both sides reuse the registry's own operators "
    "(cosine_topk, srp_lsh_topk) so the evaluation exercises exactly "
    "the production code path; at 100 TB the same query runs over a "
    "sampled query set while the corpus side stays full-scale "
    "(bucket joins, no cross join on the approx path).",
)
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    q = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(q, emb, k=10).select("query_id", "neighbor_id")
    approx = srp_lsh_topk(
        q, emb, k=10, n_planes=_N_PLANES, n_tables=_N_TABLES, dim=64
    ).select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    j = exact.join(approx, ["query_id", "neighbor_id"], "left")
    return (
        j.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            _r6(F.col("n_hit") * 1.0 / F.col("n_exact")).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )


@_register(
    "srp_ann_recall_certificate",
    oracle=_ANN_EVAL_CTES
    + """
    SELECT CAST(COUNT(DISTINCT e.query_id) AS BIGINT) AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           ROUND(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS recall_at_10,
           -- COALESCE: zero queries -> gate FAILS (no evidence is
           -- not a pass), and both engines agree instead of emitting
           -- a NULL boolean (empty-corpus sweep)
           COALESCE(2 * SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             >= COUNT(*), FALSE) AS meets_gate
    FROM exact_top e
    LEFT JOIN approx_top a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    """,
    tags=("llmdata", "similarity", "evaluation"),
    doc="the SRP-ANN deployment gate as a driver-hashed certificate: "
    "the recall>=0.5 floor tests/test_llmdata.py asserts (expected "
    "~0.75 at 8 tables x 4 planes) folded into ONE boolean row over "
    "the same exact-vs-approx machinery as ann_recall_eval. The gate "
    "compare is pure integer arithmetic (2*n_hit >= n_exact), so no "
    "float-boundary flip can shear the boolean between engines; at "
    "100 TB this runs on a sampled query set as the recall regression "
    "check before an index-parameter change ships.",
)
def q_srp_ann_recall_certificate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    q = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(q, emb, k=10).select("query_id", "neighbor_id")
    approx = srp_lsh_topk(
        q, emb, k=10, n_planes=_N_PLANES, n_tables=_N_TABLES, dim=64
    ).select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    j = exact.join(approx, ["query_id", "neighbor_id"], "left")
    return j.agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
        .cast("bigint")
        .alias("n_hit"),
    ).select(
        "n_queries",
        "n_exact",
        "n_hit",
        _r6(F.col("n_hit") * 1.0 / F.col("n_exact")).alias("recall_at_10"),
        F.coalesce(
            2 * F.col("n_hit") >= F.col("n_exact"), F.lit(False)
        ).alias("meets_gate"),
    )


_N_CENTROIDS = 16
_DOTC = "list_reduce(list_transform(range(1, 65), i -> e[i] * c[i]), (x, y) -> x + y)"


@_register(
    "embedding_ivf_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), cent AS (
      SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < {_N_CENTROIDS}
    ), assigned AS (
      SELECT vec_id, e, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
               {_DOTC} / ({_NORM_DUCK.format(v='e')} * {_NORM_DUCK.format(v='c')}) DESC, cid) AS crank
      FROM v, cent
    ), cells AS (
      SELECT vec_id, e, cid FROM assigned WHERE crank = 1
    ), probes AS (
      SELECT vec_id AS query_id, e AS qv, cid FROM assigned
      WHERE vec_id < 10 AND crank <= 2
    ), scored AS (
      SELECT p.query_id, cand.vec_id AS neighbor_id,
             list_reduce(list_transform(range(1, 65), i -> qv[i] * cand.e[i]), (x, y) -> x + y)
               / ({_NORM_DUCK.format(v='qv')} * {_NORM_DUCK.format(v='cand.e')}) AS cosine
      FROM probes p JOIN cells cand USING (cid)
      WHERE p.query_id != cand.vec_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine
    FROM ranked WHERE rank <= 3
    """,
    tags=("llmdata", "similarity"),
    doc="IVF-flat ANN: the first 16 vectors act as fixed centroids "
    "(deterministic stand-in for trained k-means — same plan shape), "
    "every vector lands in its nearest-centroid cell, queries probe "
    "their 2 nearest cells (nprobe=2). Broadcast the 16-centroid dim, "
    "equi-join on cell id: candidates shrink ~16x with two small "
    "joins — the other standard ANN scale path next to SRP-LSH.",
)
def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-vector norms folded ONCE and carried through assignment and
    # probe scoring (optimization r11, the srp_lsh_topk pattern): the
    # norm fold is an interpreted higher-order function, and the old
    # shape re-folded norm(e) per (vector x centroid) candidate and
    # both pair norms per probe candidate. Same doubles through the
    # same division; assignments and ranks unchanged.
    emb = (
        _t(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", _as_double(F.col("embedding")).alias("e"))
        .withColumn("en", norm(F.col("e")))
    )
    cent = emb.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("cid"),
        F.col("e").alias("c"),
        F.col("en").alias("cn"),
    )
    cos_to_cent = dot(F.col("e"), F.col("c")) / (F.col("en") * F.col("cn"))
    w = Window.partitionBy("vec_id").orderBy(F.col("__cc").desc(), "cid")
    assigned = (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", "e", "en", "cid", cos_to_cent.alias("__cc"))
        .withColumn("crank", F.row_number().over(w))
    )
    cells = assigned.filter(F.col("crank") == 1).select("vec_id", "e", "en", "cid")
    probes = assigned.filter(
        (F.col("vec_id") < 10) & (F.col("crank") <= 2)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qv"),
        F.col("en").alias("qn"),
        "cid",
    )
    cand = cells.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("cv"),
        F.col("en").alias("cvn"),
        "cid",
    )
    scored = (
        probes.join(cand, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cvn"))).alias("cosine"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 3)
        .select("query_id", "rank", "neighbor_id", _r6(F.col("cosine")).alias("cosine"))
    )


@_register(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (
      -- any-NaN vectors are corrupt and excluded (NULL rows kept:
      -- their scale/q8 stay NULL as before)
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(x))) = 0
    ), s AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
      FROM v
    ), q AS (
      -- scale = 0 (all-zero vector) quantizes to all zeros instead of
      -- dividing by zero
      SELECT vec_id, e, scale,
             list_transform(e, x -> CASE WHEN scale = 0 THEN 0 ELSE
               CAST(greatest(-127, least(127,
                 floor(x / scale + 0.5))) AS INTEGER) END) AS q8
      FROM s
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale,
           CAST(to_json(q8) AS VARCHAR) AS q8,
           ROUND(list_reduce(list_transform(range(1, 65),
                   i -> (e[i] - q8[i] * scale) * (e[i] - q8[i] * scale)),
                 (a, b) -> a + b) / 64.0, 9) AS mse
    FROM q
    """,
    tags=("llmdata", "similarity", "quantization"),
    doc="int8 symmetric quantization of the embedding column — the "
    "4× storage/bandwidth reduction every large-scale ANN index "
    "applies before sharding. Per-vector scale = max|x|/127, "
    "quantize via floor(x/scale + 0.5) (floor is bit-identical "
    "across engines where round() tie-breaking is not), clamp to "
    "[-127,127], and report per-vector reconstruction MSE. Pure "
    "Column expressions, narrow (no shuffle).",
)
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNull()
        | ~F.exists("embedding", lambda x: not_finite(x))
    ).select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    )
    scale = (
        F.array_max(F.transform(F.col("e"), lambda x: F.abs(x))) / 127.0
    ).alias("scale")
    s = emb.select("vec_id", "e", scale)
    # scale = 0 (all-zero vector) -> all-zero q8; the conditional also
    # keeps ANSI mode from raising on the guarded division
    q8 = F.transform(
        F.col("e"),
        lambda x: F.when(F.col("scale") == 0, F.lit(0)).otherwise(
            F.greatest(
                F.lit(-127),
                F.least(F.lit(127), F.floor(x / F.col("scale") + 0.5)),
            ).cast("int")
        ),
    )
    q = s.select("vec_id", "e", "scale", q8.alias("q8"))
    err = F.zip_with(
        F.col("e"),
        F.col("q8"),
        lambda x, qv: (x - qv * F.col("scale")) * (x - qv * F.col("scale")),
    )
    mse = F.aggregate(err, F.lit(0.0), lambda a, b: a + b) / 64.0
    # mse is computed in its own projection: putting it in the same
    # select as `_r6(scale) AS scale` makes Spark's lateral column
    # alias resolution bind the lambda's F.col("scale") to the ROUNDED
    # alias, silently changing the arithmetic (caught by the oracle)
    m = q.select("vec_id", "scale", "q8", mse.alias("__mse"))
    # q8 ships as a JSON string: the driver's pandas canonicalizer
    # sorts rows by every column and list cells are unhashable; int
    # arrays JSON-serialize identically in Spark and DuckDB.
    return m.select(
        "vec_id",
        _r6(F.col("scale")).alias("scale"),
        F.to_json(F.col("q8")).alias("q8"),
        (F.round(F.col("__mse") * 1e9) / 1e9).alias("mse"),
    )


# ---------------------------------------------------------------------------
# Distributed-ML and monitoring shapes: a two-step Lloyd (k-means)
# iteration as pure DataFrame ops, per-type hourly tail percentiles, and
# per-document word-entropy quality scoring.
#
# The k-means step is the second iterative-algorithm pattern in the repo
# (after label-propagation connected components): assign -> dim-wise
# recompute -> reassign, each iteration two shuffles (one broadcast-
# assignment, one (cid, dim)-keyed mean), centroids snapped to 6
# decimals between iterations so both engines feed bit-identical
# centroids into the next assignment. At 100 TB the centroid table stays
# K x dims (KBs) and broadcasts; members never leave their partitions
# except through the dim-wise partial-agg shuffle.


_KMEANS_K = 8
_DIMS = 64


# DuckDB fragments (1-indexed lists)
_D_DOT = (
    "list_reduce(list_transform(range(1, {n}), i -> {a}[i] * {b}[i]),"
    " (x, y) -> x + y)"
)
_D_NORM = "sqrt(" + _D_DOT + ")"


def _d_cos(a: str, b: str) -> str:
    n = _DIMS + 1
    return (
        _D_DOT.format(n=n, a=a, b=b)
        + " / ("
        + _D_NORM.format(n=n, a=a, b=a)
        + " * "
        + _D_NORM.format(n=n, a=b, b=b)
        + ")"
    )


@_register(
    "kmeans_lloyd_2iter",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(x))) = 0
    ), c0 AS (
      SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < {_KMEANS_K}
    ), a1 AS (
      SELECT vec_id, e, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY {_d_cos('e', 'c')} DESC, cid) AS rn
      FROM v, c0
    ), m1 AS (SELECT vec_id, e, cid FROM a1 WHERE rn = 1),
    c1 AS (
      -- no WITH ORDINALITY in DuckDB: index the list with a lateral range
      SELECT cid, list(mu ORDER BY pos) AS c FROM (
        SELECT cid, t.i AS pos, ROUND(AVG(e[t.i]), 6) AS mu
        FROM m1, range(1, {_DIMS + 1}) AS t(i)
        GROUP BY cid, t.i
      ) GROUP BY cid
    ), a2 AS (
      SELECT vec_id, e, cid,
             {_d_cos('e', 'c')} AS cos_c,
             ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY {_d_cos('e', 'c')} DESC, cid) AS rn
      FROM v, c1
    )
    SELECT cid, COUNT(*) AS n_members,
           ROUND(AVG(cos_c), 6) AS avg_cos,
           ROUND(MIN(cos_c), 6) AS min_cos
    FROM a2 WHERE rn = 1
    GROUP BY cid ORDER BY cid
    """,
    tags=("llmdata", "similarity", "iterative"),
    doc="One full Lloyd refinement of a k-means clustering (K=8, "
    "cosine assignment, deterministic first-K init like the IVF "
    "query): assign -> dim-wise centroid mean -> reassign, reporting "
    "per-cluster size and cohesion. Each iteration = one broadcast "
    "centroid join + one (cid, dim) partial-agg shuffle; centroids "
    "are ROUNDED to 6 decimals between iterations on BOTH engines so "
    "cross-engine float drift in the dim-wise sums cannot flip an "
    "assignment at a cluster boundary. The pattern generalizes to "
    "trained IVF centroids and any fixed-iteration Lloyd loop.",
)
def q_kmeans_lloyd_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        _t(spark, sf_dir, "embeddings")
        .filter(
            F.col("embedding").isNull()
        | ~F.exists("embedding", lambda x: not_finite(x))
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", _as_double(F.col("embedding")).alias("e"))
        # per-vector norm folded ONCE (optimization r11, srp_lsh_topk
        # pattern): the fold is an interpreted HOF and the old shape
        # re-folded it per (vector x centroid) candidate in BOTH Lloyd
        # iterations. Same doubles through the same division.
        .withColumn("en", norm(F.col("e")))
    )
    c0 = v.filter(F.col("vec_id") < _KMEANS_K).select(
        F.col("vec_id").alias("cid"),
        F.col("e").alias("c"),
        F.col("en").alias("cn"),
    )

    def assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
        cos = dot(F.col("e"), F.col("c")) / (F.col("en") * F.col("cn"))
        w = Window.partitionBy("vec_id").orderBy(F.col("cos_c").desc(), "cid")
        return (
            vecs.crossJoin(F.broadcast(cents))
            .select("vec_id", "e", "en", "cid", cos.alias("cos_c"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    m1 = assign(v, c0)
    c1 = (
        m1.select("cid", F.posexplode("e").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(_r6(F.avg("val")).alias("mu"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mu"))),
                lambda s: s.getField("mu"),
            ).alias("c")
        )
        .withColumn("cn", norm(F.col("c")))
    )
    a2 = assign(v, c1)
    return (
        a2.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            _r6(F.avg("cos_c")).alias("avg_cos"),
            _r6(F.min("cos_c")).alias("min_cos"),
        )
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# MMR (maximal marginal relevance) diversified top-k over the
# embedding table.
#
# Reference parity: the retrieval layer a training-data curator puts
# between ANN candidates and the final sample — relevance alone returns
# near-duplicates; MMR trades relevance against redundancy
# (score = lam*rel - (1-lam)*max-sim-to-already-picked) so the k picks
# cover the space. Greedy selection is inherently sequential in k, but
# each of the k steps is a fully distributed scan: score every
# remaining candidate against the (tiny, broadcast) picked set, take
# the argmax with TakeOrderedAndProject. k is small by construction
# (a sample page, not a table), so the k-step plan chain is bounded;
# candidates never leave their partitions except through the k top-1
# reductions. No driver-side collect anywhere — the picked set stays a
# DataFrame and broadcasts.


_MMR_K = 3
_LAM = 0.7


def _d_mmr_step(prev: str, sel_ids: str) -> str:
    """DuckDB CTE fragment: next greedy pick given selected-set CTE."""
    return f"""
      SELECT vec_id, e, rel, max_sim,
             {_LAM} * rel - {1 - _LAM} * max_sim AS mmr_score
      FROM (
        SELECT c.vec_id, c.e, c.rel,
               MAX({_d_cos('c.e', 's.e')}) AS max_sim
        FROM cand c, {prev} s
        WHERE c.vec_id NOT IN ({sel_ids})
        GROUP BY c.vec_id, c.e, c.rel
      )
      ORDER BY mmr_score DESC, vec_id LIMIT 1
    """


@_register(
    "mmr_diversified_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(x))) = 0
    ), q AS (
      SELECT e FROM v WHERE vec_id = 0
    ), cand AS (
      SELECT v.vec_id, v.e, {_d_cos('v.e', 'q.e')} AS rel
      FROM v, q WHERE v.vec_id > 0
    ), s1 AS (
      SELECT vec_id, e, rel, 0.0 AS max_sim, rel AS mmr_score
      FROM cand ORDER BY rel DESC, vec_id LIMIT 1
    ), s2 AS (
      {_d_mmr_step('s1', '(SELECT vec_id FROM s1)')}
    ), s12 AS (
      SELECT * FROM s1 UNION ALL SELECT * FROM s2
    ), s3 AS (
      {_d_mmr_step('s12', '(SELECT vec_id FROM s12)')}
    ), picks AS (
      SELECT 1 AS pick_order, * FROM s1
      UNION ALL SELECT 2, * FROM s2
      UNION ALL SELECT 3, * FROM s3
    )
    SELECT pick_order, vec_id,
           ROUND(rel, 6) AS relevance,
           ROUND(max_sim, 6) AS max_sim_prev,
           ROUND(mmr_score, 6) AS mmr_score
    FROM picks ORDER BY pick_order
    """,
    tags=("llmdata", "similarity"),
    doc=f"Greedy MMR top-{_MMR_K} (lam={_LAM}): query = embedding 0, "
    "candidates = the rest; pick argmax(lam*cosine-to-query - "
    "(1-lam)*max-cosine-to-picked) three times. Each step is one "
    "distributed scan + broadcast of the <=k picked rows + top-1 "
    "reduction; the sequential dependency is in k (tiny), never in "
    "the data. Cosines are sequential zip_with/aggregate folds over "
    "array<double>, bit-identical to DuckDB's list_reduce, so the "
    "greedy argmax chain stays deterministic across engines.",
)
def q_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNull()
        | ~F.exists("embedding", lambda x: not_finite(x))
    ).select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    )
    q = v.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    cos = lambda a, b: dot(a, b) / (norm(a) * norm(b))  # noqa: E731
    cand = (
        v.filter(F.col("vec_id") > 0)
        .join(F.broadcast(q))
        .select("vec_id", "e", cos(F.col("e"), F.col("qe")).alias("rel"))
    )
    picked: DataFrame | None = None
    rows = []
    for step in range(1, _MMR_K + 1):
        if picked is None:
            nxt = (
                cand.select(
                    "vec_id",
                    "e",
                    "rel",
                    F.lit(0.0).alias("max_sim"),
                    F.col("rel").alias("mmr_score"),
                )
                .orderBy(F.col("rel").desc(), "vec_id")
                .limit(1)
            )
        else:
            sel = picked.select(
                F.col("vec_id").alias("s_id"), F.col("e").alias("s_e")
            )
            nxt = (
                cand.join(
                    F.broadcast(sel.select("s_id")),
                    cand.vec_id == F.col("s_id"),
                    "left_anti",
                )
                .join(F.broadcast(sel))
                .groupBy("vec_id", "e", "rel")
                .agg(F.max(cos(F.col("e"), F.col("s_e"))).alias("max_sim"))
                .select(
                    "vec_id",
                    "e",
                    "rel",
                    "max_sim",
                    (
                        _LAM * F.col("rel") - (1 - _LAM) * F.col("max_sim")
                    ).alias("mmr_score"),
                )
                .orderBy(F.col("mmr_score").desc(), "vec_id")
                .limit(1)
            )
        picked = nxt if picked is None else picked.unionAll(nxt)
        rows.append(nxt.select(F.lit(step).alias("pick_order"), "*"))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.select(
        "pick_order",
        "vec_id",
        _r6(F.col("rel")).alias("relevance"),
        _r6(F.col("max_sim")).alias("max_sim_prev"),
        _r6(F.col("mmr_score")).alias("mmr_score"),
    ).orderBy("pick_order")


@_register(
    "embedding_label_outliers",
    oracle=f"""
    WITH v AS (
      -- NULL embeddings are excluded from the gate entirely: a label
      -- whose vectors are ALL NULL otherwise keeps a NULL-centroid
      -- row here while Spark's posexplode drops it (found by
      -- hypothesis in tests/test_property_parity.py)
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
      WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT isfinite(x))) = 0
    ), cent AS (
      SELECT label, list(mu ORDER BY pos) AS c FROM (
        SELECT v.label, p.pos, ROUND(AVG(v.e[p.pos]), 6) AS mu
        FROM v, (SELECT unnest(range(1, {_DIMS + 1})) AS pos) p
        GROUP BY v.label, p.pos
      ) GROUP BY label
    ), d AS (
      SELECT v.vec_id, v.label,
             1 - {_d_cos('v.e', 'c.c')} AS dist
      FROM v JOIN cent c USING (label)
    ), stats AS (
      SELECT label, COUNT(*) AS n,
             AVG(dist) AS mu_d, stddev_pop(dist) AS sd_d
      FROM d GROUP BY label
    )
    SELECT s.label, s.n,
           ROUND(s.mu_d, 6) AS avg_dist,
           ROUND(s.sd_d, 6) AS sd_dist,
           CAST(SUM(CASE WHEN d.dist > s.mu_d + 2 * s.sd_d
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM d JOIN stats s USING (label)
    GROUP BY s.label, s.n, s.mu_d, s.sd_d
    ORDER BY s.label
    """,
    tags=("llmdata", "similarity", "agg"),
    doc="Embedding-space outlier gate: cosine distance of every "
    "vector to its label centroid (dimension-wise mean, snapped to "
    "6 dp so both engines feed bit-identical centroids — the kmeans "
    "recipe), flagging vectors beyond mean + 2 sigma. Centroids are "
    "LABELS x DIMS rows (KBs at any scale) and broadcast; the "
    "per-vector distance is a sequential JVM fold; two partial-agg "
    "shuffles end-to-end. The curation signal that catches "
    "mislabeled and out-of-distribution vectors before training.",
)
def q_embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        _t(spark, sf_dir, "embeddings")
        .filter(
            F.col("embedding").isNotNull()
            & ~F.exists("embedding", lambda x: not_finite(x))
        )
        .select("vec_id", "label", _as_double(F.col("embedding")).alias("e"))
    )
    cent = (
        v.select("label", F.posexplode("e").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(_r6(F.avg("val")).alias("mu"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mu"))),
                lambda s: s.getField("mu"),
            ).alias("c")
        )
        # centroid norm folded once per LABEL, not once per corpus row
        # (optimization r11 — interpreted-HOF fold; same doubles
        # through the same division)
        .withColumn("cn", norm(F.col("c")))
    )
    d = (
        v.join(F.broadcast(cent), "label")
        .select(
            "vec_id",
            "label",
            (
                1 - dot(F.col("e"), F.col("c"))
                / (norm(F.col("e")) * F.col("cn"))
            ).alias("dist"),
        )
    )
    stats = d.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dist").alias("mu_d"),
        F.stddev_pop("dist").alias("sd_d"),
    )
    return (
        d.join(F.broadcast(stats), "label")
        .groupBy("label", "n", "mu_d", "sd_d")
        .agg(
            F.sum(
                F.when(
                    F.col("dist") > F.col("mu_d") + 2 * F.col("sd_d"), 1
                ).otherwise(0)
            ).alias("n_outliers")
        )
        .select(
            "label",
            "n",
            _r6(F.col("mu_d")).alias("avg_dist"),
            _r6(F.col("sd_d")).alias("sd_dist"),
            "n_outliers",
        )
        .orderBy("label")
    )


_N_DIMS_CORR = 8


@_register(
    "embedding_dim_correlation",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(x))) = 0
    ), dims AS (
      SELECT vec_id, p.pos - 1 AS pos, e[p.pos] AS val
      FROM v, (SELECT unnest(range(1, {_N_DIMS_CORR + 1})) AS pos) p
      WHERE e[p.pos] IS NOT NULL
    )
    -- corr restated as covar_pop/nullif(stddev product): Spark's ANSI
    -- corr raises DIVIDE_BY_ZERO on a constant dim, DuckDB's returns
    -- NULL; the explicit formula is total AND identical in both
    SELECT a.pos AS dim_i, b.pos AS dim_j,
           ROUND(covar_pop(a.val, b.val)
                 / nullif(stddev_pop(a.val) * stddev_pop(b.val), 0),
                 6) AS pearson
    FROM dims a JOIN dims b
      ON a.vec_id = b.vec_id AND a.pos < b.pos
    GROUP BY a.pos, b.pos
    ORDER BY dim_i, dim_j
    """,
    tags=("llmdata", "similarity", "agg"),
    doc=f"Pairwise Pearson correlation among the first {_N_DIMS_CORR} "
    "embedding dimensions — the feature-redundancy diagnostic "
    "(highly correlated dims mean wasted capacity / a candidate for "
    "PCA before indexing). The within-vector self-join is an "
    f"equi-join on vec_id with bounded {_N_DIMS_CORR}x"
    f"{_N_DIMS_CORR} fanout, then one partial-agg shuffle of "
    "co-moment triples per (i, j) cell — the DIMSxDIMS output is "
    "metadata at any corpus size. corr is a decomposable aggregate "
    "in both engines (no per-cell re-scan).",
)
def q_embedding_dim_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNull()
        | ~F.exists("embedding", lambda x: not_finite(x))
    ).select(
        "vec_id",
        F.slice(F.col("embedding").cast("array<double>"), 1, _N_DIMS_CORR)
        .alias("e"),
    )
    dims = v.select("vec_id", F.posexplode("e").alias("pos", "val"))
    a = dims.select(
        "vec_id", F.col("pos").alias("dim_i"), F.col("val").alias("vi")
    )
    b = dims.select(
        "vec_id", F.col("pos").alias("dim_j"), F.col("val").alias("vj")
    )
    return (
        a.join(b, "vec_id")
        .filter(F.col("dim_i") < F.col("dim_j"))
        .groupBy("dim_i", "dim_j")
        .agg(_r6(corr_nn("vi", "vj")).alias("pearson"))
        .orderBy("dim_i", "dim_j")
    )


# ---------------------------------------------------------------------------
# kNN classification over the embedding corpus and Heikin-Ashi
# smoothed candles — two operators the reference's stack (pandas
# indicator stage + a vector-less warehouse) cannot express at scale.
#
# `embedding_knn_classify` composes the exact cosine top-k primitive
# (llmdata/similarity.cosine_topk — broadcast queries, JVM fold, no
# Python) with a majority vote; it is the standard label-propagation /
# weak-supervision step in a training-data pipeline (label the unlabeled
# split from its nearest labeled neighbors).
#
# `heikin_ashi_daily` is a genuinely recursive series transform
# (ha_open[t] depends on ha_open[t-1]) — the same class as EMA, so the
# Spark side uses the linear per-series pandas kernel (one pass, Arrow
# batched; the pattern functions/ema.py:93 established) while the
# DuckDB oracle folds the closed form with list_reduce at oracle scale.


@_register(
    "embedding_knn_classify",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, label AS true_label, e AS qv
      FROM v WHERE vec_id % 25 = 0
    ), c AS (
      SELECT vec_id AS neighbor_id, label, e AS cv FROM v
    ), scored AS (
      SELECT query_id, true_label, neighbor_id, label,
             {_DOT_DUCK} / ({_NORM_DUCK.format(v='qv')}
                            * {_NORM_DUCK.format(v='cv')}) AS cosine
      FROM q, c WHERE query_id != neighbor_id
    ), ranked AS (
      SELECT query_id, true_label, label, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ), votes AS (
      SELECT query_id, true_label, label, COUNT(*) AS n_votes
      FROM ranked WHERE rank <= 10
      GROUP BY query_id, true_label, label
    ), best AS (
      SELECT query_id, true_label, label AS predicted_label, n_votes,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY n_votes DESC, label) AS vr
      FROM votes
    )
    SELECT query_id, true_label, predicted_label, n_votes
    FROM best WHERE vr = 1 ORDER BY query_id
    """,
    tags=("llmdata", "similarity", "ml"),
    doc="10-NN majority-vote label assignment per query vector (ties "
    "break to the smallest label): exact cosine top-k (broadcast "
    "query side, JVM fold) -> per-query vote count -> argmax. The "
    "weak-labeling step of a curation pipeline; at 100 TB swap the "
    "exact top-k for the SRP/IVF ANN variants registered alongside.",
)
def q_embedding_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    # spread the single-split corpus scan: 200 query vectors x the
    # whole corpus of interpreted cosine folds otherwise run in one
    # task (optimization r11; the spread is caller-side by design —
    # see cosine_topk)
    nn = cosine_topk(
        queries,
        emb.repartition(spark.sparkContext.defaultParallelism),
        k=10,
    )
    labels = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label")
    )
    true = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
    )
    votes = (
        nn.join(labels, "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    from pyspark.sql import Window

    vr = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.desc("n_votes"), F.col("label")
        )
    )
    return (
        votes.withColumn("vr", vr)
        .filter(F.col("vr") == 1)
        .join(F.broadcast(true), "query_id")
        .select(
            "query_id",
            "true_label",
            F.col("label").alias("predicted_label"),
            "n_votes",
        )
        .orderBy("query_id")
    )


@_register(
    "embedding_power_iteration",
    oracle="""
    WITH v AS (
      SELECT embedding::DOUBLE[] AS e FROM embeddings
    ), g AS (
      SELECT i.i AS i, j.j AS j, ROUND(SUM(v.e[i.i] * v.e[j.j]), 6) AS gv
      FROM v, range(1, 65) i(i), range(1, 65) j(j)
      GROUP BY i.i, j.j
    ), v1_raw AS (
      SELECT i, SUM(gv) AS x FROM g GROUP BY i
    ), v1 AS (
      SELECT i, ROUND(x / sqrt(SUM(x * x) OVER ()), 6) AS x FROM v1_raw
    ), v2_raw AS (
      SELECT g.i, SUM(g.gv * v1.x) AS x
      FROM g JOIN v1 ON g.j = v1.i GROUP BY g.i
    )
    SELECT i AS dim_idx,
           ROUND(x / sqrt(SUM(x * x) OVER ()), 6) AS eigvec
    FROM v2_raw ORDER BY dim_idx
    """,
    tags=("llmdata", "ml", "iterative"),
    doc="top principal direction of the embedding corpus by two power "
    "iterations on the Gram matrix: G accumulates distributedly "
    "(per-row outer products -> one shuffle into a 64x64 cell table, "
    "map-side combined), then each iteration is a 64-row join+agg — "
    "NO collect, the whole loop stays in the plan. G cells and the "
    "normalized vectors are 6dp-snapped on both sides so the "
    "fold-order of float sums cannot leak into the hash (the "
    "rolling_beta20 boundary-amplification fix). At 100 TB G stays "
    "DIMS^2-sized while the corpus grows; more iterations are more "
    "metadata-joins, exactly how kmeans_lloyd_2iter scales.",
)
def q_embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spread the scan before the 64x64 outer-product explode
    # (optimization r11, the PQ/matryoshka class): the embeddings scan
    # is one parquet split, so the 4096x row multiply otherwise runs
    # in a single task. G is a sum — partition-independent — and its
    # cells are 6dp-snapped before any downstream use.
    emb = (
        _t(spark, sf_dir, "embeddings")
        .select(F.col("embedding").cast("array<double>").alias("e"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    cells = emb.select(
        F.explode(
            F.expr(
                "flatten(transform(e, (x, i) -> "
                "transform(e, (y, j) -> "
                "struct(i + 1 AS i, j + 1 AS j, x * y AS p))))"
            )
        ).alias("c")
    ).select("c.i", "c.j", "c.p")
    g = cells.groupBy("i", "j").agg(_r6(F.sum("p")).alias("gv"))

    def normalize(df: DataFrame, col: str) -> DataFrame:
        w = Window.partitionBy()
        return df.select(
            "i",
            _r6(
                F.col(col) / F.sqrt(F.sum(F.col(col) * F.col(col)).over(w))
            ).alias("x"),
        )

    from pyspark.sql import Window

    v1 = normalize(
        g.groupBy("i").agg(F.sum("gv").alias("x")), "x"
    )
    v2_raw = (
        g.join(
            F.broadcast(v1.select(F.col("i").alias("j"), "x")), "j"
        )
        .groupBy("i")
        .agg(F.sum(F.col("gv") * F.col("x")).alias("x"))
    )
    w = Window.partitionBy()
    return v2_raw.select(
        F.col("i").alias("dim_idx"),
        _r6(
            F.col("x") / F.sqrt(F.sum(F.col("x") * F.col("x")).over(w))
        ).alias("eigvec"),
    ).orderBy("dim_idx")


def _d_guarded_cos(a: str, b: str) -> str:
    """DuckDB cosine with nullif-guarded norms (all-zero vector ->
    NULL, matching llmdata.similarity.norm)."""
    n = _DIMS + 1
    d_ab = _D_DOT.format(n=n, a=a, b=b)
    d_aa = _D_DOT.format(n=n, a=a, b=a)
    d_bb = _D_DOT.format(n=n, a=b, b=b)
    return (
        f"{d_ab} / (sqrt(nullif({d_aa}, 0.0))"
        f" * sqrt(nullif({d_bb}, 0.0)))"
    )


@_register(
    "label_centroid_similarity",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
      WHERE embedding IS NOT NULL AND label IS NOT NULL
    ), cent AS (
      SELECT label, list(mu ORDER BY pos) AS c, MAX(n1) AS n FROM (
        SELECT v.label, t.i AS pos, ROUND(AVG(e[t.i]), 6) AS mu,
               COUNT(*) AS n1
        FROM v, range(1, {_DIMS + 1}) AS t(i)
        GROUP BY v.label, t.i
      ) GROUP BY label
    )
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           ROUND({_d_guarded_cos('a.c', 'b.c')}, 6) AS cos_sim
    FROM cent a JOIN cent b ON a.label < b.label
    ORDER BY label_a, label_b
    """,
    tags=("llmdata", "similarity", "agg"),
    doc="Pairwise cosine between label centroids: labels whose "
    "centroids nearly coincide are merge candidates (or labeling "
    "noise) before the corpus trains a retriever. Centroids are "
    "6dp-snapped dimension-wise means (the embedding_label_outliers "
    "/ kmeans recipe, so both engines fold bit-identical vectors); "
    "the pair join is LABELS x LABELS on metadata-sized input — "
    "broadcast, never a shuffle. One partial-agg shuffle over the "
    "corpus total. All-zero centroids yield NULL cosine via "
    "nullif-guarded norms, never an ANSI divide.",
)
def q_label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & F.col("label").isNotNull())
        .select("label", _as_double(F.col("embedding")).alias("e"))
    )
    cent = (
        v.select("label", F.posexplode("e").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            _r6(F.avg("val")).alias("mu"),
            F.count(F.lit(1)).alias("n1"),
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mu"))),
                lambda s: s.getField("mu"),
            ).alias("c"),
            F.max("n1").alias("n"),
        )
    )
    # per-centroid norms folded once per side, not per label pair
    # (optimization r11 — interpreted-HOF fold; same doubles through
    # the same division)
    a = cent.select(
        F.col("label").alias("label_a"),
        F.col("c").alias("ca"),
        F.col("n").alias("n_a"),
        norm(F.col("c")).alias("na"),
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        F.col("c").alias("cb"),
        F.col("n").alias("n_b"),
        norm(F.col("c")).alias("nb"),
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            _r6(
                dot(F.col("ca"), F.col("cb")) / (F.col("na") * F.col("nb"))
            ).alias("cos_sim"),
        )
        .orderBy("label_a", "label_b")
    )


_N_ANCHORS = 10
_K_NEG = 3


@_register(
    "hard_negative_mining",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
      WHERE embedding IS NOT NULL AND label IS NOT NULL
    ), anch AS (
      SELECT vec_id AS anchor_id, label AS anchor_label, e AS ae
      FROM v WHERE vec_id < {_N_ANCHORS}
    ), cand AS (
      SELECT a.anchor_id, a.anchor_label,
             c.vec_id AS neg_id, c.label AS neg_label,
             ROUND({_d_guarded_cos('a.ae', 'c.e')}, 6) AS cos_sim
      FROM anch a JOIN v c ON c.label <> a.anchor_label
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY anchor_id
               ORDER BY cos_sim DESC, neg_id) AS rk
      FROM cand WHERE cos_sim IS NOT NULL
    )
    SELECT anchor_id, anchor_label, neg_id, neg_label, cos_sim,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_K_NEG}
    ORDER BY anchor_id, rk
    """,
    tags=("llmdata", "similarity", "window"),
    doc="Contrastive hard-negative mining: for each anchor vector, "
    f"the top-{_K_NEG} most-cosine-similar vectors carrying a "
    "DIFFERENT label — the pair generator for contrastive retriever "
    "training. Anchors are a tiny broadcast side against one corpus "
    "scan; cosines are rounded to 6dp BEFORE ranking (neg_id "
    "tiebreak) so a last-ulp fold difference can never flip a rank. "
    "The per-anchor top-k runs the salted two-stage form "
    "(doc_weighted_sample_by_source's shape): stage 1 ranks inside "
    "(anchor, md5-salt) buckets and keeps k, stage 2 ranks the "
    "16k survivors exactly — no hot reducer even when one anchor "
    "partition would otherwise see the whole corpus. All-zero "
    "vectors have NULL cosine (nullif-guarded norm) and are "
    "excluded identically on both engines.",
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-vector norms are folded ONCE per side before the anchor
    # join (optimization r11, the srp_lsh_topk rewrite's pattern):
    # the norm fold is an interpreted higher-order function, and
    # computing it inside the pair projection re-ran it per (anchor,
    # candidate) pair — 2 x |anchors| folds per vector instead of 1.
    # Same doubles through the same division; pair set unchanged.
    v = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & F.col("label").isNotNull())
        .select("vec_id", "label", _as_double(F.col("embedding")).alias("e"))
        .withColumn("en", norm(F.col("e")))
    )
    anch = v.filter(F.col("vec_id") < _N_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("e").alias("ae"),
        F.col("en").alias("an"),
    )
    cand = (
        v.join(
            F.broadcast(anch),
            F.col("label") != F.col("anchor_label"),
        )
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            _r6(
                dot(F.col("ae"), F.col("e")) / (F.col("an") * F.col("en"))
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim").isNotNull())
    )
    topk = salted_grouped_topk(
        cand,
        ["anchor_id"],
        [F.desc("cos_sim"), F.asc("neg_id")],
        _K_NEG,
        F.expr(word32_sql("CAST(neg_id AS STRING)")),
    )
    return (
        topk.select(
            "anchor_id",
            "anchor_label",
            "neg_id",
            "neg_label",
            "cos_sim",
            F.col("rk").cast("long").alias("rk"),
        )
        .orderBy("anchor_id", "rk")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compression path 100 TB vector
# stores actually serve from (Jegou et al. 2011, "Product Quantization
# for Nearest Neighbor Search"): split each 64-d vector into M=8
# subvectors of 8 dims, quantize every subvector to one of K=16
# codewords per subspace, store 8 nibbles instead of 256 bytes.
#
# - pq_codebook_assign: code assignment + reconstruction error. The
#   codebooks are the first K non-excluded vectors' subslices (the
#   deterministic trained-k-means stand-in established by
#   embedding_ivf_topk — identical plan shape to a trained codebook).
# - pq_adc_recall_eval: asymmetric-distance search (query stays exact,
#   database is codes; distances come from a per-query M x K lookup
#   table) evaluated against brute-force exact L2 — the self-certifying
#   recall@10 pattern of ann_recall_eval / minhash_lsh_recall_eval.
#
# Determinism: subspace distances fold sequentially over identical
# expressions in both engines (bit-identical doubles); every cross-row
# sum (reconstruction MSE, ADC totals) is quantized to integer
# micro-units per subspace FIRST, so group sums are exact BIGINT adds
# and no float fold order can flip a rank or a hash.


_M = 8  # subspaces
_SUB = 8  # dims per subspace (M * SUB = 64)
_PQ_K = 16  # codewords per subspace
_NQ = 10  # eval queries
_TOPK = 10  # recall@10
_SHORTLIST = 50  # ADC shortlist size re-ranked exactly


# d2 between the m-th subvector of two 64-d arrays, by offset indexing
# (no slicing): both engines transform to squared diffs then reduce —
# identical sequential folds, bit-identical doubles.
_D_SUBD2 = (
    "list_reduce(list_transform(range(1, {s} + 1),"
    " i -> ({a}[{m} * {s} + i] - {b}[{m} * {s} + i])"
    " * ({a}[{m} * {s} + i] - {b}[{m} * {s} + i])), (x, y) -> x + y)"
)
_S_SUBD2 = (
    "aggregate(transform(sequence(1, {s}),"
    " i -> (element_at({a}, {m} * {s} + i) - element_at({b}, {m} * {s} + i))"
    " * (element_at({a}, {m} * {s} + i) - element_at({b}, {m} * {s} + i))),"
    " 0D, (acc, x) -> acc + x)"
)


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # any-NaN vectors are corrupt uploads: excluded like NULL vectors
    # (a NaN element would poison every subspace distance and crash
    # the micro-quantizing integer cast in both engines)
    return (
        _t(spark, sf_dir, "embeddings")
        .filter(
            F.col("embedding").isNotNull()
            & ~F.exists("embedding", lambda x: not_finite(x))
        )
        .select("vec_id", _as_double(F.col("embedding")).alias("e"))
        # spread the vector set across the cluster before the M x K
        # distance expansion: the embeddings scan is one small file at
        # test scale, and without this every interpreted subspace-L2
        # evaluation of the crossJoin ran in a SINGLE task
        # (optimization r11, guide §2.5 input skew; same idiom as the
        # corpus repartitions). Cost: one exchange of (id, vector)
        # rows; scale-adaptive via defaultParallelism.
        .repartition(spark.sparkContext.defaultParallelism)
    )


# (vec_id, m, code, d2_micro): the PQ assignment both queries share.
# codebook = subslices of the first K vectors; assignment = argmin
# subspace L2 with code tiebreak; d2 quantized to integer micro-units.
_ASSIGN_CTE = f"""
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE embedding IS NOT NULL
        AND len(list_filter(embedding, x -> NOT isfinite(x))) = 0
    ), cb AS (
      SELECT vec_id AS code, e AS c FROM v WHERE vec_id < {_PQ_K}
    ), cand AS (
      SELECT v.vec_id, t.m, cb.code,
             CAST(round({_D_SUBD2.format(a='v.e', b='cb.c', m='t.m', s=_SUB)}
                        * 1000000) AS BIGINT) AS d2_micro
      FROM v CROSS JOIN range(0, {_M}) AS t(m) CROSS JOIN cb
    ), assigned AS (
      SELECT vec_id, m, code, d2_micro,
             ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                ORDER BY d2_micro, code) AS rk
      FROM cand
    ), codes AS (
      SELECT vec_id, m, code, d2_micro FROM assigned WHERE rk = 1
    )
"""


def _codebook(v: DataFrame) -> DataFrame:
    """K codewords per subspace: subslices of the first K vectors
    (the deterministic trained-k-means stand-in) — M x K rows, KBs at
    any corpus size, always broadcast."""
    return v.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("code"), F.col("e").alias("c")
    )


def _subspace_dist(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cb: DataFrame,
    out_col: str,
) -> DataFrame:
    """(id, m, code, out_col): micro-quantized subspace L2 between
    every row's m-th subvector and every codeword — the ONE
    codebook-distance construction both PQ queries ride (assignment
    `cand` side and the per-query ADC lookup table differ only in
    which frame feeds it)."""
    spark = df.sparkSession
    ms = spark.range(_M).select(F.col("id").cast("int").alias("m"))
    return (
        df.crossJoin(F.broadcast(ms))
        .crossJoin(F.broadcast(cb))
        .select(
            id_col,
            "m",
            "code",
            F.round(
                F.expr(_S_SUBD2.format(a=vec_col, b="c", m="m", s=_SUB))
                * 1_000_000
            )
            .cast("bigint")
            .alias(out_col),
        )
    )


def _spark_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, code, d2_micro) — Spark mirror of _ASSIGN_CTE."""
    v = _vecs(spark, sf_dir)
    cand = _subspace_dist(v, "vec_id", "e", _codebook(v), "d2_micro")
    w = Window.partitionBy("vec_id", "m").orderBy("d2_micro", "code")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "m", "code", "d2_micro")
    )


@_register(
    "pq_codebook_assign",
    oracle=f"""
    WITH {_ASSIGN_CTE}
    SELECT vec_id,
           array_to_string(list(CAST(code AS VARCHAR) ORDER BY m), '-')
             AS pq_code,
           ROUND(SUM(d2_micro) * 1.0 / ({_M * _SUB} * 1000000.0), 6)
             AS recon_mse
    FROM codes
    GROUP BY vec_id
    ORDER BY vec_id
    """,
    tags=("llmdata", "similarity", "compress"),
    doc=f"Product-quantization assignment: {_M} subspaces x {_SUB} "
    f"dims, K={_PQ_K} codewords per subspace (first-{_PQ_K}-vectors "
    "codebook — the embedding_ivf_topk deterministic stand-in for "
    "trained k-means, same plan shape), code = argmin subspace L2 "
    "with code tiebreak. Output is the dash-joined nibble string "
    f"(the {_M}-byte representation replacing 256 bytes/vector) and "
    "the reconstruction MSE. Subspace distances are quantized to "
    "integer micro-units BEFORE the per-vector sum, so the MSE is an "
    "exact BIGINT add in both engines. The codebook is M x K rows "
    "(KBs at any corpus size) and broadcasts; assignment is one "
    "scan-shaped pass, one partial-agg shuffle on vec_id.",
)
def q_pq_codebook_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = _spark_assign(spark, sf_dir)
    return (
        codes.groupBy("vec_id")
        .agg(
            F.concat_ws(
                "-",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "code"))),
                    lambda s: s.getField("code").cast("string"),
                ),
            ).alias("pq_code"),
            F.sum("d2_micro").alias("s_micro"),
        )
        .select(
            "vec_id",
            "pq_code",
            _r6(
                F.col("s_micro") * 1.0 / (_M * _SUB * 1_000_000.0)
            ).alias("recon_mse"),
        )
        .orderBy("vec_id")
    )


@_register(
    "pq_adc_recall_eval",
    oracle=f"""
    WITH {_ASSIGN_CTE},
    q AS (
      SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {_NQ}
    ), lut AS (
      -- per-query asymmetric lookup table: d2(query subvector, every
      -- codeword) — NQ x M x K rows, metadata-sized at any scale
      SELECT q.query_id, t.m, cb.code,
             CAST(round({_D_SUBD2.format(a='q.qe', b='cb.c', m='t.m', s=_SUB)}
                        * 1000000) AS BIGINT) AS d2_micro
      FROM q CROSS JOIN range(0, {_M}) AS t(m) CROSS JOIN cb
    ), adc AS (
      SELECT l.query_id, c.vec_id AS cand_id,
             SUM(l.d2_micro) AS adc_micro
      FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
      WHERE c.vec_id != l.query_id
      GROUP BY l.query_id, c.vec_id
    ), shortlist AS (
      SELECT query_id, cand_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_micro, cand_id) AS srk
      FROM adc
    ), approx AS (
      -- exact re-rank of the ADC shortlist: the PQ serving path
      SELECT s.query_id, s.cand_id,
             ROW_NUMBER() OVER (PARTITION BY s.query_id ORDER BY
               CAST(round({_D_SUBD2.format(a='q.qe', b='cv.e', m='0', s=64)}
                          * 1000000) AS BIGINT), s.cand_id) AS rk
      FROM (SELECT * FROM shortlist WHERE srk <= {_SHORTLIST}) s
      JOIN q ON q.query_id = s.query_id
      JOIN v cv ON cv.vec_id = s.cand_id
    ), exact AS (
      SELECT q.query_id, v.vec_id AS cand_id,
             ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
               CAST(round({_D_SUBD2.format(a='q.qe', b='v.e', m='0', s=64)}
                          * 1000000) AS BIGINT), v.vec_id) AS rk
      FROM q JOIN v ON v.vec_id != q.query_id
    )
    SELECT a.query_id,
           CAST(COUNT(e.cand_id) AS BIGINT) AS hits,
           ROUND(COUNT(e.cand_id) * 1.0 / {_TOPK}, 6) AS recall_at_{_TOPK},
           CAST(COUNT(e.cand_id) >= {_TOPK // 2} AS BOOLEAN)
             AS meets_floor
    FROM (SELECT * FROM approx WHERE rk <= {_TOPK}) a
    LEFT JOIN (SELECT * FROM exact WHERE rk <= {_TOPK}) e
      ON e.query_id = a.query_id AND e.cand_id = a.cand_id
    GROUP BY a.query_id
    ORDER BY a.query_id
    """,
    tags=("llmdata", "similarity", "eval"),
    doc="The PQ serving path, self-certified: ADC shortlist "
    f"(top-{_SHORTLIST} by asymmetric distance — the database side "
    "is CODES only, distances come from a per-query M x K lookup "
    f"table of {_NQ}x{_M}x{_PQ_K} broadcast rows joined on (m, code)) "
    "followed by exact re-rank of just the shortlist, evaluated as "
    "recall@10 against brute-force exact L2 plus a >=0.5 floor "
    "certificate (ann_recall_eval's pattern). This is the 100 TB "
    "shape: full-corpus work touches 8 bytes/vector + one integer "
    "partial-agg; the expensive exact distance runs on "
    f"{_SHORTLIST} rows per query. ADC totals are exact BIGINT "
    "sums of micro-quantized subspace distances; every rank "
    "tiebreaks on cand_id in both engines.",
)
def q_pq_adc_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vecs(spark, sf_dir)
    codes = _spark_assign(spark, sf_dir)
    q = v.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    lut = _subspace_dist(q, "query_id", "qe", _codebook(v), "q_d2_micro")
    adc = (
        codes.drop("d2_micro")
        .join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(F.sum("q_d2_micro").alias("adc_micro"))
    )
    wa = Window.partitionBy("query_id").orderBy("adc_micro", "cand_id")
    shortlist = (
        adc.withColumn("srk", F.row_number().over(wa))
        .filter(F.col("srk") <= _SHORTLIST)
        .select("query_id", "cand_id")
    )
    exact_d2 = (
        F.round(
            F.expr(_S_SUBD2.format(a="qe", b="e", m="0", s=64))
            * 1_000_000
        ).cast("bigint")
    )
    cv = v.select(F.col("vec_id").alias("cand_id"), "e")
    wr = Window.partitionBy("query_id").orderBy("rd2", "cand_id")
    approx = (
        shortlist.join(F.broadcast(q), "query_id")
        .join(cv, "cand_id")
        .select("query_id", "cand_id", exact_d2.alias("rd2"))
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= _TOPK)
        .select("query_id", "cand_id")
    )
    we = Window.partitionBy("e_qid").orderBy("d2", "e_cand")
    exact = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            F.col("query_id").alias("e_qid"),
            F.col("vec_id").alias("e_cand"),
            exact_d2.alias("d2"),
        )
        .withColumn("rk", F.row_number().over(we))
        .filter(F.col("rk") <= _TOPK)
        .select("e_qid", "e_cand")
    )
    return (
        approx.join(
            exact,
            (F.col("query_id") == F.col("e_qid"))
            & (F.col("cand_id") == F.col("e_cand")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("e_cand").alias("hits"))
        .select(
            "query_id",
            F.col("hits").cast("long").alias("hits"),
            _r6(F.col("hits") * 1.0 / _TOPK).alias(f"recall_at_{_TOPK}"),
            (F.col("hits") >= _TOPK // 2).alias("meets_floor"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation eval — how much ANN quality survives using
# only the first d dimensions of each embedding (Kusupati et al. 2022,
# "Matryoshka Representation Learning"): the cheapest vector-compression
# knob a 100 TB store has (prefix-slice at read time, no re-encoding),
# evaluated with the same self-certifying recall pattern as
# pq_adc_recall_eval / ann_recall_eval.
#
# For d in {8, 16, 32, 64}: rank the corpus by prefix-d cosine for each
# of the 10 probe queries, compare the top-10 against the full-64-dim
# top-10 (d=64 is by construction recall 1.0 — the eval's built-in
# sanity row). Prefix cosines fold sequentially over identical
# expressions in both engines; ranks use 6dp-rounded cosine with
# cand_id tiebreak; zero-prefix vectors get NULL cosine via
# nullif-guarded prefix norms and are excluded identically.


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

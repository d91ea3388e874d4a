"""Similarity search over embedding columns (array<float>).

Two paths:
  cosine_topk       exact brute-force top-k — the correctness baseline;
                    O(|Q|·|C|) with a broadcast of the (small) query
                    side, JVM-side fold for the dot product.
  srp_lsh_topk      sign-random-projection LSH: bucket by the sign
                    pattern of `n_planes` fixed pseudo-random
                    hyperplane projections, search within the bucket —
                    the scale path (candidates shrink ~2^planes-fold).

The hyperplanes are md5-derived constants (llmdata/hashing.py style),
generated in Python and inlined as literals, so the DuckDB oracle can
embed the identical planes and every stage stays deterministic.

Numerics: embeddings are cast array<float> → array<double> (exact
widening) and folded sequentially; DuckDB's list_reduce folds in the
same order, so cosines agree bit-for-bit before rounding.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stockpulse_spark.functions.localrel import values_df


def pseudo_planes(n_planes: int, dim: int, table: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-0.5, 0.5]^dim,
    derived from md5 so any engine can regenerate them. `table` seeds
    an independent plane family per LSH hash table."""
    planes = []
    for j in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{table}_{j}_{i}".encode()).hexdigest()[:8]
            row.append(round(int(h, 16) / 2**32 - 0.5, 9))
        planes.append(row)
    return planes


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """L2 norm, NULL for the all-zero vector: a direction-less vector
    has no defined cosine, and NULL propagates through the division
    (no ANSI divide-by-zero) and sorts NULLS LAST under the DESC
    rank ordering in BOTH engines (oracle fragments mirror with
    sqrt(nullif(Σx², 0)))."""
    return F.sqrt(F.nullif(dot(a, a), F.lit(0.0)))


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Broadcast the query side (it is small by definition); the corpus
    scan streams through a codegen'd fold — no shuffle until the
    per-query top-k, which aggregates partial top-k heaps.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    # Callers with a large query side should pass a pre-spread corpus
    # (corpus.repartition(...)): the |Q| x |C| interpreted cosine folds
    # run inside the corpus scan's tasks, one per input split.
    # Measured both ways at sf0.1 (optimization r11): spreading here
    # unconditionally costs the small-|Q| headline caller ~0.1 s of
    # exchange for nothing, while the |Q|=200 kNN caller wins 2.6x by
    # spreading — so the spread is the caller's call.
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    pairs = F.broadcast(q).crossJoin(c).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    cos = dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = pairs.select("query_id", "neighbor_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def srp_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """LSH bucket id: bit j = sign(vec · plane_j)."""
    out = F.lit(0)
    for j, p in enumerate(planes):
        lit_plane = F.array(*[F.lit(x) for x in p])
        bit = F.when(dot(vec, lit_plane) > 0, F.lit(2**j)).otherwise(F.lit(0))
        out = out + bit
    return out


def srp_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k with multi-table SRP-LSH.

    Single-table sign-projection recall decays as p^planes with
    p = 1 − θ/π (for moderately-similar neighbors, e.g. cosine 0.4 →
    p ≈ 0.63 → 0.16 at 4 planes); the standard fix is L independent
    tables, recall 1 − (1 − p^planes)^L (≈ 0.75 at L = 8). Candidates
    are matched per (table, bucket) via ONE equi-join on the exploded
    bucket array, distinct-ed on the pair before scoring, so each pair
    pays the cosine fold once. At scale: planes ↑ shrink buckets,
    tables ↑ buy recall, both as plain hash shuffles on dense keys —
    no cross join anywhere."""
    from pyspark.sql import Window

    # The planes live as DATA (one VALUES row per TABLE carrying its
    # plane matrix), not as inlined literals: 8×4×64 literal arrays
    # made whole-stage codegen compile for ~10 s. The bucket id is
    # assembled IN-ROW with interpreted higher-order functions
    # (optimization r12): the earlier per-(table, plane) row form paid
    # a (vec × table × plane) broadcast nested-loop expansion plus a
    # (id, tidx) groupBy exchange to reassemble the bits; the in-row
    # fold computes the same dot signs (identical zip_with/aggregate
    # fold order) and the same ascending-j integer sum with no
    # exchange. Interpreted HOFs are CodegenFallback, so the plane
    # matrices do not re-trigger the codegen blow-up.
    spark = queries.sparkSession
    tbl_rows = [
        (t, pseudo_planes(n_planes, dim, table=t)) for t in range(n_tables)
    ]
    # VALUES LocalRelation, not createDataFrame: the pickled-RDD path
    # ran one Python-worker task per partition on EVERY action
    # (functions/localrel.py — optimization r11)
    planes_df = values_df(spark, tbl_rows, ["tidx", "planes"])

    def with_buckets(df, idname):
        v = df.select(
            F.col(id_col).alias(idname), _as_double(F.col(vec_col)).alias(f"{idname}_v")
        )
        bucket = F.expr(
            "CAST(aggregate(transform(planes, (p, j) -> CASE WHEN "
            f"aggregate(zip_with(`{idname}_v`, p, (x, y) -> x * y), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) > 0 "
            "THEN shiftleft(1, j) ELSE 0 END), 0, (a, b) -> a + b) AS INT)"
        )
        return v.crossJoin(F.broadcast(planes_df)).select(
            idname, "tidx", bucket.alias("bucket")
        )

    # ids-only through the bucket equi-join and the pair dedup
    # (optimization r11): vectors are rejoined only for the post-dedup
    # cosine, and the per-VECTOR norm is computed once per side rather
    # than twice per candidate pair (the norm fold is an interpreted
    # higher-order function — per-candidate evaluation multiplied it by
    # the candidate count). Pair set and cosine bits are unchanged.
    q = with_buckets(queries, "query_id")
    c = with_buckets(corpus, "neighbor_id")
    cand = (
        q.join(c, on=["tidx", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("query_id_v"),
    ).withColumn("qn", norm(F.col("query_id_v")))
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("neighbor_id_v"),
    ).withColumn("cn", norm(F.col("neighbor_id_v")))
    cos = dot(F.col("query_id_v"), F.col("neighbor_id_v")) / (
        F.col("qn") * F.col("cn")
    )
    scored = (
        cand.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )

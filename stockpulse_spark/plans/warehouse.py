"""Warehouse operations: MERGE/upsert, SCD2 islands and point-in-time
joins, layout and compaction plans, output sharding, data-quality
expectations, table profiling, governance (k-anonymity) and the
planner estimates (join cardinality, partition skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stockpulse_spark.functions.nullsafe import max_by_nn, nan_nn
from stockpulse_spark.llmdata.hashing import hex_to_int_sql, word32_sql
from stockpulse_spark.operators.merge import merge_upsert
from stockpulse_spark.plans.registry import _r4, _r6, _register, _t


# ---------------------------------------------------------------------------
# Warehouse maintenance / curation shapes: batch MERGE (upsert)
# reconciliation, gaps-and-islands (SCD2-style validity intervals),
# deterministic train/val/test splitting, and a fixed-bin histogram.
#
# Reference parity: the reference's nightly refresh is write-then-dedup
# (bigquery_loader.py write cycle + dedup_pipeline.py:31-53) — MERGE is
# that cycle expressed as one declarative reconciliation. The histogram
# matches its dashboard's distribution panel family (app/dashboard.py
# volume/price distributions); islands and splits are the next asks of a
# warehouse user curating training data.


_CUTOFF = "2000-01-01"


@_register(
    "orders_merge_upsert",
    oracle=f"""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             o_orderdate < TIMESTAMP '{_CUTOFF}' AS is_target,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey, o_orderdate < TIMESTAMP '{_CUTOFF}'
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ), t AS (SELECT * FROM ranked WHERE rn = 1 AND is_target),
       s AS (SELECT * FROM ranked WHERE rn = 1 AND NOT is_target)
    SELECT s.o_custkey, s.o_orderkey, s.o_orderdate,
           ROUND(s.o_totalprice, 4) AS o_totalprice,
           CASE WHEN t.o_custkey IS NULL THEN 'insert' ELSE 'update' END
             AS merge_action
    FROM s LEFT JOIN t ON t.o_custkey = s.o_custkey
    UNION ALL
    SELECT t.o_custkey, t.o_orderkey, t.o_orderdate,
           ROUND(t.o_totalprice, 4) AS o_totalprice, 'keep' AS merge_action
    FROM t WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.o_custkey = t.o_custkey)
    ORDER BY o_custkey
    """,
    tags=("join", "merge"),
    doc="Batch MERGE/upsert (operators/merge.py): the per-customer "
    "latest-order snapshot before the cutoff is the target, the batch "
    "after the cutoff is the source; one full-outer join on the merge "
    "key chooses the newer row and labels every output row insert/"
    "update/keep. The format-independent core of MERGE INTO — the "
    "same reconciliation the reference runs as write-then-dedup "
    "(dedup_pipeline.py:31-53). At scale: one key shuffle per side "
    "(none for the target if it's bucketed by the key), chooser in "
    "codegen. The oracle states the identical semantics as "
    "source-wins UNION ALL unmatched-target.",
)
def q_orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    cutoff = F.lit(_CUTOFF).cast("timestamp")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    target = latest(o.filter(F.col("o_orderdate") < cutoff))
    source = latest(o.filter(F.col("o_orderdate") >= cutoff))
    merged = merge_upsert(
        target, source, keys=["o_custkey"], order_by="o_orderdate"
    )
    return merged.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        _r4(F.col("o_totalprice")).alias("o_totalprice"),
        F.col("__merge_action").alias("merge_action"),
    ).orderBy("o_custkey")


@_register(
    "value_band_islands",
    oracle="""
    -- CAST: DuckDB date_trunc('day') yields DATE, Spark a timestamp
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(floor(last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) / 50.0) AS INTEGER) AS band
      FROM events GROUP BY user_id, date_trunc('day', ts)
    ), grp AS (
      SELECT user_id, day, band,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
           - ROW_NUMBER() OVER (PARTITION BY user_id, band ORDER BY day)
               AS island
      FROM daily
    )
    SELECT user_id, band,
           MIN(day) AS valid_from, MAX(day) AS valid_to,
           COUNT(*) AS n_days
    FROM grp GROUP BY user_id, band, island
    ORDER BY user_id, valid_from
    """,
    tags=("window", "scd"),
    doc="Gaps-and-islands: contiguous runs of each user's daily-close "
    "price band collapsed to (valid_from, valid_to) intervals — the "
    "SCD2 history-build shape, via the row_number-difference trick "
    "(two window ranks over the SAME partitioning share one exchange; "
    "the island id is their difference, constant within a run). Band "
    "edges compare identical doubles in both engines because the "
    "daily close is the same arg_max-selected parquet value.",
)
def q_value_band_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.floor(max_by_nn(nan_nn("value"), "ts") / 50.0).cast("int").alias("band")
    )
    wa = Window.partitionBy("user_id").orderBy("day")
    wb = Window.partitionBy("user_id", "band").orderBy("day")
    grp = daily.withColumn(
        "island", F.row_number().over(wa) - F.row_number().over(wb)
    )
    return (
        grp.groupBy("user_id", "band", "island")
        .agg(
            F.min("day").alias("valid_from"),
            F.max("day").alias("valid_to"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .select("user_id", "band", "valid_from", "valid_to", "n_days")
        .orderBy("user_id", "valid_from")
    )


@_register(
    "scd2_point_in_time_join",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(floor(last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) / 50.0) AS INTEGER) AS band
      FROM events GROUP BY user_id, date_trunc('day', ts)
    ), grp AS (
      SELECT user_id, day, band,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
           - ROW_NUMBER() OVER (PARTITION BY user_id, band ORDER BY day)
               AS island
      FROM daily
    ), dim AS (
      SELECT user_id, band,
             MIN(day) AS valid_from, MAX(day) AS valid_to
      FROM grp GROUP BY user_id, band, island
    )
    SELECT d.band,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users,
           ROUND(SUM(e.value), 4) AS total_value
    FROM events e
    JOIN dim d ON d.user_id = e.user_id
     AND CAST(date_trunc('day', e.ts) AS TIMESTAMP)
         BETWEEN d.valid_from AND d.valid_to
    GROUP BY d.band ORDER BY d.band
    """,
    tags=("join", "scd"),
    doc="Point-in-time (PIT) join against the SCD2 dimension built by "
    "value_band_islands: every event matched to the band interval "
    "effective on its day — the as-of-history lookup that makes "
    "training features leak-free (joining today's attributes onto "
    "yesterday's facts is the classic leakage bug). The interval "
    "predicate rides the user_id equi-join; per-user interval counts "
    "are bounded (bands change slowly), so fanout is checked, never "
    "quadratic. Every event lands in EXACTLY one interval by "
    "construction — asserted as an invariant test.",
)
def q_scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.floor(max_by_nn(nan_nn("value"), "ts") / 50.0).cast("int").alias("band")
    )
    wa = Window.partitionBy("user_id").orderBy("day")
    wb = Window.partitionBy("user_id", "band").orderBy("day")
    grp = daily.withColumn(
        "island", F.row_number().over(wa) - F.row_number().over(wb)
    )
    dim = grp.groupBy("user_id", "band", "island").agg(
        F.min("day").alias("valid_from"), F.max("day").alias("valid_to")
    )
    e = ev.select(
        "user_id", "value", F.date_trunc("day", "ts").alias("e_day")
    )
    joined = e.join(
        dim.select("user_id", "band", "valid_from", "valid_to"),
        on=["user_id"],
    ).filter(
        F.col("e_day").between(F.col("valid_from"), F.col("valid_to"))
    )
    return (
        joined.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            _r4(F.sum("value")).alias("total_value"),
        )
        .orderBy("band")
    )


_N_SHARDS = 16
_SHARD_SQL = word32_sql("CAST(doc_id AS STRING)") + f" % {_N_SHARDS}"


@_register(
    "shard_assignment_balance",
    oracle=f"""
    WITH s AS (
      SELECT {_SHARD_SQL} AS shard, length(text) AS n_chars
      FROM documents
    ), per AS (
      SELECT shard,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM s GROUP BY shard
    )
    SELECT CAST(shard AS INT) AS shard, n_docs, total_chars,
           MAX(n_docs) OVER () * 1.0 <= 2.0 * AVG(n_docs) OVER ()
             AS balanced_2x
    FROM per ORDER BY shard
    """,
    tags=("llmdata", "warehouse", "sampling"),
    doc="Write-side output sharding for a training corpus: md5-derived "
    f"32-bit key hash mod {_N_SHARDS} (cross-engine deterministic — "
    "llmdata/hashing.py, NOT Spark's hash()), per-shard doc/byte "
    "rollup, and a hashed balance certificate (max shard <= 2x mean). "
    "This is the repartition(expr) a 100 TB corpus writer uses so "
    "every output file lands near the same size regardless of source "
    "skew; the certificate is the check that the key really spreads — "
    "a sequential or low-entropy id would fail it. One partial-agg "
    f"shuffle on the shard key; the {_N_SHARDS}-row balance window is "
    "post-aggregation (driver-scale).",
)
def q_shard_assignment_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    per = (
        d.select(
            F.expr(_SHARD_SQL).alias("shard"),
            F.length("text").alias("n_chars"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )
    w = Window.partitionBy()
    return per.select(
        F.col("shard").cast("int").alias("shard"),
        "n_docs",
        "total_chars",
        (
            F.max("n_docs").over(w) * 1.0 <= 2.0 * F.avg("n_docs").over(w)
        ).alias("balanced_2x"),
    ).orderBy("shard")


# ---------------------------------------------------------------------------
# Data-layout and sliding-window shapes: Z-order clustering,
# sliding 7-day actives, and a weighted median.
#
# Reference parity: the reference's warehouse relies on (symbol, ts)
# sort order for pruning (bigquery_loader DDL clustering); at 100 TB a
# SINGLE sort key can't serve both per-user and per-time queries —
# Z-ordering interleaves both dimensions so min/max file stats prune on
# either predicate. zorder_clustering_stats measures that directly.
# sliding_7d_active_users is the bounded-fanout rewrite of the sliding
# distinct-count (the op that naively needs a 7-day shuffle window per
# day); weighted_median_price is the order-statistic the plain median
# family (value_percentiles) can't express.


_BITS = 8


def _morton_sql(a: str, b: str) -> str:
    """Bit-interleave two 8-bit ints into a 16-bit Morton code using
    only & * + with precomputed power-of-two literals — `&` is the
    one bit operator with identical syntax and semantics in Spark SQL
    and DuckDB (shift operators differ), and it stays in codegen."""
    terms = []
    for i in range(_BITS):
        terms.append(
            f"(CASE WHEN (({a}) & {1 << i}) <> 0"
            f" THEN {1 << (2 * i + 1)} ELSE 0 END)"
        )
        terms.append(
            f"(CASE WHEN (({b}) & {1 << i}) <> 0"
            f" THEN {1 << (2 * i)} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


@_register(
    "zorder_clustering_stats",
    oracle=f"""
    WITH pts AS (
      SELECT user_id % 256 AS a,
             (epoch_us(ts) // 3600000000) % 256 AS b
      FROM events
    ), coded AS (
      SELECT a, b,
             {_morton_sql('a', 'b')} // 256 AS z_bucket,
             a AS linear_bucket
      FROM pts
    ), z AS (
      SELECT 'zorder' AS layout, z_bucket AS bucket,
             COUNT(*) AS n,
             COUNT(DISTINCT a) AS d_users,
             MAX(b) - MIN(b) AS hour_span
      FROM coded GROUP BY z_bucket
    ), lin AS (
      SELECT 'linear' AS layout, linear_bucket AS bucket,
             COUNT(*) AS n,
             COUNT(DISTINCT a) AS d_users,
             MAX(b) - MIN(b) AS hour_span
      FROM coded GROUP BY linear_bucket
    ), unioned AS (
      SELECT * FROM z UNION ALL SELECT * FROM lin
    )
    SELECT layout,
           COUNT(*) AS n_buckets,
           ROUND(AVG(d_users), 6) AS avg_distinct_users,
           ROUND(AVG(hour_span), 6) AS avg_hour_span,
           MAX(n) AS max_bucket_rows
    FROM unioned GROUP BY layout ORDER BY layout
    """,
    tags=("layout", "agg"),
    doc="Z-order vs single-key clustering, measured: Morton-interleave "
    "(user % 256, hour % 256) into 256 buckets and compare per-bucket "
    "user-cardinality and hour-span against user-only bucketing. "
    "Z-order buckets stay tight on BOTH dimensions (small d_users AND "
    "small hour_span), which is exactly what lets parquet min/max "
    "stats prune files for either predicate — the layout decision "
    "behind a 100 TB table serving mixed per-user and per-time "
    "queries. The interleave is integer //%* arithmetic — dialect-"
    "portable, whole-stage codegen, no UDF.",
)
def q_zorder_clustering_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        (F.col("user_id") % 256).alias("a"),
        (F.expr("unix_micros(ts) div 3600000000") % 256).alias("b"),
    )
    coded = pts.select(
        "a",
        "b",
        F.expr(f"{_morton_sql('a', 'b')} div 256").alias("z_bucket"),
        F.col("a").alias("linear_bucket"),
    )

    def layout(df: DataFrame, key: str, name: str) -> DataFrame:
        return (
            df.groupBy(F.col(key).alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("a").alias("d_users"),
                (F.max("b") - F.min("b")).alias("hour_span"),
            )
            .select(F.lit(name).alias("layout"), "*")
        )

    unioned = layout(coded, "z_bucket", "zorder").unionAll(
        layout(coded, "linear_bucket", "linear")
    )
    return (
        unioned.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            _r6(F.avg("d_users")).alias("avg_distinct_users"),
            _r6(F.avg("hour_span")).alias("avg_hour_span"),
            F.max("n").alias("max_bucket_rows"),
        )
        .orderBy("layout")
    )


_PROFILE_NUMERIC = ("o_orderkey", "o_custkey", "o_totalprice")
_PROFILE_ALL = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


@_register(
    "table_profile_orders",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS col_name,
               COUNT(*) AS n_rows,
               COUNT(*) - COUNT({c}) AS n_nulls,
               COUNT(DISTINCT {c}) AS n_distinct,
               {f"ROUND(CAST(MIN({c}) AS DOUBLE), 6)" if c in _PROFILE_NUMERIC else "CAST(NULL AS DOUBLE)"} AS min_num,
               {f"ROUND(CAST(MAX({c}) AS DOUBLE), 6)" if c in _PROFILE_NUMERIC else "CAST(NULL AS DOUBLE)"} AS max_num
        FROM orders
        """
        for c in _PROFILE_ALL
    )
    + " ORDER BY col_name",
    tags=("agg", "profiling"),
    doc="column profiler for the orders table: row/null/distinct "
    "counts per column, numeric min/max, one row per column. The "
    "Spark plan is ONE scan: a single wide aggregate computes every "
    "metric (multi-distinct via Catalyst's expand), then a stack() "
    "unpivot reshapes the one wide row — at 100 TB the table is read "
    "once, not once per column (the oracle's UNION ALL form is only "
    "the spec). The scheduled ingest health check of a warehouse.",
)
def q_table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_ALL:
        aggs.append(F.count(c).alias(f"cnt_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
        if c in _PROFILE_NUMERIC:
            aggs.append(_r6(F.min(c).cast("double")).alias(f"mn_{c}"))
            aggs.append(_r6(F.max(c).cast("double")).alias(f"mx_{c}"))
    wide = o.agg(*aggs)
    stack_args = []
    for c in _PROFILE_ALL:
        num = c in _PROFILE_NUMERIC
        stack_args.append(
            f"'{c}', n_rows, n_rows - cnt_{c}, nd_{c}, "
            + (
                f"mn_{c}, mx_{c}"
                if num
                else "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"
            )
        )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_ALL)}, "
            + ", ".join(stack_args)
            + ") AS (col_name, n_rows, n_nulls, n_distinct, min_num, max_num)"
        )
    ).orderBy("col_name")


@_register(
    "mergeable_weekly_rollup",
    oracle="""
    WITH w AS (
      SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week,
             COUNT(*) AS n,
             SUM(CAST(round((CASE WHEN NOT isfinite(value) THEN NULL ELSE value END) * 100) AS BIGINT)) AS s,
             SUM(CAST(round((CASE WHEN NOT isfinite(value) THEN NULL ELSE value END) * 100) AS BIGINT)
                 * CAST(round((CASE WHEN NOT isfinite(value) THEN NULL ELSE value END) * 100) AS BIGINT)) AS s2,
             MIN(CAST(round((CASE WHEN NOT isfinite(value) THEN NULL ELSE value END) * 100) AS BIGINT)) AS mn,
             MAX(CAST(round((CASE WHEN NOT isfinite(value) THEN NULL ELSE value END) * 100) AS BIGINT)) AS mx
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, week, n,
           ROUND(CAST(s AS DOUBLE) / n / 100.0, 6) AS avg_value,
           -- sample variance of a single observation is undefined
           ROUND(CASE WHEN n > 1 THEN
                   (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE)
                    * CAST(s AS DOUBLE) / n) / (n - 1) / 10000.0 END, 6)
             AS var_value,
           ROUND(mn / 100.0, 6) AS min_value,
           ROUND(mx / 100.0, 6) AS max_value
    FROM w ORDER BY event_type, week
    """,
    tags=("warehouse", "agg", "incremental"),
    doc="Two-level mergeable rollup — the incremental-view-"
    "maintenance contract: Spark aggregates raw events to DAILY "
    "partial states (n, sum, sum-of-squares, min, max in integer "
    "cents), then merges ONLY those states to weekly; the oracle "
    "aggregates raw->weekly directly. Equality proves the state "
    "algebra is associative-exact, which is what lets a 100 TB "
    "pipeline maintain rollups by merging yesterday's sealed "
    "partials with today's delta instead of rescanning history "
    "(same law the HLL sketch rollup exercises for distincts). "
    "Integer power sums make merged variance bit-identical to "
    "direct variance.",
)
def q_mergeable_weekly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = F.round(nan_nn("value") * 100).cast("bigint")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents * cents).alias("s2"),
        F.min(cents).alias("mn"),
        F.max(cents).alias("mx"),
    )
    weekly = daily.groupBy(
        "event_type",
        F.date_trunc("week", "day").cast("date").alias("week"),
    ).agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum("s2").alias("s2"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )
    sd = F.col("s").cast("double")
    return weekly.select(
        "event_type",
        "week",
        "n",
        _r6(sd / F.col("n") / 100.0).alias("avg_value"),
        _r6(
            F.when(
                F.col("n") > 1,
                (F.col("s2").cast("double") - sd * sd / F.col("n"))
                / (F.col("n") - 1)
                / 10000.0,
            )
        ).alias("var_value"),
        _r6(F.col("mn") / 100.0).alias("min_value"),
        _r6(F.col("mx") / 100.0).alias("max_value"),
    ).orderBy("event_type", "week")


# ---------------------------------------------------------------------------
# Declarative data-quality expectation suite — the contract-check
# layer a warehouse runs before publishing a table.
#
# Reference parity: the reference validates frames ad hoc before
# writing (src/loader/bigquery_loader.py required-column and dtype
# checks, operators/quality.py re-expresses them); this operator turns
# those checks into a Great-Expectations-style DECLARATIVE suite
# evaluated in one plan: each rule reports checked/violation counts
# and a pass flag, so the pipeline can gate a publish on `all(passed)`
# without a second scan.
#
# Scale: every row-level rule is a conditional aggregate inside ONE
# scan of the fact table (Catalyst collapses the rule set into a
# single Aggregate — the same one-scan multi-stat shape
# `table_profile_orders` pins with a plan test); uniqueness rides the
# same pass via count vs approx-free exact distinct; the one rule
# needing a second relation (FK integrity) is a broadcast anti-join
# whose dim side is the small table. Adding a rule adds a column, not
# a pass.


_DATE_LO, _DATE_HI = "1990-01-01", "2005-12-31"


@_register(
    "dq_expectation_suite",
    oracle=f"""
    WITH base AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS v_key_null,
             SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_cust_null,
             SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
                 THEN 1 ELSE 0 END) AS v_price,
             SUM(CASE WHEN o_orderdate IS NULL
                      OR o_orderdate < DATE '{_DATE_LO}'
                      OR o_orderdate > DATE '{_DATE_HI}'
                 THEN 1 ELSE 0 END) AS v_date,
             COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_dup_key
      FROM orders
    ), fk AS (
      SELECT COUNT(*) AS v_fk
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_custkey IS NULL
    ), rules AS (
      SELECT 'orderkey_not_null' AS rule, n, v_key_null AS violations FROM base
      UNION ALL
      SELECT 'custkey_not_null', n, v_cust_null FROM base
      UNION ALL
      SELECT 'totalprice_positive', n, v_price FROM base
      UNION ALL
      SELECT 'orderdate_in_range', n, v_date FROM base
      UNION ALL
      SELECT 'orderkey_unique', n, v_dup_key FROM base
      UNION ALL
      SELECT 'custkey_fk_exists', (SELECT n FROM base), v_fk FROM fk
    )
    SELECT rule, CAST(n AS BIGINT) AS n_checked,
           CAST(violations AS BIGINT) AS n_violations,
           -- COALESCE: zero rows checked is a vacuous PASS on both
           -- engines, not a NULL boolean (empty-corpus sweep)
           COALESCE(violations, 0) = 0 AS passed
    FROM rules ORDER BY rule
    """,
    tags=("quality", "warehouse", "agg"),
    doc="Declarative expectation suite over the orders table: "
    "not-null, positive-amount, date-range, primary-key-uniqueness "
    "and FK-integrity rules evaluated together, one row per rule "
    "with checked/violation counts and a pass flag. All row-level "
    "rules fold into ONE Aggregate over ONE scan (conditional "
    "sums + exact distinct); FK integrity is a broadcast anti-join "
    "against the customer dim. This is the publish gate shape: at "
    "100 TB the suite costs the same single pass as any one of its "
    "rules, and `all(passed)` decides the promotion.",
)
def q_dq_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    viol = F.when
    base = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            viol(F.col("o_orderkey").isNull(), 1).otherwise(0)
        ).alias("v_key_null"),
        F.sum(
            viol(F.col("o_custkey").isNull(), 1).otherwise(0)
        ).alias("v_cust_null"),
        F.sum(
            viol(
                F.col("o_totalprice").isNull()
                | (F.col("o_totalprice") <= 0),
                1,
            ).otherwise(0)
        ).alias("v_price"),
        F.sum(
            viol(
                F.col("o_orderdate").isNull()
                | (F.col("o_orderdate") < F.lit(_DATE_LO).cast("date"))
                | (F.col("o_orderdate") > F.lit(_DATE_HI).cast("date")),
                1,
            ).otherwise(0)
        ).alias("v_date"),
        (
            F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey"))
        ).alias("v_dup_key"),
    )
    fk = (
        o.join(
            F.broadcast(cust.select("c_custkey")),
            o["o_custkey"] == cust["c_custkey"],
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("v_fk"))
    )
    # ONE evaluation of the wide aggregate (a union of per-rule
    # selects would re-scan orders once per rule — the plan test
    # counts scans); stack() unpivots the single row into rule rows
    base = base.localCheckpoint(eager=False)
    rules = base.select(
        F.expr(
            "stack(5, "
            "'orderkey_not_null', v_key_null, "
            "'custkey_not_null', v_cust_null, "
            "'totalprice_positive', v_price, "
            "'orderdate_in_range', v_date, "
            "'orderkey_unique', v_dup_key) AS (rule, violations)"
        ),
        "n",
    ).select("rule", "n", "violations")
    fk_row = fk.join(F.broadcast(base.select("n"))).select(
        F.lit("custkey_fk_exists").alias("rule"),
        "n",
        F.col("v_fk").alias("violations"),
    )
    rules = rules.unionAll(fk_row)
    return rules.select(
        "rule",
        F.col("n").alias("n_checked"),
        F.col("violations").alias("n_violations"),
        (F.coalesce(F.col("violations"), F.lit(0)) == 0).alias("passed"),
    ).orderBy("rule")


# ---------------------------------------------------------------------------
# Round-8b governance + planner wave: k-anonymity reporting,
# split-leakage measurement over the content-keyed train/val/test
# split, planner-style join-cardinality estimation (heavy-hitters
# exact + sampled tail), a code-vs-prose screen with a planted
# codeified cohort, the closed-form LSH (bands, rows) tuning table,
# and a Hill tail-index estimator for heavy-tail monitoring.
#
# Reference parity: the reference stops at indicator math
# (app/dashboard.py); these are the remaining governance / planning
# operators a 100 TB training-data pipeline runs around the dedup and
# sampling families: can this corpus slice be released (k-anonymity),
# does the split leak near-duplicates (the property the content-keyed
# split provably lacks for EXACT dups but not near-dups), how big is a
# join before running it (the planner question), is code contaminating
# a prose corpus, and is the LSH operating point actually the S-curve
# the docstrings claim.
#
# Scale posture (shared):
# - no broadcast hint on any corpus- or vocabulary-derived frame; only
#   1-row scalars and config-enumerated grids are hinted;
# - the leakage audit rides the df-capped containment index (bounded
#   pair expansion by construction — wave 8's machinery, reused);
# - the join estimator's SKETCH branch touches only per-key counts and
#   a deterministic 10% key sample + heavy-hitter set; the exact
#   column exists as the test-scale certificate (a production planner
#   runs only the sketch branch);
# - global order statistics (Hill top-k) are TakeOrdered limits, never
#   a single-task window.


# --------------------------------------------------------------------
# k-anonymity report
# --------------------------------------------------------------------

_K_ANON = 5
_LEN_BAND = 256


@_register(
    "k_anonymity_report",
    oracle=f"""
    WITH q AS (
      SELECT source, lang,
             CAST(floor(n_chars / {_LEN_BAND}.0) AS BIGINT) AS len_band
      FROM documents
      WHERE source IS NOT NULL AND lang IS NOT NULL
        AND n_chars IS NOT NULL
    ), g AS (
      SELECT source, lang, len_band, CAST(COUNT(*) AS BIGINT) AS gsize
      FROM q GROUP BY 1, 2, 3
    ), r AS (
      SELECT source,
             CAST(SUM(gsize) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(MIN(gsize) AS BIGINT) AS k_anonymity,
             CAST(SUM(CASE WHEN gsize < {_K_ANON} THEN gsize ELSE 0 END)
                  AS BIGINT) AS rows_at_risk
      FROM g GROUP BY source
    )
    SELECT source, n_rows, n_groups, k_anonymity, rows_at_risk,
           CASE WHEN n_rows > 0
                THEN ROUND(rows_at_risk * 1.0 / n_rows, 6) END
             AS risk_share,
           k_anonymity >= {_K_ANON} AS k{_K_ANON}_anonymous
    FROM r ORDER BY source
    """,
    tags=("llmdata", "governance", "quality"),
    doc=f"Per-source k-anonymity over the quasi-identifier tuple "
    f"(lang, {_LEN_BAND}-char length band): group sizes, the minimum "
    f"group size (the source's k), rows in groups below k={_K_ANON}, "
    "and the at-risk share — the release-gate a corpus distributor "
    "runs before publishing per-source slices, since a (lang, "
    "length) combination held by one document re-identifies it.  "
    "Two partial-agg shuffles (quasi-group then source); every frame "
    "after the first agg is |groups|-sized.  Complement to the PII "
    "family: pii_* find identifiers IN text, this bounds linkage "
    "risk from metadata alone.",
)
def q_k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("n_chars").isNotNull()
    )
    g = (
        d.select(
            "source",
            "lang",
            F.floor(F.col("n_chars") / float(_LEN_BAND))
            .cast("bigint")
            .alias("len_band"),
        )
        .groupBy("source", "lang", "len_band")
        .agg(F.count(F.lit(1)).alias("gsize"))
    )
    r = g.groupBy("source").agg(
        F.sum("gsize").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.min("gsize").cast("bigint").alias("k_anonymity"),
        F.sum(
            F.when(F.col("gsize") < _K_ANON, F.col("gsize")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("rows_at_risk"),
    )
    return r.select(
        "source",
        "n_rows",
        "n_groups",
        "k_anonymity",
        "rows_at_risk",
        F.when(
            F.col("n_rows") > 0,
            _r6(F.col("rows_at_risk") * 1.0 / F.col("n_rows")),
        ).alias("risk_share"),
        (F.col("k_anonymity") >= _K_ANON).alias(f"k{_K_ANON}_anonymous"),
    ).orderBy("source")


# --------------------------------------------------------------------
# join cardinality estimation (planner sketch)
# --------------------------------------------------------------------

_EST_SAMPLE_MOD = 10  # deterministic 10% key sample
_EST_HH_PCT = 100  # heavy hitter: key holds >= 1/100 of its side


def _est_sql(fact_tbl: str, fact_key: str, dim_tbl: str, dim_key: str,
             name: str) -> str:
    samp = hex_to_int_sql(f"md5(CAST(a_{name}.k AS VARCHAR))")
    return f"""
    a_{name} AS (
      SELECT {fact_key} AS k, CAST(COUNT(*) AS BIGINT) AS ca
      FROM {fact_tbl} GROUP BY 1
    ), b_{name} AS (
      SELECT {dim_key} AS k, CAST(COUNT(*) AS BIGINT) AS cb
      FROM {dim_tbl} GROUP BY 1
    ), ta_{name} AS (SELECT SUM(ca) AS ta FROM a_{name}),
    tb_{name} AS (SELECT SUM(cb) AS tb FROM b_{name}),
    j_{name} AS (
      SELECT ca, cb,
             (ca * {_EST_HH_PCT} >= ta OR cb * {_EST_HH_PCT} >= tb)
               AS heavy,
             ({samp} % {_EST_SAMPLE_MOD} = 0) AS samp
      FROM a_{name} JOIN b_{name} ON a_{name}.k = b_{name}.k
      CROSS JOIN ta_{name} CROSS JOIN tb_{name}
    ), r_{name} AS (
      SELECT '{name}' AS join_name,
             CAST(COALESCE(SUM(ca * cb), 0) AS BIGINT) AS exact_rows,
             CAST(COALESCE(SUM(CASE WHEN heavy THEN ca * cb
                                    ELSE 0 END), 0)
                  + {_EST_SAMPLE_MOD}
                  * COALESCE(SUM(CASE WHEN NOT heavy AND samp
                                      THEN ca * cb ELSE 0 END), 0)
                  AS BIGINT) AS est_rows
      FROM j_{name}
    )"""


@_register(
    "join_cardinality_estimate",
    oracle="WITH "
    + _est_sql("lineitem", "l_orderkey", "orders", "o_orderkey",
               "lineitem_orders")
    + ","
    + _est_sql("lineitem", "l_partkey", "part", "p_partkey",
               "lineitem_part")
    + """
    SELECT join_name, exact_rows, est_rows,
           CASE WHEN exact_rows > 0
                THEN ROUND(ABS(est_rows - exact_rows) * 1.0
                           / exact_rows, 6) END AS rel_error,
           CASE WHEN exact_rows > 0
                THEN ABS(est_rows - exact_rows) * 1.0 / exact_rows
                     <= 0.25
                ELSE est_rows = exact_rows END AS within_25pct
    FROM (SELECT * FROM r_lineitem_orders
          UNION ALL SELECT * FROM r_lineitem_part)
    ORDER BY join_name
    """,
    tags=("planner", "sketches", "join"),
    doc="Planner-style join-cardinality estimation for "
    "lineitem><orders and lineitem><part WITHOUT running the joins: "
    "per-key counts on each side, heavy-hitter keys (holding >=1% of "
    "their side) contribute exactly, the tail is a deterministic "
    "md5-keyed 10% key sample scaled by 10 — the estimator every "
    "distributed planner runs before choosing a join strategy, and "
    "the heavy/tail decomposition is precisely what makes it robust "
    "to the skew the fuzz corpora plant (a 50%-hot key is ALWAYS in "
    "the exact branch, never at the mercy of the sample).  The "
    "exact_rows column is the test-scale certificate (rel_error, "
    "within-25% flag); a production planner at 100 TB computes only "
    "est_rows: two per-key partial aggs + one |keys| equi-join — "
    "never the |output| of the joins themselves.  The certificate "
    "tightens with scale (stderr ~ 1/sqrt(sampled keys)).",
)
def q_join_cardinality_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    def one(fact: DataFrame, fkey: str, dim: DataFrame, dkey: str,
            name: str) -> DataFrame:
        a = fact.groupBy(F.col(fkey).alias("k")).agg(
            F.count(F.lit(1)).alias("ca")
        )
        b = dim.groupBy(F.col(dkey).alias("k")).agg(
            F.count(F.lit(1)).alias("cb")
        )
        ta = a.agg(F.sum("ca").alias("ta"))
        tb = b.agg(F.sum("cb").alias("tb"))
        j = (
            a.join(b, "k")
            .crossJoin(F.broadcast(ta))
            .crossJoin(F.broadcast(tb))
            .select(
                "ca",
                "cb",
                (
                    (F.col("ca") * _EST_HH_PCT >= F.col("ta"))
                    | (F.col("cb") * _EST_HH_PCT >= F.col("tb"))
                ).alias("heavy"),
                (
                    F.expr(hex_to_int_sql("md5(CAST(k AS STRING))"))
                    % _EST_SAMPLE_MOD
                    == 0
                ).alias("samp"),
            )
        )
        prod = F.col("ca") * F.col("cb")
        return j.agg(
            F.coalesce(F.sum(prod), F.lit(0))
            .cast("bigint")
            .alias("exact_rows"),
            (
                F.coalesce(
                    F.sum(F.when(F.col("heavy"), prod).otherwise(F.lit(0))),
                    F.lit(0),
                )
                + _EST_SAMPLE_MOD
                * F.coalesce(
                    F.sum(
                        F.when(
                            ~F.col("heavy") & F.col("samp"), prod
                        ).otherwise(F.lit(0))
                    ),
                    F.lit(0),
                )
            )
            .cast("bigint")
            .alias("est_rows"),
        ).select(
            F.lit(name).alias("join_name"), "exact_rows", "est_rows"
        )

    li = _t(spark, sf_dir, "lineitem")
    rows = one(
        li.select("l_orderkey"),
        "l_orderkey",
        _t(spark, sf_dir, "orders").select("o_orderkey"),
        "o_orderkey",
        "lineitem_orders",
    ).unionAll(
        one(
            li.select("l_partkey"),
            "l_partkey",
            _t(spark, sf_dir, "part").select("p_partkey"),
            "p_partkey",
            "lineitem_part",
        )
    )
    err = F.abs(F.col("est_rows") - F.col("exact_rows")) * 1.0 / F.col(
        "exact_rows"
    )
    return rows.select(
        "join_name",
        "exact_rows",
        "est_rows",
        F.when(F.col("exact_rows") > 0, _r6(err)).alias("rel_error"),
        # total boolean (a NULL bool hits pandas-render divergence on
        # the empty corpus): an empty join estimated as 0 is correct
        F.when(F.col("exact_rows") > 0, err <= 0.25)
        .otherwise(F.col("est_rows") == F.col("exact_rows"))
        .alias("within_25pct"),
    ).orderBy("join_name")


# --------------------------------------------------------------------
# hash-partition skew report
# --------------------------------------------------------------------

_SKEW_BUCKETS = 32
_SKEW_FLAG = 2.0


def _skew_sql(tbl: str, key: str) -> str:
    b = hex_to_int_sql(f"md5(CAST({key} AS VARCHAR))")
    return f"""
    g_{tbl}_{key} AS (
      SELECT {b} % {_SKEW_BUCKETS} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM {tbl} WHERE {key} IS NOT NULL GROUP BY 1
    ), r_{tbl}_{key} AS (
      SELECT '{tbl}.{key}' AS partition_key,
             CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
             CAST(COALESCE(MAX(n), 0) AS BIGINT) AS max_bucket
      FROM g_{tbl}_{key}
    )"""


@_register(
    "hash_partition_skew_report",
    oracle="WITH "
    + _skew_sql("events", "user_id")
    + ","
    + _skew_sql("lineitem", "l_orderkey")
    + ","
    + _skew_sql("documents", "source")
    + f"""
    SELECT partition_key, n_rows, n_buckets_used, max_bucket,
           CASE WHEN n_rows > 0
                THEN ROUND(max_bucket * {_SKEW_BUCKETS}.0 / n_rows, 6)
                END AS skew_ratio,
           CASE WHEN n_rows > 0
                THEN ROUND(max_bucket * 1.0 / n_rows, 6) END
             AS hot_bucket_share,
           CASE WHEN n_rows > 0
                THEN max_bucket * {_SKEW_BUCKETS}.0 / n_rows
                     <= {_SKEW_FLAG}
                ELSE TRUE END AS balanced
    FROM (SELECT * FROM r_events_user_id
          UNION ALL SELECT * FROM r_lineitem_l_orderkey
          UNION ALL SELECT * FROM r_documents_source)
    ORDER BY partition_key
    """,
    tags=("planner", "layout", "quality"),
    doc=f"Hash-partition skew report for the three shuffle keys the "
    f"registry leans on hardest: rows per md5 bucket (simulating a "
    f"{_SKEW_BUCKETS}-way hash exchange), the max/ideal ratio, the "
    "hot-bucket share, and a balanced flag at skew <= "
    f"{_SKEW_FLAG} — the design tool that says which keys can carry "
    "a shuffle and which need salting BEFORE a job OOMs at scale.  "
    "On the generated corpus it shows the design rationale as "
    "numbers: the high-cardinality l_orderkey hashes flat "
    "(balanced) while documents.source — ~20 distinct values into "
    f"{_SKEW_BUCKETS} buckets — is structurally skewed (measured "
    "3.2x at sf0.001), which is exactly why every per-source rollup "
    "here pre-aggregates on (source, x) composite keys and why the "
    "salted operators (operators/skew.py) exist; events.user_id "
    "lands balanced only once user cardinality outgrows the bucket "
    "count — the cardinality-dependence the report quantifies.  One "
    "|buckets|-cell partial agg per key; everything after is "
    "metadata-sized.",
)
def q_hash_partition_skew_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    def one(tbl: str, key: str, label: str) -> DataFrame:
        g = (
            _t(spark, sf_dir, tbl)
            .filter(F.col(key).isNotNull())
            .select(
                (
                    F.expr(hex_to_int_sql(f"md5(CAST({key} AS STRING))"))
                    % _SKEW_BUCKETS
                ).alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return g.agg(
            F.coalesce(F.sum("n"), F.lit(0))
            .cast("bigint")
            .alias("n_rows"),
            F.count(F.lit(1)).alias("n_buckets_used"),
            F.coalesce(F.max("n"), F.lit(0))
            .cast("bigint")
            .alias("max_bucket"),
        ).select(
            F.lit(label).alias("partition_key"),
            "n_rows",
            "n_buckets_used",
            "max_bucket",
        )

    rows = (
        one("events", "user_id", "events.user_id")
        .unionAll(one("lineitem", "l_orderkey", "lineitem.l_orderkey"))
        .unionAll(one("documents", "source", "documents.source"))
    )
    skew = F.col("max_bucket") * float(_SKEW_BUCKETS) / F.col("n_rows")
    return rows.select(
        "partition_key",
        "n_rows",
        "n_buckets_used",
        "max_bucket",
        F.when(F.col("n_rows") > 0, _r6(skew)).alias("skew_ratio"),
        F.when(
            F.col("n_rows") > 0,
            _r6(F.col("max_bucket") * 1.0 / F.col("n_rows")),
        ).alias("hot_bucket_share"),
        F.when(F.col("n_rows") > 0, skew <= _SKEW_FLAG)
        .otherwise(F.lit(True))
        .alias("balanced"),
    ).orderBy("partition_key")


# ---------------------------------------------------------------------------
# wave 10b: layout planning, quality-aware canonicalization, model lift

_COMPACT_TARGET = 16384  # bytes per output file (SF-scaled stand-in)


@_register(
    "file_compaction_plan",
    oracle=f"""
    WITH base AS (
      SELECT source, doc_id,
             CAST(coalesce(n_chars, 0) AS BIGINT) AS bytes
      FROM documents
    ), packed AS (
      SELECT source, doc_id, bytes,
             coalesce(SUM(bytes) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {_COMPACT_TARGET} AS file_idx
      FROM base
    ), files AS (
      SELECT source, file_idx, SUM(bytes) AS fbytes, COUNT(*) AS fdocs
      FROM packed GROUP BY source, file_idx
    )
    SELECT source,
           CAST(SUM(fdocs) AS BIGINT) AS n_docs,
           CAST(SUM(fbytes) AS BIGINT) AS total_bytes,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST((SUM(fbytes) + {_COMPACT_TARGET} - 1)
                // {_COMPACT_TARGET} AS BIGINT) AS ideal_files,
           CAST(MAX(fbytes) AS BIGINT) AS max_file_bytes,
           ROUND(SUM(fbytes) * 1.0
                 / nullif(COUNT(*) * {_COMPACT_TARGET}, 0), 6) AS fill_ratio
    FROM files GROUP BY source ORDER BY source
    """,
    tags=("curation", "layout"),
    doc=f"Write-layout compaction plan: pack each source's documents "
    f"(in id order) into ~{_COMPACT_TARGET}-byte output files by "
    "EXCLUSIVE prefix-sum bucketing (file = cum_bytes_before // "
    "target — a doc larger than the target gets its own file and "
    "overflows it, the same contract as parquet row-group sizing), "
    "then report per-source file counts vs the bin-packing ideal and "
    "the fill ratio — the small-files report a table-maintenance "
    "job consumes.  Scale shape: the per-source cumsum rides "
    "with_grouped_running_sum's range-partitioned prefix "
    "decomposition (parallelism = cluster width, never |sources| "
    "window tasks); two keyed aggregates after it.  All-integer "
    "except the final ratio (one divide).",
)
def q_file_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_spark.operators.rank import with_grouped_running_sum

    d = _t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.coalesce(F.col("n_chars"), F.lit(0)).cast("long").alias("bytes"),
    )
    packed = with_grouped_running_sum(
        d, ["source"], ["doc_id"], "bytes", out_col="__pre", inclusive=False
    ).select(
        "source",
        "bytes",
        F.floor(F.col("__pre") / _COMPACT_TARGET).cast("long").alias("file_idx"),
    )
    files = packed.groupBy("source", "file_idx").agg(
        F.sum("bytes").alias("fbytes"), F.count(F.lit(1)).alias("fdocs")
    )
    return (
        files.groupBy("source")
        .agg(
            F.sum("fdocs").cast("bigint").alias("n_docs"),
            F.sum("fbytes").cast("bigint").alias("total_bytes"),
            F.count(F.lit(1)).alias("n_files"),
            F.max("fbytes").cast("bigint").alias("max_file_bytes"),
        )
        .select(
            "source",
            "n_docs",
            "total_bytes",
            "n_files",
            (
                F.floor(
                    (F.col("total_bytes") + _COMPACT_TARGET - 1)
                    / _COMPACT_TARGET
                )
            ).cast("bigint").alias("ideal_files"),
            "max_file_bytes",
            _r6(
                F.col("total_bytes")
                * 1.0
                / F.nullif(
                    F.col("n_files") * F.lit(_COMPACT_TARGET), F.lit(0)
                )
            ).alias("fill_ratio"),
        )
        .select(
            "source", "n_docs", "total_bytes", "n_files", "ideal_files",
            "max_file_bytes", "fill_ratio",
        )
        .orderBy("source")
    )

"""Relational queries: the TPC-H shapes (Q1-Q22 as adapted to the
testdata schema), subqueries, set operations, grouping sets and cubes,
the SQL API path, the Bloom-prefiltered semi-join, the salted skew
join, and the event-table analytics built from the same scan, filter,
aggregate, window and join operators (dedup, cleaning, funnels,
retention, sessions, cohorts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stockpulse_spark.functions.nullsafe import max_by_nn, min_by_nn, nan_nn, not_finite
from stockpulse_spark.llmdata.hashing import word32_sql
from stockpulse_spark.operators.bloom import bloom_semi_join
from stockpulse_spark.operators.dedup import new_keys_only
from stockpulse_spark.operators.rank import (
    ntile_from_rank,
    with_global_rank,
    with_grouped_global_rank,
)
from stockpulse_spark.plans.registry import _r2, _r4, _r6, _register, _t


# ===========================================================================
# Relational core — scan/filter/agg/join shapes that dominate at 100 TB
# ===========================================================================


@_register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4)                              AS sum_qty,
           ROUND(SUM(l_extendedprice), 4)                         AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)      AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
           ROUND(AVG(l_quantity), 6)                              AS avg_qty,
           ROUND(AVG(l_extendedprice), 6)                         AS avg_price,
           ROUND(AVG(l_discount), 6)                              AS avg_disc,
           COUNT(*)                                               AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    headline=True,
    tags=("agg", "scan"),
    doc="TPC-H Q1 shape: full scan + grouped partial aggregation. The "
    "filter and 7-column projection push into the parquet scan.",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r4(F.sum("l_quantity")).alias("sum_qty"),
            _r4(F.sum("l_extendedprice")).alias("sum_base_price"),
            _r4(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("sum_disc_price"),
            _r4(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                )
            ).alias("sum_charge"),
            _r6(F.avg("l_quantity")).alias("avg_qty"),
            _r6(F.avg("l_extendedprice")).alias("avg_price"),
            _r6(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@_register(
    "revenue_by_nation",
    oracle="""
    SELECT n.n_name AS nation,
           ROUND(SUM(CASE WHEN isfinite(l.l_extendedprice)
                           AND isfinite(l.l_discount)
                     THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                     END) / 10000.0, 4) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
    headline=True,
    tags=("join", "agg"),
    doc="5-way star join. nation/region/customer are broadcast (small "
    "dims); only lineitem⋈orders shuffles — at 100 TB that is the one "
    "unavoidable exchange, co-locatable via bucketing on orderkey. "
    "Revenue sums in exact integer ten-thousandths (price is "
    "cents-valued, discount percent-valued), so the aggregate is "
    "summation-order-independent — the round-8 sf1 sweep caught the "
    "float SUM landing within 1 ulp of a .5 rounding boundary at 10x "
    "data, where Spark's and DuckDB's different partial-sum orders "
    "rendered different 4th decimals.  Exact-decimal money aggregation "
    "is also the correct posture at 100 TB: a billion-row float sum "
    "drifts by summation ORDER, i.e. by partitioning, run to run.  "
    "Non-finite money masks like NULL (the engine-wide nan_nn "
    "contract — the integer snap would CAST_OVERFLOW on it anyway).",
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev_1e4 = F.when(
        ~not_finite("l_extendedprice") & ~not_finite("l_discount"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint")),
    )
    # the money product is computed in the lineitem SCAN projection,
    # below the orderkey shuffle: the exchange then carries one BIGINT
    # per row instead of two doubles, and the per-row rounds/multiplies
    # run in the scan stage (round-8 verdict item 5 — the exact-integer
    # rewrite had left them above the 5-way join)
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", rev_1e4.alias("rev_1e4")
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            _r4(F.sum("rev_1e4") / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), "nation")
    )


@_register(
    "top_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           ROUND(SUM(o.o_totalprice), 4) AS total_spent,
           COUNT(*) AS n_orders
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY total_spent DESC, c_custkey
    LIMIT 10
    """,
    tags=("join", "agg", "limit"),
    doc="join + group + deterministic top-k (order by value desc with "
    "key tiebreak). TakeOrderedAndProject — no full sort at scale.",
)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            _r4(F.sum("o_totalprice")).alias("total_spent"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("total_spent").desc(), "c_custkey")
        .limit(10)
    )


@_register(
    "orders_priority_count",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("join", "semi"),
    doc="semi-join (EXISTS) shape — TPC-H Q4. left_semi avoids "
    "materializing the probe side.",
)
def q_orders_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    matched = o.join(
        l,
        (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        matched.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ===========================================================================
# Reference surface — sources/cleaning (P*), dedup (W1/A2/A4), aggs (A*)
# ===========================================================================


@_register(
    "dedup_keep_latest",
    oracle="""
    WITH doubled AS (
      SELECT * FROM events UNION ALL SELECT * FROM events
    ), ranked AS (
      SELECT event_id, ts, user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
      FROM doubled
    )
    SELECT event_id, ts, user_id, event_type, value FROM ranked WHERE rn = 1
    """,
    tags=("dedup", "window"),
    doc="reference W1 (dedup_pipeline.py:31-53): ROW_NUMBER keep-latest "
    "over a deliberately doubled input. One hash exchange on the key.",
)
def q_dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    doubled = ev.unionAll(ev)
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    return (
        doubled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@_register(
    "duplicate_report",
    oracle="""
    WITH doubled AS (
      SELECT * FROM events UNION ALL SELECT * FROM events
      UNION ALL SELECT * FROM events WHERE event_type = 'error'
    )
    SELECT user_id, ts, COUNT(*) AS duplicate_count
    FROM doubled
    GROUP BY user_id, ts
    HAVING COUNT(*) > 1
    ORDER BY duplicate_count DESC, user_id, ts
    """,
    tags=("dedup", "agg"),
    doc="reference A4 (docs/duplicates_in_bigquery.md:6-19): GROUP BY "
    "key HAVING COUNT>1 ORDER BY count DESC.",
)
def q_duplicate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    doubled = ev.unionAll(ev).unionAll(ev.filter(F.col("event_type") == "error"))
    return (
        doubled.groupBy("user_id", "ts")
        .agg(F.count(F.lit(1)).alias("duplicate_count"))
        .filter(F.col("duplicate_count") > 1)
        .orderBy(F.col("duplicate_count").desc(), "user_id", "ts")
    )


@_register(
    "quality_clean",
    oracle="""
    -- NOT isnan: a NaN price must not pass a quality gate; pinned
    -- explicitly because the engines disagree on NaN > 0 (Spark
    -- false, DuckDB true)
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE value IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
      AND isfinite(value) AND value > 0
    """,
    tags=("filter",),
    doc="reference P9 (preprocessing_pipeline.py:124-135): null drop + "
    "positivity gate as one pushed-down conjunctive predicate.",
)
def q_quality_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return ev.na.drop(subset=["value", "ts", "user_id"]).filter(
        ~not_finite("value") & (F.col("value") > 0)
    )


@_register(
    "project_cast",
    oracle="""
    SELECT event_id,
           CAST(ts AS DATE)                      AS date,
           strftime(ts, '%H:%M:%S')              AS time,
           CAST(regexp_replace(event_type, '^[0-9]+\\. ', '') AS VARCHAR) AS event_type_clean,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           ROUND(CAST(value AS DOUBLE), 6)       AS value_d
    FROM events
    """,
    tags=("project", "cast"),
    doc="reference P2-P5: prefix-strip regexp cast, date/time "
    "derivation, JSON field extraction, numeric coercion.",
)
def q_project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.to_date("ts").alias("date"),
        F.date_format("ts", "HH:mm:ss").alias("time"),
        F.regexp_replace(F.col("event_type"), r"^[0-9]+\. ", "").alias(
            "event_type_clean"
        ),
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        _r6(F.col("value").cast("double")).alias("value_d"),
    )


@_register(
    "time_range_filter",
    oracle="""
    SELECT event_id, ts, user_id, value
    FROM events
    WHERE ts >= (SELECT MAX(ts) FROM events) - INTERVAL 7 DAY
    """,
    tags=("filter",),
    doc="reference P12/S4 (dashboard.py:46, stocks_pipeline.py:146-155): "
    "retention window relative to the newest row. Scalar agg broadcast, "
    "then a pushed-down range predicate — no driver collect.",
)
def q_time_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("__mx"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .filter(F.col("ts") >= F.col("__mx") - F.expr("INTERVAL 7 DAYS"))
        .select("event_id", "ts", "user_id", "value")
    )


@_register(
    "latest_per_user",
    oracle="""
    SELECT user_id,
           MAX(ts)            AS latest_ts,
           last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) AS latest_value,
           COUNT(*)           AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("agg",),
    doc="reference A1+A5+A9 (stocks_pipeline.py:92-99, "
    "preprocessing_pipeline.py:164): scalar MAX + last-value-per-key "
    "via max_by — single partial-aggregated shuffle, no window needed.",
)
def q_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("latest_ts"),
            max_by_nn(nan_nn("value"), "ts").alias("latest_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


@_register(
    "hourly_volume_pivot",
    oracle="SELECT dayname(ts) AS day_name, "
    + ", ".join(
        f"ROUND(COALESCE(AVG(value) FILTER (WHERE hour(ts) = {h}), 0), 6) AS h{h}"
        for h in range(24)
    )
    + " FROM events GROUP BY dayname(ts) ORDER BY day_name",
    tags=("agg", "pivot"),
    doc="reference A6 (app/dashboard.py:437-447): day-of-week × hour "
    "mean heatmap. Expressed as 24 conditional aggregates → ONE "
    "shuffle, no pivot two-pass.",
)
def q_hourly_volume_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    aggs = [
        F.round(
            F.coalesce(
                F.avg(F.when(F.hour("ts") == h, F.col("value"))), F.lit(0.0)
            ),
            6,
        ).alias(f"h{h}")
        for h in range(24)
    ]
    return (
        ev.groupBy(F.date_format("ts", "EEEE").alias("day_name"))
        .agg(*aggs)
        .orderBy("day_name")
    )


@_register(
    "summary_stats",
    oracle="""
    -- NaN measures are masked like NULL (DuckDB STDDEV raises on
    -- NaN input; Spark returns NaN) — n still counts every row
    SELECT event_type,
           ROUND(MIN(v), 6)         AS min_value,
           ROUND(AVG(v), 6)         AS mean_value,
           ROUND(MAX(v), 6)         AS max_value,
           ROUND(STDDEV_SAMP(v), 6) AS std_value,
           COUNT(*)                 AS n
    FROM (SELECT event_type,
                 CASE WHEN NOT isfinite(value) THEN NULL ELSE value END AS v
          FROM events)
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("agg",),
    doc="reference A7/A8 (dashboard.py:623-639, docs/preprocessing.md:"
    "77-86): min/mean/max/std summary — one agg, sample std (pandas "
    "ddof=1).",
)
def q_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            _r6(F.min(nan_nn("value"))).alias("min_value"),
            _r6(F.avg(nan_nn("value"))).alias("mean_value"),
            _r6(F.max(nan_nn("value"))).alias("max_value"),
            _r6(F.stddev_samp(nan_nn("value"))).alias("std_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Remaining SURVEY §2 surface: the EXISTS/anti-join insert gate (A2),
# live metrics (A9), weekly resample (A10 @1W), global sort/top-k
# (O1-O5), and a ROLLUP extension the engine gets from Spark for free.


@_register(
    "new_keys_anti_join",
    oracle="""
    WITH existing AS (
      SELECT DISTINCT user_id, ts FROM events WHERE ts < TIMESTAMP '2024-01-25'
    )
    SELECT e.event_id, e.ts, e.user_id, e.value
    FROM events e
    ANTI JOIN existing x ON e.user_id = x.user_id AND e.ts = x.ts
    """,
    tags=("join", "dedup"),
    doc="reference A2/J3 (bigquery_loader.py:118-140): the per-record "
    "EXISTS insert gate as ONE left-anti join of the batch against the "
    "sink's keys — replaces one synchronous RPC per message.",
)
def q_new_keys_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    existing = ev.filter(F.col("ts") < F.lit("2024-01-25").cast("timestamp"))
    return new_keys_only(ev, existing, keys=["user_id", "ts"]).select(
        "event_id", "ts", "user_id", "value"
    )


@_register(
    "live_metrics",
    oracle="""
    SELECT user_id,
           MAX(ts)                       AS latest_ts,
           ROUND(last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)), 6)  AS latest_value,
           ROUND(AVG(value), 6)          AS mean_value,
           ROUND(100.0 * (last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) - AVG(value)) / AVG(value), 6) AS pct_vs_mean,
           COUNT(*)                      AS n_events
    FROM events
    GROUP BY user_id
    """,
    tags=("agg",),
    doc="reference A9 (dashboard.py:644-667): last price, %Δ vs mean, "
    "activity count — one partial-aggregated shuffle, no window.",
)
def q_live_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    last_v = max_by_nn(nan_nn("value"), "ts")
    return ev.groupBy("user_id").agg(
        F.max("ts").alias("latest_ts"),
        _r6(last_v).alias("latest_value"),
        _r6(F.avg("value")).alias("mean_value"),
        _r6(F.try_divide(100.0 * (last_v - F.avg("value")), F.avg("value"))).alias(
            "pct_vs_mean"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )


@_register(
    "ohlcv_weekly",
    oracle="""
    SELECT user_id,
           CAST(date_trunc('week', ts) AS DATE) AS week_start,
           ROUND(first(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)), 6)  AS open,
           ROUND(max(value), 6)          AS high,
           ROUND(min(value), 6)          AS low,
           ROUND(last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)), 6)  AS close,
           count(*)                      AS volume
    FROM events
    GROUP BY user_id, CAST(date_trunc('week', ts) AS DATE)
    """,
    tags=("agg", "resample"),
    doc="reference A10 at 1W (docs/preprocessing.md:19-33) — Monday-"
    "anchored tumbling week, same deterministic first/last shape.",
)
def q_ohlcv_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("week_start")
    ).agg(
        _r6(min_by_nn(nan_nn("value"), "ts")).alias("open"),
        _r6(F.max("value")).alias("high"),
        _r6(F.min("value")).alias("low"),
        _r6(max_by_nn(nan_nn("value"), "ts")).alias("close"),
        F.count(F.lit(1)).alias("volume"),
    )


@_register(
    "global_sort_topk",
    oracle="""
    SELECT event_id, user_id, ts, value
    FROM events
    ORDER BY value DESC, event_id
    LIMIT 100
    """,
    tags=("sort", "limit"),
    doc="reference O1-O5 global sort + positional selection as a "
    "deterministic top-k: Spark plans TakeOrderedAndProject (per-"
    "partition heaps, no full sort) — the shape that matters at scale.",
)
def q_global_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select("event_id", "user_id", "ts", "value")
        .orderBy(F.col("value").desc(), "event_id")
        .limit(100)
    )


@_register(
    "rollup_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    -- only populated groups are reported: on EMPTY input ANSI/DuckDB
    -- emits the () grand-total row while Spark's rollup emits none —
    -- the HAVING (a no-op on any non-empty input, every real group
    -- has >=1 row) pins the shared empty-table contract
    HAVING COUNT(*) > 0
    """,
    tags=("agg", "rollup"),
    doc="hierarchical subtotals via ROLLUP — not in the reference "
    "(SURVEY §2.3 notes the absence); the engine inherits it from "
    "Spark's grouping-sets support at zero extra cost.",
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        _r4(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Distinct aggregation + sessionization — rounding out the agg/window
# surface (neither is in the reference; both are table-stakes for an
# events engine and free in Spark).


@_register(
    "distinct_users_by_type",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events,
           ROUND(COUNT(*) / COUNT(DISTINCT user_id), 6) AS events_per_user
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("agg", "distinct"),
    doc="distinct aggregation: COUNT(DISTINCT) plans as a two-stage "
    "partial-distinct expand — exact here; approx_count_distinct is "
    "the drop-in at 100 TB when 2% error is acceptable (not oracle-"
    "checkable: HLL implementations differ across engines).",
)
def q_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
            _r6(F.count(F.lit(1)) / F.countDistinct("user_id")).alias(
                "events_per_user"
            ),
        )
        .orderBy("event_type")
    )


@_register(
    "sessionize_events",
    oracle="""
    WITH flagged AS (
      -- gap compared in exact microseconds on both sides: an interval
      -- or seconds-truncated comparison would disagree on sub-second
      -- boundary gaps
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                       > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts, value,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 6) AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    tags=("window", "session"),
    doc="gap-based sessionization (30-min inactivity closes a "
    "session): lag→new-session flag→running sum as the session id, "
    "then one grouped agg. The declarative twin of Spark's "
    "session_window / Structured Streaming session windows, written "
    "so DuckDB can oracle it exactly. One window shuffle + one agg "
    "shuffle on the same key → AQE reuses the partitioning.",
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    new_session = F.when(
        prev.isNull()
        | ((F.unix_micros(F.col("ts")) - F.unix_micros(prev)) > 1_800_000_000),
        1,
    ).otherwise(0)
    flagged = ev.select("user_id", "ts", "value", new_session.alias("new_session"))
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            _r6(F.sum("value")).alias("total_value"),
        )
        .orderBy("user_id", "session_id")
    )


# ---------------------------------------------------------------------------
# Subquery-shaped relational queries (TPC-H Q18/Q19/Q22 patterns):
# IN-subquery with HAVING, disjunctive predicate pushdown, NOT-EXISTS
# with a scalar-subquery filter, and per-group top-1 via window rank.
# These are the decorrelation shapes Catalyst rewrites into joins — the
# engine surface a reference user would hit first when growing past the
# fixed dashboard SQL.


@_register(
    "large_orders",
    oracle="""
    SELECT c.c_name, o.o_orderkey, o.o_orderdate,
           ROUND(o.o_totalprice, 4) AS o_totalprice,
           ROUND(SUM(l.l_quantity), 4) AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
    )
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    """,
    tags=("join", "subquery"),
    doc="TPC-H Q18 shape: IN-subquery with grouped HAVING — Catalyst "
    "decorrelates to a semi-join against the pre-aggregated keys; the "
    "aggregation is map-side partial so the semi-join probe is tiny.",
)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(big, on="l_orderkey", how="left_semi")
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(_r4(F.sum("l_quantity")).alias("total_qty"))
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            _r4(F.col("o_totalprice")).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    )


@_register(
    "disjunctive_filter",
    oracle="""
    SELECT ROUND(SUM(CASE WHEN isfinite(l.l_extendedprice)
                           AND isfinite(l.l_discount)
                     THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                     END) / 10000.0, 4) AS revenue,
           COUNT(*) AS n
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 10)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity >= 20)
       OR (p.p_size >= 40 AND l.l_quantity < 5)
    """,
    tags=("join", "filter"),
    doc="TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst "
    "extracts the common single-side conjuncts and pushes them below "
    "the join; the residual disjunction evaluates post-join in "
    "codegen. Revenue sums exact integer ten-thousandths "
    "(summation-order-independent; the sf1 sweep caught the float "
    "sum on a .5-render boundary, same class as revenue_by_nation); "
    "non-finite money masks like NULL.",
)
def q_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_spark.functions.nullsafe import not_finite

    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), p.p_partkey == l.l_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & (F.col("l_quantity") >= 20))
        | ((F.col("p_size") >= 40) & (F.col("l_quantity") < 5))
    )
    rev_1e4 = F.when(
        ~not_finite("l_extendedprice") & ~not_finite("l_discount"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint")),
    )
    return j.filter(cond).agg(
        _r4(F.sum(rev_1e4) / 10000.0).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "idle_rich_customers",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_customers,
           ROUND(SUM(c.c_acctbal), 4) AS total_acctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    tags=("join", "subquery", "anti"),
    doc="TPC-H Q22 shape: above-average customers with no very large "
    "(>450k) order — scalar subquery filter + NOT EXISTS decorrelated "
    "to a left-anti join. The scalar avg broadcasts; the "
    "anti-join probes the orders keys.",
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(o.filter(F.col("o_totalprice") > 450000), c.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _r4(F.sum("c_acctbal")).alias("total_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


@_register(
    "top_order_per_customer",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    SELECT c.c_name, r.o_orderkey,
           ROUND(r.o_totalprice, 4) AS o_totalprice, r.o_orderdate
    FROM ranked r JOIN customer c ON c.c_custkey = r.o_custkey
    WHERE r.rn = 1
    ORDER BY c.c_name
    """,
    tags=("window", "join"),
    doc="per-group top-1 (greatest-n-per-group): window rank + filter, "
    "then a broadcast dim join — the decorrelated form of a "
    "correlated 'largest order per customer' subquery.",
)
def q_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    top = o.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        top.join(F.broadcast(c), top.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            _r4(F.col("o_totalprice")).alias("o_totalprice"),
            "o_orderdate",
        )
        .orderBy("c_name")
    )


@_register(
    "small_quantity_revenue",
    oracle="""
    WITH pa AS (
      SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_cut
      FROM lineitem GROUP BY l_partkey
    )
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 4) AS avg_yearly,
           COUNT(*) AS n_lineitems
    FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
    WHERE l.l_quantity < pa.qty_cut
    """,
    tags=("join", "subquery"),
    doc="TPC-H Q17 shape: correlated scalar-average subquery "
    "(quantity below 20% of the part's average) decorrelated into a "
    "pre-aggregated per-part cutoff joined back to the fact — one "
    "partial-agg shuffle + one equi-join instead of a per-row "
    "correlated probe. The per-part cutoff table is part-count-sized "
    "and broadcastable at any scale.",
)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    pa = l.groupBy("l_partkey").agg(
        (0.2 * F.avg("l_quantity")).alias("qty_cut")
    )
    j = l.join(F.broadcast(pa), "l_partkey").filter(
        F.col("l_quantity") < F.col("qty_cut")
    )
    return j.agg(
        _r4(F.sum("l_extendedprice") / 7.0).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


# ---------------------------------------------------------------------------
# Spark SQL API surface: the same engine is driveable with plain SQL
# over registered views (spark.sql), not only the DataFrame API — shown
# with a weekly-active-users rollup whose SQL text is shared almost
# verbatim with the DuckDB oracle.


_WAU_SQL = """
SELECT CAST(date_trunc('week', ts) AS DATE) AS week_start,
       COUNT(DISTINCT user_id) AS active_users,
       COUNT(*) AS n_events,
       ROUND(SUM(value) * 1000000.0) / 1000000.0 AS total_value
FROM {table}
GROUP BY CAST(date_trunc('week', ts) AS DATE)
ORDER BY week_start
"""


@_register(
    "sql_weekly_active_users",
    oracle=_WAU_SQL.replace("{table}", "events").replace(
        "ROUND(SUM(value) * 1000000.0) / 1000000.0", "ROUND(SUM(value), 6)"
    ),
    tags=("sql", "agg"),
    doc="the SQL API path: identical SQL text runs via spark.sql over "
    "a registered view and via DuckDB (only the round spelling "
    "differs, per the documented scale-multiply mimic) — users who "
    "prefer SQL to the DataFrame API get the same Catalyst plans.",
)
def q_sql_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events").createOrReplaceTempView("__events_sql_api")
    return spark.sql(_WAU_SQL.replace("{table}", "__events_sql_api"))


# ---------------------------------------------------------------------------
# Relational-surface fill-outs: rank-family window functions
# (ntile / percent_rank / cume_dist), set operations
# (INTERSECT / EXCEPT), and a FULL OUTER reconciliation join — the
# remaining ANSI surface a reference user would expect to carry over.


@_register(
    "value_rank_family",
    oracle="""
    SELECT event_id, event_type,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
    tags=("window", "rank"),
    doc="the rank-family window surface in one query: ntile(4) "
    "quartile assignment, percent_rank, cume_dist, rank, dense_rank "
    "per event_type ordered by (value, event_id) — the tiebreak makes "
    "every function deterministic so both engines agree bit-for-bit. "
    "The whole family is DERIVED from the grouped distributed row "
    "number (operators/rank.py::with_grouped_global_rank — a plain "
    "PARTITION BY event_type window caps parallelism at |types|): "
    "rank = min row_number over the (type, value, id) tie group, "
    "cume_dist = (rank + ties - 1)/N, percent_rank = (rank-1)/(N-1) "
    "(0 for a 1-row group, the SQL definition), dense_rank = the "
    "grouped row number of the DISTINCT tie-key table, ntile = the "
    "closed-form arithmetic. The tie join is a co-partitioned "
    "shuffle join on the near-unique tie key, never a broadcast of "
    "anything event-sized.",
)
def q_value_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    # asc_nulls_last everywhere: Spark ASC is NULLS FIRST, DuckDB
    # ORDER BY default is NULLS LAST — NULL values must rank last on
    # both engines (with_grouped_global_rank pins this)
    # pin once per invocation: the tie-group pass and the final join's
    # left side both read the ranked frame — unpinned, the global-rank
    # decomposition executed twice (optimization r11)
    rn = with_grouped_global_rank(
        ev, ["event_type"], "value", "event_id", rank_col="__rn"
    ).localCheckpoint(eager=False)
    # tie groups: duplicate (type, value, id) rows (fuzz plants full-
    # row duplicates) share rank/cume; min/count over the tie key
    ties = rn.groupBy("event_type", "value", "event_id").agg(
        F.min("__rn").alias("__minrn"), F.count(F.lit(1)).alias("__tn")
    )
    # dense_rank = row number of the DISTINCT tie key within its group
    dties = with_grouped_global_rank(
        ties, ["event_type"], "value", "event_id", rank_col="__dr"
    )
    totals = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("__n"))
    cond = (
        F.col("l.event_type").eqNullSafe(F.col("r.event_type"))
        & F.col("l.value").eqNullSafe(F.col("r.value"))
        & F.col("l.event_id").eqNullSafe(F.col("r.event_id"))
    )
    joined = (
        rn.alias("l")
        .join(dties.alias("r"), cond)
        .select(
            F.col("l.event_id").alias("event_id"),
            F.col("l.event_type").alias("event_type"),
            "__rn",
            "__minrn",
            "__tn",
            "__dr",
        )
        .join(
            F.broadcast(totals).withColumnRenamed("event_type", "__t"),
            F.col("event_type").eqNullSafe(F.col("__t")),
        )
    )
    n = F.col("__n")
    pct = F.when(n == 1, F.lit(0.0)).otherwise(
        (F.col("__minrn") - 1) / (n - 1)
    )
    return joined.select(
        "event_id",
        "event_type",
        ntile_from_rank(F.col("__rn"), n, 4).alias("quartile"),
        _r6(pct).alias("pct_rank"),
        _r6((F.col("__minrn") + F.col("__tn") - 1) / n).alias("cume"),
        F.col("__minrn").cast("long").alias("rnk"),
        F.col("__dr").cast("long").alias("drnk"),
    )


@_register(
    "user_cohort_set_ops",
    oracle="""
    WITH w1 AS (
      SELECT DISTINCT user_id FROM events WHERE ts < TIMESTAMP '2024-01-08'
    ), w2 AS (
      SELECT DISTINCT user_id FROM events WHERE ts >= TIMESTAMP '2024-01-24'
    )
    SELECT user_id, 'retained' AS cohort FROM (SELECT * FROM w1 INTERSECT SELECT * FROM w2)
    UNION ALL
    SELECT user_id, 'churned' AS cohort FROM (SELECT * FROM w1 EXCEPT SELECT * FROM w2)
    UNION ALL
    SELECT user_id, 'new' AS cohort FROM (SELECT * FROM w2 EXCEPT SELECT * FROM w1)
    """,
    tags=("setops",),
    doc="set-operation surface: INTERSECT / EXCEPT cohorting of users "
    "between the first and last activity week (retained / churned / "
    "new). Spark plans these as left-semi / left-anti joins over the "
    "distinct key sets — same hash-join machinery as the key-match "
    "gates, no sort.",
)
def q_user_cohort_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w1 = ev.filter(F.col("ts") < "2024-01-08").select("user_id").distinct()
    w2 = ev.filter(F.col("ts") >= "2024-01-24").select("user_id").distinct()
    return (
        w1.intersect(w2).select("user_id", F.lit("retained").alias("cohort"))
        .unionAll(w1.exceptAll(w2).distinct().select("user_id", F.lit("churned").alias("cohort")))
        .unionAll(w2.exceptAll(w1).distinct().select("user_id", F.lit("new").alias("cohort")))
    )


@_register(
    "daily_order_ship_reconciliation",
    oracle="""
    WITH o AS (
      SELECT o_orderdate AS d, COUNT(*) AS n_orders,
             ROUND(SUM(CASE WHEN NOT isfinite(o_totalprice) THEN NULL
                       ELSE o_totalprice END), 2) AS order_value
      FROM orders GROUP BY o_orderdate
    ), s AS (
      SELECT l_shipdate AS d, COUNT(*) AS n_shipments
      FROM lineitem GROUP BY l_shipdate
    )
    SELECT COALESCE(o.d, s.d) AS date,
           o.n_orders, o.order_value, s.n_shipments,
           o.d IS NOT NULL AND s.d IS NOT NULL AS both_sides
    FROM o FULL OUTER JOIN s ON o.d = s.d
    """,
    tags=("join", "outer"),
    doc="FULL OUTER reconciliation: daily order counts/value vs daily "
    "shipment counts, null-preserving on both unmatched sides with a "
    "both_sides audit flag — the dataset-diff shape every warehouse "
    "migration runs. Both inputs pre-aggregate (partial agg map-side) "
    "before a sort-merge full join on the date key.",
)
def q_daily_order_ship_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    o = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.round(F.sum(nan_nn("o_totalprice")) * 100) / 100).alias("order_value"),
    )
    s = lineitem.groupBy(F.col("l_shipdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n_shipments")
    )
    oo, ss = o.alias("o"), s.alias("s")
    return oo.join(ss, F.col("o.d") == F.col("s.d"), "full").select(
        F.coalesce(F.col("o.d"), F.col("s.d")).alias("date"),
        "n_orders",
        "order_value",
        "n_shipments",
        (F.col("o.d").isNotNull() & F.col("s.d").isNotNull()).alias("both_sides"),
    )


@_register(
    "rolling_1h_time_window",
    oracle="""
    SELECT user_id, ts,
           COUNT(*) OVER w AS n_events_1h,
           ROUND(SUM(value) OVER w, 6) AS sum_value_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "range-frame"),
    doc="TIME-based rolling window (trailing 1 hour per user) via a "
    "RANGE frame over epoch microseconds — the window class row-based "
    "frames can't express when events are irregularly spaced: each "
    "row's frame holds however many events fell in its trailing hour. "
    "Same single hash-exchange + sort as a rows frame; the frame "
    "bound comparison is integer microseconds so both engines agree "
    "exactly (sub-second recipe). COUNT is exact; SUM is a running "
    "segment aggregate in both engines over identical operand sets, "
    "rounded at 6dp.",
)
def q_rolling_1h_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_events_1h"),
        _r6(F.sum("value").over(w)).alias("sum_value_1h"),
    )


@_register(
    "props_json_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INTEGER)), 6) AS avg_k,
           COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS INTEGER))
             AS n_distinct_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("json", "agg"),
    doc="semi-structured column surface: extract a typed field from "
    "the JSON `props` payload (get_json_object / $.k path) and "
    "aggregate it per event type — the schema-on-read shape every "
    "event pipeline needs before promoting a property to a real "
    "column. JSON parsing stays inside codegen; at scale promote hot "
    "paths to from_json with an explicit schema so the parse happens "
    "once per row, not once per extraction.",
)
def q_props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            _r6(F.avg("k")).alias("avg_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
        .orderBy("event_type")
    )


@_register(
    "window_offsets",
    oracle="""
    SELECT user_id, ts,
           ROUND(value, 6) AS value,
           ROUND(lag(value, 1) OVER w, 6) AS prev_value,
           ROUND(lead(value, 1) OVER w, 6) AS next_value,
           ROUND(first_value(value) OVER wf, 6) AS first_val,
           ROUND(last_value(value) OVER wf, 6) AS last_val,
           ROUND(nth_value(value, 3) OVER wf, 6) AS third_val
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts),
           wf AS (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("window", "offset"),
    doc="offset/navigation window surface: lag, lead, first_value, "
    "last_value, nth_value per user series with an explicit full-"
    "partition frame (the default RANGE frame would make last_value "
    "mean 'current row' — a classic correctness trap both engines "
    "share). One exchange + one sort serves all six columns.",
)
def q_window_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "user_id",
        "ts",
        _r6(F.col("value")).alias("value"),
        _r6(F.lag("value", 1).over(w)).alias("prev_value"),
        _r6(F.lead("value", 1).over(w)).alias("next_value"),
        _r6(F.first("value").over(wf)).alias("first_val"),
        _r6(F.last("value").over(wf)).alias("last_val"),
        _r6(F.nth_value("value", 3).over(wf)).alias("third_val"),
    )


@_register(
    "salted_event_type_stats",
    oracle="""
    SELECT event_type,
           COUNT(value) AS n_values,
           ROUND(MAX(value), 6) AS max_value,
           ROUND(MIN(value), 6) AS min_value,
           ROUND(SUM(value), 6) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("agg", "skew"),
    doc="the two-stage SALTED aggregation under the oracle gate: "
    "event_type has only 5 values, the textbook low-cardinality "
    "skewed-reducer shape, so operators/skew.py:salted_agg scatters "
    "each group over 16 sub-keys, partially aggregates, and merges — "
    "and must produce byte-identical results to the plain GROUP BY "
    "the oracle runs. Proves the skew mitigation is semantics-"
    "preserving, not just property-tested: count/min/max are exact "
    "under any regrouping and the float sum survives 6dp rounding.",
)
def q_salted_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_spark.operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n_values": ("count", "value"),
            "max_value": ("max", "value"),
            "min_value": ("min", "value"),
            "total_value": ("sum", "value"),
        },
    )
    return out.select(
        "event_type",
        "n_values",
        _r6(F.col("max_value")).alias("max_value"),
        _r6(F.col("min_value")).alias("min_value"),
        _r6(F.col("total_value")).alias("total_value"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Deeper analytic shapes: a TPC-H Q5-style five-table join tree,
# CUBE aggregation, an ordered event funnel, and a weekly retention
# cohort matrix — the product-analytics surface a warehouse user expects
# on top of the operator inventory.


@_register(
    "local_supplier_revenue",
    oracle="""
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
                 AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    tags=("join", "tpch"),
    doc="TPC-H Q5 shape (local-supplier revenue): five joins — two "
    "fact-fact (lineitem-orders on orderkey, then the customer/"
    "supplier same-nation condition) and three broadcast dims "
    "(supplier, nation, region with the region filter pushed through "
    "the dim chain before any fact row moves). The canonical join-"
    "ordering stress test: Catalyst prunes region first so only one "
    "region's nations reach the fact join.",
)
def q_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dims = F.broadcast(
        supp.join(
            F.broadcast(nation.join(region, nation.n_regionkey == region.r_regionkey)),
            supp.s_nationkey == F.col("n_nationkey"),
        ).select("s_suppkey", "s_nationkey", "n_name")
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            dims,
            (li.l_suppkey == dims.s_suppkey)
            & (cust.c_nationkey == dims.s_nationkey),
        )
    )
    return (
        j.groupBy("n_name")
        .agg(
            _r2(F.sum(li.l_extendedprice * (1 - li.l_discount))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@_register(
    "cube_order_stats",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_value
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    -- HAVING: empty-table contract, see rollup_revenue
    HAVING COUNT(*) > 0
    """,
    tags=("agg", "cube"),
    doc="CUBE over (status, priority): all four grouping combinations "
    "(both, each alone, grand total) in ONE pass — Spark plans it as "
    "an Expand (4 output rows per input) feeding the same partial-agg "
    "shuffle, beating four separate scans at any scale. Complements "
    "rollup_revenue which covers the hierarchical case.",
)
def q_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _r2(F.sum("o_totalprice")).alias("total_value"),
    )


@_register(
    "event_funnel",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT
      COUNT(t_view) AS n_view,
      COUNT(CASE WHEN t_click > t_view THEN 1 END) AS n_click_after_view,
      COUNT(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END)
        AS n_purchase_after_click,
      -- NULLIF: an empty funnel stage is a NULL rate on BOTH engines
      -- (unguarded, Spark ANSI raises DIVIDE_BY_ZERO and DuckDB
      -- yields NaN — the empty-corpus sweep caught the crash)
      ROUND(COUNT(CASE WHEN t_click > t_view THEN 1 END)
            / CAST(NULLIF(COUNT(t_view), 0) AS DOUBLE), 6) AS view_to_click,
      ROUND(COUNT(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END)
            / CAST(NULLIF(COUNT(CASE WHEN t_click > t_view THEN 1 END), 0)
                   AS DOUBLE), 6)
        AS click_to_purchase
    FROM firsts
    """,
    tags=("agg", "funnel"),
    doc="ordered event funnel (view → click → purchase): first "
    "occurrence of each step per user via conditional MIN (one "
    "grouped pass over events, no self-joins — the naive formulation "
    "is a 3-way self-join), then strict time-ordering between steps "
    "and conversion rates. NULL comparisons drop users missing a "
    "step, exactly as both engines define three-valued logic; an "
    "empty stage yields NULL rates rather than a raise (Spark) or "
    "NaN (DuckDB).",
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def first_of(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    firsts = ev.groupBy("user_id").agg(
        first_of("view").alias("t_view"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"),
    )
    clicked = F.col("t_click") > F.col("t_view")
    purchased = (F.col("t_purchase") > F.col("t_click")) & clicked
    return firsts.agg(
        F.count("t_view").alias("n_view"),
        F.count(F.when(clicked, 1)).alias("n_click_after_view"),
        F.count(F.when(purchased, 1)).alias("n_purchase_after_click"),
        (
            F.round(
                F.count(F.when(clicked, 1))
                / F.nullif(F.count("t_view").cast("double"), F.lit(0.0))
                * 1e6
            )
            / 1e6
        ).alias("view_to_click"),
        (
            F.round(
                F.count(F.when(purchased, 1))
                / F.nullif(
                    F.count(F.when(clicked, 1)).cast("double"), F.lit(0.0)
                )
                * 1e6
            )
            / 1e6
        ).alias("click_to_purchase"),
    )


@_register(
    "weekly_retention",
    oracle="""
    WITH first_week AS (
      SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
      FROM events
    )
    SELECT CAST(f.cohort_week AS TIMESTAMP) AS cohort_week,
           CAST((epoch(a.active_week) - epoch(f.cohort_week)) / 604800 AS INTEGER)
             AS weeks_since,
           COUNT(*) AS n_users
    FROM first_week f JOIN activity a USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("agg", "retention"),
    doc="weekly retention cohort matrix: cohort = first active week "
    "per user, then distinct (user, week) activity joined back and "
    "bucketed by weeks-since-cohort. Two grouped passes + one join on "
    "user_id; the cohort dim is user-count-sized and broadcastable. "
    "date_trunc('week') returns DATE in DuckDB vs TIMESTAMP in Spark "
    "— both sides cast (the known parity recipe).",
)
def q_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts"))
    first_week = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    activity = ev.select("user_id", week.alias("active_week")).distinct()
    j = activity.join(F.broadcast(first_week), "user_id")
    weeks_since = (
        (F.unix_timestamp("active_week") - F.unix_timestamp("cohort_week")) / 604800
    ).cast("int")
    return (
        j.groupBy(
            F.col("cohort_week").cast("timestamp").alias("cohort_week"),
            weeks_since.alias("weeks_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "weeks_since")
    )


# ---------------------------------------------------------------------------
# TPC-H Q2/Q11/Q15 shapes adapted to this schema (no partsupp table —
# lineitem's (l_partkey, l_suppkey, price) triples stand in as the
# part-supplier cost relation). These complete the classic decorrelation
# family begun by the Q18/Q19/Q22/Q17 shapes above: correlated MIN,
# global-scalar HAVING, and max-of-aggregated-view.
#
# Reference parity: the reference exposes ad-hoc SQL over its warehouse
# (app/dashboard.py query surface); these are the next relational shapes a
# user of that surface writes once they outgrow the fixed dashboard
# queries.


def _supplier_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (part, supplier) mean unit price from lineitem — the
    partsupp stand-in. One partial-agg shuffle on the composite key;
    the result is |part|x|supplier|-bounded (catalog-sized, far below
    the fact table) so everything downstream can broadcast."""
    l = _t(spark, sf_dir, "lineitem")
    # priced, quantified lines only: a NULL/zero-qty line carries no
    # unit cost, and an all-NULL (part,supp) group would put a NULL
    # unit_cost into the rank ORDER BY where Spark (NULLS FIRST) and
    # DuckDB (NULLS LAST) disagree
    return (
        l.filter(
            F.col("l_extendedprice").isNotNull()
            & F.col("l_quantity").isNotNull()
            & (F.col("l_quantity") != 0)
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.avg(
                F.col("l_extendedprice") / F.col("l_quantity")
            ).alias("unit_cost")
        )
    )


@_register(
    "min_cost_supplier",
    oracle="""
    WITH ps AS (
      -- priced, quantified lines only (see _supplier_cost: an
      -- all-NULL group's NULL unit_cost would shear the rank
      -- ORDER BY between engines)
      SELECT l_partkey, l_suppkey,
             AVG(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        AND l_quantity <> 0
      GROUP BY l_partkey, l_suppkey
    ), ranked AS (
      SELECT p.p_partkey, p.p_name, s.s_name, n.n_name, ps.unit_cost,
             ROW_NUMBER() OVER (PARTITION BY p.p_partkey
                                ORDER BY ROUND(ps.unit_cost, 6), ps.l_suppkey) AS rn
      FROM ps
      JOIN part p     ON p.p_partkey = ps.l_partkey
      JOIN supplier s ON s.s_suppkey = ps.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      JOIN region r   ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE' AND p.p_size <= 10
    )
    SELECT p_partkey, p_name, s_name, n_name,
           ROUND(unit_cost, 4) AS unit_cost
    FROM ranked WHERE rn = 1
    ORDER BY p_partkey
    """,
    tags=("join", "subquery", "window"),
    doc="TPC-H Q2 shape: cheapest EUROPE supplier per small part. The "
    "correlated 'cost = (SELECT MIN ...)' subquery is decorrelated to "
    "a window top-1 over the part-supplier cost relation; dims "
    "(part/supplier/nation/region) all broadcast, so the only shuffle "
    "is the cost pre-aggregation on (part, supplier) — which at any "
    "scale is catalog-sized, not fact-sized. Tie-break on rounded "
    "cost then suppkey keeps the winner deterministic across engines.",
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _supplier_cost(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    j = (
        ps.join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .join(F.broadcast(s), ps.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    w = Window.partitionBy("p_partkey").orderBy(
        _r6(F.col("unit_cost")), F.col("l_suppkey")
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            _r4(F.col("unit_cost")).alias("unit_cost"),
        )
        .orderBy("p_partkey")
    )


@_register(
    "important_parts",
    oracle="""
    WITH pv AS (
      SELECT l.l_partkey, SUM(l.l_extendedprice) AS part_value
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_7'
      GROUP BY l.l_partkey
    )
    SELECT l_partkey, ROUND(part_value, 4) AS part_value
    FROM (
      SELECT l_partkey, part_value, AVG(part_value) OVER () * 2.0 AS cut
      FROM pv
    )
    WHERE part_value > cut
    ORDER BY part_value DESC, l_partkey
    """,
    tags=("join", "subquery"),
    doc="TPC-H Q11 shape: parts whose value (via one nation's "
    "suppliers) exceeds a global-scalar threshold — 2x the mean part "
    "value rather than Q11's fixed fraction of the total, so the "
    "selectivity is scale-invariant (a fixed fraction selects nothing "
    "once the part catalog grows 10x). The per-part aggregate is "
    "pinned with ONE localCheckpoint so the fact table is scanned and "
    "shuffled exactly once (a scalar subquery would rescan it — "
    "verified: that form scans lineitem twice); the threshold is then "
    "a distributed partial-AVG over the pinned frame broadcast back "
    "as one row, so the catalog-sized aggregate never funnels "
    "through a single-partition window task.",
)
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    pv = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum("l_extendedprice").alias("part_value"))
        .localCheckpoint(eager=False)
    )
    cut = pv.agg((F.avg("part_value") * 2.0).alias("__cut"))
    return (
        pv.crossJoin(F.broadcast(cut))
        .filter(F.col("part_value") > F.col("__cut"))
        .select("l_partkey", _r4(F.col("part_value")).alias("part_value"))
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


@_register(
    "top_supplier_revenue",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey, SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, ROUND(r.total_revenue, 4) AS total_revenue
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s.s_suppkey
    """,
    tags=("join", "subquery"),
    doc="TPC-H Q15 shape: supplier(s) with maximum quarterly revenue. "
    "The revenue 'view' is computed once (date filter pushed to the "
    "scan, partial-agg shuffle on suppkey), its 1-row MAX broadcasts "
    "back against itself, and the supplier dim broadcasts for the "
    "final name lookup. Winner-by-equality is safe across engines: "
    "each engine compares its own sum against its own max, so only a "
    "sub-1e-9 revenue tie between two suppliers could diverge.",
)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("__max"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__max"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            _r4(F.col("total_revenue")).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Bloom-pre-filtered semi-join as a registered, oracle-checked query.
#
# The 100 TB motivation: `events` is the fact stream; "customers with a
# high balance" is a build side that at production scale is far beyond
# the broadcast threshold, so a naive semi-join shuffles every event row.
# The bloom bitset (32 KB at the default m=2^18, independent of build
# cardinality) broadcasts
# instead and drops non-matching events before the shuffle. Semantics
# stay exact (no false negatives + exact residual semi-join), so the
# DuckDB oracle is the plain semi-join aggregate.


@_register(
    "bloom_prefilter_semi_join",
    oracle="""
    SELECT e.event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(e.value), 4) AS total_value
    FROM events e
    WHERE e.user_id IN (
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    )
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    tags=("join", "semi", "bloom"),
    doc="Per-type activity of high-balance customers, computed as a "
    "Bloom-pre-filtered exact semi-join (operators/bloom.py): k=5 "
    "xxhash64 positions into a 2^18-bit bitset built with one "
    "map-side-combinable bit_or aggregate, inlined into the probe "
    "filter as a dense array literal (the broadcast-variable "
    "pattern — a join-carried bitset would be copied into every "
    "probe row), probed with forall()+bit_get() in codegen, then the "
    "exact semi-join removes false positives. Equivalent to "
    "IN(subquery) for any input — the bloom only shrinks the "
    "probe-side shuffle, which is the whole point when the build side "
    "outgrows the broadcast threshold.",
)
def q_bloom_prefilter_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer")
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    matched = bloom_semi_join(
        e.select("user_id", "event_type", "value"),
        rich,
        probe_key="user_id",
        build_key="c_custkey",
    )
    return (
        matched.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _r4(F.sum("value")).alias("total_value"),
        )
        .orderBy("event_type")
    )


@_register(
    "grouping_sets_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
           COUNT(*) AS n,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    -- HAVING: empty-table contract, see rollup_revenue
    HAVING COUNT(*) > 0
    ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("agg", "groupingsets"),
    doc="GROUPING SETS: detail, subtotal, and grand-total levels of "
    "the revenue report in ONE scan — Catalyst plans Expand feeding a "
    "single partial-agg shuffle exactly like CUBE (pinned for CUBE in "
    "test_plan_shapes), never three scans. grouping_id disambiguates "
    "real NULLs from subtotal rows; identical GROUPING() bit layout "
    "in both engines.",
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__li_gsets")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
                 AS gid,
               COUNT(*) AS n,
               ROUND(SUM(l_extendedprice * (1 - l_discount)) * 10000.0) / 10000.0
                 AS revenue
        FROM __li_gsets
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        HAVING COUNT(*) > 0
        ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """)


# ---------------------------------------------------------------------------
# TPC-H Q7 shape (bilateral trade flows) and a Heaps-law corpus
# profile — join-breadth and corpus-growth statistics respectively.
#
# Reference parity: the trade-flow query is the widest join tree in the
# repo (fact + 2 independent dim chains through the SAME nation table —
# the self-dim pattern); the Heaps profile is the corpus-health summary
# a training-data curator reads before sampling decisions.


@_register(
    "nation_trade_flows",
    oracle="""
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
           COUNT(*) AS n_lineitems,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS volume
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    WHERE sn.n_name IN ('NATION_1', 'NATION_2')
      AND cn.n_name IN ('NATION_1', 'NATION_2')
      AND sn.n_name <> cn.n_name
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
    ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("join", "analytics"),
    doc="TPC-H Q7 shape: shipping volume between two nations by year, "
    "in both directions. The nation dim joins TWICE under different "
    "roles (supplier's vs customer's nation — aliased independent "
    "broadcasts, the self-dim pattern); the only shuffle joins are "
    "fact->orders. Nation filters reach both dim scans, the date "
    "range reaches the fact scan, and the cross-nation inequality "
    "evaluates post-join in codegen.",
)
def q_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            _r4(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("volume"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape: national market share inside a region.
#
# Reference parity: the widest star join in the repo — fact ->
# part/supplier/orders/customer plus BOTH nation roles and region —
# collapsed into a conditional-aggregate share. The reference's
# dashboard answers "what fraction of revenue came from X" with pandas
# filters (app/dashboard.py aggregate views); at warehouse scale the
# same question is this one declarative plan.


@_register(
    "nation_market_share",
    oracle="""
    WITH base AS (
      SELECT year(o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = cn.n_regionkey
                     AND r.r_name = 'EUROPE'
      WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    )
    SELECT CAST(o_year AS INTEGER) AS o_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_3'
                          THEN volume ELSE 0 END), 4) AS nation_volume,
           ROUND(SUM(volume), 4) AS total_volume,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_3'
                          THEN volume ELSE 0 END) / SUM(volume), 6)
             AS mkt_share
    FROM base GROUP BY o_year ORDER BY o_year
    """,
    tags=("join", "analytics"),
    doc="TPC-H Q8 shape: NATION_3's share of PROMO-part revenue sold "
    "to EUROPE customers, by order year. Share = conditional sum / "
    "total sum in ONE aggregation pass — never two scans. Part filter "
    "and date range push into their scans; part/supplier/nation/"
    "region/customer broadcast (nation under two roles via aliased "
    "independent broadcasts); the only shuffle join is fact->orders. "
    "At 100 TB supplier/customer outgrow the broadcast threshold and "
    "AQE demotes them to shuffle joins on their sorted keys — the "
    "plan shape is unchanged.",
)
def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_regionkey").alias("cn_rkey"),
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_vol = F.when(
        F.col("supp_nation") == "NATION_3", volume
    ).otherwise(F.lit(0.0))
    j = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_rkey") == r.r_regionkey)
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            _r4(F.sum(nation_vol)).alias("nation_volume"),
            _r4(F.sum(volume)).alias("total_volume"),
            _r6(F.sum(nation_vol) / F.sum(volume)).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


@_register(
    "revenue_wow_growth",
    oracle="""
    WITH weekly AS (
      -- date-less orders are off the weekly axis; a NULL wk in the
      -- lag ORDER BY is engine-divergent (and DuckDB's parallel
      -- window sort places it unstably run-to-run)
      -- integer-cents snap (the rfm/gini/cohort discipline): a raw
      -- double week-sum is fold-order nondeterministic in its last
      -- ulp, which can flip the 4dp round run-to-run
      SELECT CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS wk,
             CAST(ROUND(SUM((CASE WHEN NOT isfinite(o_totalprice) THEN NULL ELSE o_totalprice END) * 100)) AS BIGINT) AS cents,
             COUNT(*) AS n_orders
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    )
    SELECT wk, ROUND(cents / 100.0, 4) AS revenue, n_orders,
           ROUND((cents - lag(cents) OVER (ORDER BY wk))
                 / nullif(1.0 * lag(cents) OVER (ORDER BY wk), 0.0),
                 6) AS wow_growth
    FROM weekly ORDER BY wk
    """,
    tags=("analytics", "window"),
    doc="Week-over-week revenue growth: one partial-agg shuffle to "
    "the weekly rollup (52 rows/year at ANY data scale), then the "
    "lag window runs single-partition on metadata — the correct "
    "shape for growth tiles: never window the fact table, window "
    "the rollup. date_trunc('week') cast to TIMESTAMP on both "
    "engines (DuckDB returns DATE).",
)
def q_revenue_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    weekly = o.groupBy(
        F.date_trunc("week", "o_orderdate").alias("wk")
    ).agg(
        F.round(F.sum(nan_nn("o_totalprice") * 100))
        .cast("bigint")
        .alias("cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.partitionBy().orderBy("wk")
    return weekly.select(
        "wk",
        _r4(F.col("cents") / 100.0).alias("revenue"),
        "n_orders",
        _r6(
            F.try_divide(
                F.col("cents") - F.lag("cents").over(w),
                1.0 * F.lag("cents").over(w),
            )
        ).alias("wow_growth"),
    ).orderBy("wk")


@_register(
    "sliding_7d_active_users",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
      FROM events
    ), days AS (
      SELECT DISTINCT day FROM ud
    ), expanded AS (
      SELECT ud.user_id, ud.day + o.o * INTERVAL 1 DAY AS obs_day
      FROM ud, (SELECT unnest(range(0, 7)) AS o) o
    ), wau AS (
      SELECT obs_day, COUNT(DISTINCT user_id) AS active_7d
      FROM expanded GROUP BY obs_day
    ), dau AS (
      SELECT day, COUNT(*) AS active_1d FROM ud GROUP BY day
    )
    SELECT d.day, dau.active_1d, wau.active_7d,
           ROUND(dau.active_1d * 1.0 / wau.active_7d, 6) AS stickiness
    FROM days d
    JOIN dau ON dau.day = d.day
    JOIN wau ON wau.obs_day = d.day
    ORDER BY d.day
    """,
    tags=("analytics", "agg"),
    doc="Sliding 7-day distinct actives (WAU) + same-day DAU + "
    "stickiness, via the bounded-fanout rewrite: distinct (user, day) "
    "pairs each project into the <=7 observation days they keep a "
    "user active in, then one COUNT DISTINCT per day. The naive form "
    "(a 7-day RANGE window with a distinct agg) keeps per-day state "
    "proportional to the window's raw rows; this form's fanout is a "
    "CONSTANT 7x on the already-deduped (user, day) table and every "
    "stage partial-aggregates — the standard scale pattern for "
    "sliding distinct counts.",
)
def q_sliding_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    days = ud.select("day").distinct()
    expanded = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"),
        "day",
    ).select(
        "user_id",
        F.expr("timestampadd(DAY, o, day)").alias("obs_day"),
    )
    wau = expanded.groupBy("obs_day").agg(
        F.countDistinct("user_id").alias("active_7d")
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("active_1d"))
    return (
        days.join(dau, "day")
        .join(wau, days.day == wau.obs_day)
        .select(
            "day",
            "active_1d",
            "active_7d",
            _r6(F.col("active_1d") * 1.0 / F.col("active_7d")).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Funnel latency, backlog scan-line, and market-basket pairs.
#
# Reference parity: the reference's dashboard answers "how many users
# converted" (event funnel); these add the harder operational follow-ups
# — how LONG conversion takes (cohorted latency percentiles), how much
# work is in flight at any date (the interval-counting scan-line, which
# naively is a point-in-interval range join), and which items co-occur
# (the self-join-within-group market-basket shape).


@_register(
    "funnel_conversion_latency",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), p AS (
      SELECT user_id, MIN(ts) AS purchase_ts FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    ), conv AS (
      SELECT CAST(date_trunc('week', s.signup_ts) AS TIMESTAMP)
               AS cohort_week,
             (epoch_us(p.purchase_ts) - epoch_us(s.signup_ts))
               / 3600000000.0 AS latency_h
      FROM s JOIN p USING (user_id)
      WHERE p.purchase_ts >= s.signup_ts
    )
    SELECT cohort_week,
           COUNT(*) AS n_converted,
           ROUND(quantile_cont(latency_h, 0.5), 6) AS p50_latency_h,
           ROUND(quantile_cont(latency_h, 0.9), 6) AS p90_latency_h
    FROM conv GROUP BY cohort_week ORDER BY cohort_week
    """,
    tags=("analytics", "funnel", "percentile"),
    doc="Cohorted conversion latency: first signup -> first purchase "
    "per user, exact-microsecond latency in hours (epoch diffs then "
    "ONE division — never seconds-casts), p50/p90 per signup week. "
    "Two conditional-MIN partial aggs shrink events to one row per "
    "user per step BEFORE the user-keyed join, so the join input is "
    "users-sized, not events-sized — the funnel family's latency "
    "member (event_funnel asks who converted; this asks how fast).",
)
def q_funnel_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    conv = (
        s.join(p, "user_id")
        .filter(F.col("purchase_ts") >= F.col("signup_ts"))
        .select(
            F.date_trunc("week", "signup_ts").alias("cohort_week"),
            (
                (
                    F.unix_micros("purchase_ts")
                    - F.unix_micros("signup_ts")
                )
                / 3600000000.0
            ).alias("latency_h"),
        )
    )
    return (
        conv.groupBy("cohort_week")
        .agg(
            F.count(F.lit(1)).alias("n_converted"),
            _r6(F.expr("percentile(latency_h, 0.5)")).alias(
                "p50_latency_h"
            ),
            _r6(F.expr("percentile(latency_h, 0.9)")).alias(
                "p90_latency_h"
            ),
        )
        .orderBy("cohort_week")
    )


@_register(
    "order_backlog_daily",
    oracle="""
    WITH ship AS (
      SELECT l_orderkey AS okey, MAX(l_shipdate) AS done_ts
      FROM lineitem GROUP BY l_orderkey
    ), deltas AS (
      -- date-less orders can't enter the scan-line (and a NULL day
      -- would land at opposite ends of the cumsum ORDER BY: Spark
      -- NULLS FIRST vs DuckDB NULLS LAST); an all-NULL-shipdate
      -- order simply never closes
      SELECT CAST(date_trunc('day', o.o_orderdate) AS TIMESTAMP) AS day,
             1 AS delta
      FROM orders o WHERE o.o_orderdate IS NOT NULL
      UNION ALL
      SELECT CAST(date_trunc('day', s.done_ts) AS TIMESTAMP) AS day,
             -1 AS delta
      FROM ship s JOIN orders o ON o.o_orderkey = s.okey
      WHERE s.done_ts IS NOT NULL
    ), daily AS (
      SELECT day, CAST(SUM(delta) AS BIGINT) AS net FROM deltas GROUP BY day
    )
    SELECT day, net,
           CAST(SUM(net) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS backlog
    FROM daily ORDER BY day
    """,
    tags=("analytics", "window"),
    doc="Open-order backlog over time as a scan-line: +1 at order "
    "date, -1 at the order's last ship date, daily net, integer "
    "cumulative sum. The naive form is a point-in-interval range "
    "join (every day x every open order); the scan-line form is two "
    "partial-agg shuffles to a DAYS-sized table and one metadata "
    "window — the interval-counting rewrite that survives any scale. "
    "Integer deltas make the cumsum exact in both engines.",
)
def q_order_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ship = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.max("l_shipdate").alias("done_ts")
    )
    opened = o.filter(F.col("o_orderdate").isNotNull()).select(
        F.date_trunc("day", "o_orderdate").alias("day"),
        F.lit(1).alias("delta"),
    )
    closed = (
        ship.filter(F.col("done_ts").isNotNull())
        .join(o, ship.okey == o.o_orderkey)
        .select(
            F.date_trunc("day", "done_ts").alias("day"),
            F.lit(-1).alias("delta"),
        )
    )
    daily = (
        opened.unionAll(closed)
        .groupBy("day")
        .agg(F.sum("delta").alias("net"))
    )
    w = (
        Window.partitionBy()
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "day", "net", F.sum("net").over(w).alias("backlog")
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Growth accounting, session conversion, and dup-cluster shape.
#
# Reference parity: the reference's dashboard shows activity counts;
# growth accounting is the standard decomposition product teams actually
# run on them (every weekly active user is exactly one of new/retained/
# resurrected, and last week's actives who vanished are churned — the
# four flows reconcile WAU deltas). session_conversion_daily composes
# the sessionizer with a per-session outcome flag; dup_cluster_size_stats
# reads the connected-component structure the transitive keeper builds
# and answers the curator's question "how big do duplicate clusters get".


@_register(
    "growth_accounting_weekly",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
      FROM events
    ), seq AS (
      SELECT user_id, wk,
             MIN(wk) OVER (PARTITION BY user_id) AS first_wk,
             lag(wk)  OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
             lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
      FROM uw
    ), mx AS (
      SELECT MAX(wk) AS max_wk FROM uw
    ), actives AS (
      SELECT wk,
             CASE WHEN wk = first_wk THEN 'new'
                  WHEN prev_wk = wk - INTERVAL 7 DAY THEN 'retained'
                  ELSE 'resurrected' END AS status
      FROM seq
    ), churn AS (
      SELECT s.wk + INTERVAL 7 DAY AS wk, 'churned' AS status
      FROM seq s, mx
      WHERE (s.next_wk IS NULL OR s.next_wk > s.wk + INTERVAL 7 DAY)
        AND s.wk + INTERVAL 7 DAY <= mx.max_wk
    ), unioned AS (
      SELECT * FROM actives UNION ALL SELECT * FROM churn
    )
    SELECT wk,
           CAST(SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN status = 'retained' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_retained,
           CAST(SUM(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_resurrected,
           CAST(SUM(CASE WHEN status = 'churned' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_churned
    FROM unioned GROUP BY wk ORDER BY wk
    """,
    tags=("analytics", "window"),
    doc="Weekly growth accounting: every active user classified as "
    "new (first week), retained (also active previous week), or "
    "resurrected (returning after a gap); churned counts last week's "
    "actives who vanished, reported into the week they went missing "
    "(capped at the observed horizon). One window pass over the "
    "deduped (user, week) table — users-x-weeks-sized, far smaller "
    "than events — then a conditional-sum pivot on weeks-sized data. "
    "The four flows reconcile WAU week-over-week deltas exactly.",
)
def q_growth_accounting_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    wu = Window.partitionBy("user_id")
    wo = wu.orderBy("wk")
    seq = uw.select(
        "user_id",
        "wk",
        F.min("wk").over(wu).alias("first_wk"),
        F.lag("wk").over(wo).alias("prev_wk"),
        F.lead("wk").over(wo).alias("next_wk"),
    )
    week = F.expr("INTERVAL 7 DAYS")
    mx = uw.agg(F.max("wk").alias("max_wk"))
    actives = seq.select(
        "wk",
        F.when(F.col("wk") == F.col("first_wk"), "new")
        .when(F.col("prev_wk") == F.col("wk") - week, "retained")
        .otherwise("resurrected")
        .alias("status"),
    )
    churn = (
        seq.join(F.broadcast(mx))
        .filter(
            (
                F.col("next_wk").isNull()
                | (F.col("next_wk") > F.col("wk") + week)
            )
            & (F.col("wk") + week <= F.col("max_wk"))
        )
        .select(
            (F.col("wk") + week).alias("wk"), F.lit("churned").alias("status")
        )
    )
    return (
        actives.unionAll(churn)
        .groupBy("wk")
        .agg(
            F.sum(F.when(F.col("status") == "new", 1).otherwise(0)).alias(
                "n_new"
            ),
            F.sum(
                F.when(F.col("status") == "retained", 1).otherwise(0)
            ).alias("n_retained"),
            F.sum(
                F.when(F.col("status") == "resurrected", 1).otherwise(0)
            ).alias("n_resurrected"),
            F.sum(
                F.when(F.col("status") == "churned", 1).otherwise(0)
            ).alias("n_churned"),
        )
        .orderBy("wk")
    )


@_register(
    "session_conversion_daily",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_type,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts)) > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    ), per_session AS (
      SELECT user_id, session_id,
             MIN(ts) AS session_start,
             (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 60000000.0
               AS session_minutes,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT CAST(date_trunc('day', session_start) AS TIMESTAMP) AS day,
           COUNT(*) AS n_sessions,
           CAST(SUM(converted) AS BIGINT) AS n_converting,
           ROUND(SUM(converted) * 1.0 / COUNT(*), 6) AS conversion_rate,
           ROUND(AVG(session_minutes), 6) AS avg_session_minutes
    FROM per_session GROUP BY 1 ORDER BY day
    """,
    tags=("analytics", "session"),
    doc="Daily session conversion: the sessionizer (same lag->cumsum "
    "core as sessionize_events, exact-microsecond gaps) composed "
    "with a per-session purchase flag and duration, rolled up by "
    "session-start day. Window + two partial-agg shuffles all keyed "
    "on user/day; session durations stay exact epoch-us integers "
    "until ONE division to minutes. The business rollup the raw "
    "sessionizer exists to feed.",
)
def q_session_conversion_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    new_session = F.when(
        prev.isNull()
        | (
            (F.unix_micros(F.col("ts")) - F.unix_micros(prev))
            > 1_800_000_000
        ),
        1,
    ).otherwise(0)
    sessions = ev.select(
        "user_id", "ts", "event_type", new_session.alias("new_session")
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        (
            (
                F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
            )
            / 60000000.0
        ).alias("session_minutes"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    return (
        per_session.groupBy(
            F.date_trunc("day", "session_start").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("converted").alias("n_converting"),
            _r6(F.sum("converted") * 1.0 / F.count(F.lit(1))).alias(
                "conversion_rate"
            ),
            _r6(F.avg("session_minutes")).alias("avg_session_minutes"),
        )
        .orderBy("day")
    )


@_register(
    "peak_concurrent_sessions_daily",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts)) > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id,
             ts
      FROM flagged
    ), intervals AS (
      SELECT MIN(ts) AS s, MAX(ts) AS e
      FROM sess GROUP BY user_id, session_id
    ), deltas AS (
      SELECT s AS ts, 1 AS delta FROM intervals
      UNION ALL
      SELECT e + INTERVAL 1 MICROSECOND, -1 FROM intervals
    ), running AS (
      SELECT ts, delta,
             SUM(delta) OVER (ORDER BY ts, delta
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS concurrent
      FROM deltas
    )
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent
    FROM running GROUP BY 1 ORDER BY day
    """,
    tags=("analytics", "session", "window"),
    doc="Peak concurrent sessions per day, scan-line over session "
    "intervals (+1 at start, -1 one microsecond after end, integer "
    "running sum, daily max). The oracle states it as one global "
    "ordered cumsum; the Spark plan computes the SAME sequence as a "
    "distributed prefix sum — within-day cumsums in parallel plus a "
    "days-sized exclusive-offset table joined back broadcast — "
    "because a single-partition window over all deltas is the thing "
    "that does NOT survive 100 TB. Ties ordered (ts, delta) so ends "
    "process before starts at the same instant, identically in both "
    "engines; all-integer state, no float drift.",
)
def q_peak_concurrent_sessions_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    new_session = F.when(
        prev.isNull()
        | (
            (F.unix_micros(F.col("ts")) - F.unix_micros(prev))
            > 1_800_000_000
        ),
        1,
    ).otherwise(0)
    sess = ev.select(
        "user_id", "ts", new_session.alias("new_session")
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    intervals = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    deltas = intervals.select(
        F.col("s").alias("ts"), F.lit(1).alias("delta")
    ).unionAll(
        intervals.select(
            (F.col("e") + F.expr("INTERVAL 1 MICROSECOND")).alias("ts"),
            F.lit(-1).alias("delta"),
        )
    ).withColumn("day", F.date_trunc("day", "ts"))
    # distributed prefix sum: parallel within-day cumsum ...
    w_day = (
        Window.partitionBy("day")
        .orderBy("ts", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = deltas.withColumn("run_in_day", F.sum("delta").over(w_day))
    # ... plus an exclusive day-offset cumsum over the DAYS-sized table
    day_tot = deltas.groupBy("day").agg(F.sum("delta").alias("day_net"))
    w_days = (
        Window.partitionBy()
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = day_tot.select(
        "day", F.coalesce(F.sum("day_net").over(w_days), F.lit(0)).alias("off")
    )
    return (
        within.join(F.broadcast(offsets), "day")
        .groupBy("day")
        .agg(
            F.max(F.col("run_in_day") + F.col("off")).alias(
                "peak_concurrent"
            )
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Session path analysis, robust MAD outliers, and the revenue
# waterfall.
#
# Reference parity: the reference's dashboard shows activity counts and
# mean/std outlier bands; these add the product-analytics path table
# (what do sessions actually DO), the robust-statistics outlier gate
# (MAD survives the heavy tails that blow up mean/std fences), and the
# month-over-month price decomposition every finance review starts from.


@_register(
    "session_paths_topk",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id))
                    > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_session) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    ), paths AS (
      SELECT user_id, session_id,
             -- coalesce: an all-NULL-type session is the empty path on
             -- both engines (string_agg of zero non-null rows is NULL,
             -- Spark's array_join of skipped nulls is '')
             coalesce(string_agg(event_type, '>' ORDER BY ts, event_id),
                      '') AS path,
             COUNT(*) AS path_len
      FROM sess
      GROUP BY user_id, session_id
      HAVING COUNT(*) <= 8
    )
    SELECT path, COUNT(*) AS n_sessions,
           ROUND(AVG(path_len), 6) AS avg_len
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 15
    """,
    tags=("analytics", "session"),
    doc="Top session paths: the ordered event-type sequence of each "
    "session (<= 8 events; longer sessions are power-user noise for "
    "this table), counted and ranked. Spark's collect_list has no "
    "ordering guarantee, so the path is built by sorting an array of "
    "(ts, event_id, type) STRUCTS — array_sort on structs is "
    "lexicographic and fully tie-broken, bit-identical to DuckDB's "
    "string_agg(... ORDER BY ts, event_id). Per-session arrays are "
    "bounded (8), top-15 fully tie-broken via TakeOrdered.",
)
def q_session_paths_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_session = F.when(
        prev.isNull()
        | (
            (F.unix_micros(F.col("ts")) - F.unix_micros(prev))
            > 1_800_000_000
        ),
        1,
    ).otherwise(0)
    sess = ev.select(
        "user_id", "ts", "event_id", "event_type",
        new_session.alias("new_session"),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    paths = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s.getField("event_type"),
                ),
                ">",
            ).alias("path"),
            F.count(F.lit(1)).alias("path_len"),
        )
        .filter(F.col("path_len") <= 8)
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            _r6(F.avg("path_len")).alias("avg_len"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(15)
    )


@_register(
    "revenue_waterfall_monthly",
    oracle="""
    SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
           ROUND(SUM(l_extendedprice), 4) AS gross,
           ROUND(SUM(l_extendedprice * l_discount), 4) AS discount_amt,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS net,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * l_tax), 4)
             AS tax_amt,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)
             AS charged
    FROM lineitem
    GROUP BY 1 ORDER BY month
    """,
    tags=("analytics", "agg"),
    doc="Monthly revenue waterfall: gross -> discount -> net -> tax "
    "-> charged, the TPC-H Q1 money math cut by ship month in ONE "
    "partial-agg pass (five conditional sums share the scan; a "
    "BI-tool naive version runs five queries). Months-sized output "
    "at any scale; the scan prunes to four columns.",
)
def q_revenue_waterfall_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    ep, d, t = F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")
    return (
        li.groupBy(F.date_trunc("month", "l_shipdate").alias("month"))
        .agg(
            _r4(F.sum(ep)).alias("gross"),
            _r4(F.sum(ep * d)).alias("discount_amt"),
            _r4(F.sum(ep * (1 - d))).alias("net"),
            _r4(F.sum(ep * (1 - d) * t)).alias("tax_amt"),
            _r4(F.sum(ep * (1 - d) * (1 + t))).alias("charged"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# TPC-H completion set: the join/agg shapes from the classic suite not
# yet covered above — Q3 (shipping priority), Q9 (profit by
# nation x year, supplycost adapted to the schema), Q10 (returned-item
# reporting), Q12 (late-shipment priority split), Q14 (promo revenue
# share), Q16 (supplier-count by part attributes).
#
# These are the canonical 100 TB shapes: multi-way fact-dim joins where
# the dims (nation, supplier, part) broadcast or AQE-resolve, the fact
# tables shuffle once on the group key, and every filter reaches the
# parquet scan. The reference's dashboard never runs these, but its
# warehouse (BigQuery) serves exactly this query class; parity here is
# what makes the engine a drop-in warehouse, not just a dashboard
# backend (reference app/dashboard.py:33-46 hand-writes its SQL against
# the same star schema).


@_register(
    "shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1999-01-01'
      AND l.l_shipdate > TIMESTAMP '1999-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
    tags=("join", "tpch"),
    doc="TPC-H Q3 shape: 3-way fact join with per-side pushed filters, "
    "group on the order key, global top-10 by revenue (TakeOrderedAndProject "
    "— no full sort). Deterministic tie-break on (o_orderdate, l_orderkey).",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c.select("c_custkey"), o.o_custkey == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _r4(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@_register(
    "returned_item_report",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           ROUND(c.c_acctbal, 4) AS c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1999-01-01'
      AND o.o_orderdate < TIMESTAMP '1999-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    tags=("join", "tpch"),
    doc="TPC-H Q10 shape: returned-revenue per customer over a half-year "
    "window — lineitem filters on returnflag at the scan, nation "
    "broadcasts, one shuffle on the customer group key, top-20.",
)
def q_returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            _r4(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            _r4(F.col("c_acctbal")).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@_register(
    "profit_by_nation_year",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           -- exact integer ten-thousandths (cents x (100-disc%) minus
           -- 60 x retail-cents x qty): summation-order-independent;
           -- the sf1 sweep caught the float sum on a .5-render
           -- boundary. Non-finite money masks like NULL.
           ROUND(SUM(CASE WHEN isfinite(l.l_extendedprice)
                           AND isfinite(l.l_discount)
                           AND isfinite(p.p_retailprice)
                           AND isfinite(l.l_quantity)
                     THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                          - 60 * CAST(round(p.p_retailprice * 100) AS BIGINT)
                               * CAST(round(l.l_quantity) AS BIGINT)
                     END) / 10000.0, 4) AS profit
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name, EXTRACT(year FROM o.o_orderdate)
    ORDER BY nation, o_year
    """,
    tags=("join", "tpch"),
    doc="TPC-H Q9 shape (supplycost adapted: 0.6 x p_retailprice stands "
    "in for ps_supplycost — the schema has no partsupp table): 5-way "
    "star join, profit rollup by supplier nation x order year. part/"
    "supplier/nation resolve to broadcasts under AQE at this SF; at "
    "100 TB part becomes a shuffle join on l_partkey while nation "
    "stays broadcast — the plan degrades gracefully per-dim.",
)
def q_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    from stockpulse_spark.functions.nullsafe import not_finite

    finite = (
        ~not_finite("l_extendedprice")
        & ~not_finite("l_discount")
        & ~not_finite("p_retailprice")
        & ~not_finite("l_quantity")
    )
    profit_1e4 = F.when(
        finite,
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
        - 60
        * F.round(F.col("p_retailprice") * 100).cast("bigint")
        * F.round(F.col("l_quantity")).cast("bigint"),
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(_r4(F.sum(profit_1e4) / 10000.0).alias("profit"))
        .orderBy("nation", "o_year")
    )


@_register(
    "late_shipment_priority",
    oracle="""
    SELECT
      CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
           THEN 'late' ELSE 'ontime' END AS ship_status,
      CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
    tags=("join", "tpch"),
    doc="TPC-H Q12 shape (shipmode adapted: the schema has no "
    "l_shipmode, so the split key is ship latency vs a 60-day SLA): "
    "conditional-sum pivot over a fact-fact join; both CASE branches "
    "evaluate in one pass, map-side partial agg makes the shuffle two "
    "rows per partition regardless of input size.",
)
def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.when(
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
                F.lit("late"),
            )
            .otherwise(F.lit("ontime"))
            .alias("ship_status"),
            F.when(high, 1).otherwise(0).alias("__hi"),
            F.when(~high, 1).otherwise(0).alias("__lo"),
        )
        .groupBy("ship_status")
        .agg(
            F.sum("__hi").alias("high_line_count"),
            F.sum("__lo").alias("low_line_count"),
        )
        .orderBy("ship_status")
    )


@_register(
    "promo_revenue_monthly",
    oracle="""
    WITH l2 AS (
      -- exact integer ten-thousandths; non-finite money masks NULL
      SELECT l_partkey, l_shipdate,
             CASE WHEN isfinite(l_extendedprice) AND isfinite(l_discount)
                  THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT))
                  END AS rev4
      FROM lineitem WHERE l_shipdate IS NOT NULL
    )
    SELECT CAST(date_trunc('month', l.l_shipdate) AS DATE) AS month,
           ROUND(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                       THEN l.rev4 ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(l.rev4) AS DOUBLE), 6) AS promo_pct,
           ROUND(SUM(l.rev4) / 10000.0, 4) AS total_revenue
    FROM l2 l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1 ORDER BY 1
    """,
    tags=("join", "tpch"),
    doc="TPC-H Q14 shape, widened from one month to a monthly series: "
    "promo revenue share via conditional aggregation over a "
    "fact-dim join. The part dim carries only (p_partkey, p_type) "
    "through the join — column pruning keeps the build side minimal. "
    "Money sums in exact integer ten-thousandths (summation-order-"
    "independent; the sf1 sweep caught the float total on a "
    ".5-render boundary) and the promo share is one division of two "
    "exact integers; non-finite money masks like NULL.",
)
def q_promo_revenue_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_spark.functions.nullsafe import not_finite

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev4 = F.when(
        ~not_finite("l_extendedprice") & ~not_finite("l_discount"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint")),
    )
    return (
        # a NULL ship date has no month on the axis (and its Spark
        # None vs DuckDB NaT cell would shear the driver's string canon)
        li.filter(F.col("l_shipdate").isNotNull())
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.trunc("l_shipdate", "month").alias("month"))
        .agg(
            _r6(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev4).otherwise(
                        F.lit(0).cast("bigint")
                    )
                ).cast("double")
                / F.sum(rev4).cast("double")
            ).alias("promo_pct"),
            _r4(F.sum(rev4) / 10000.0).alias("total_revenue"),
        )
        .orderBy("month")
    )


@_register(
    "supplier_count_by_part",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 10, 20, 30, 40, 49)
      AND l.l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
    tags=("join", "tpch", "subquery"),
    doc="TPC-H Q16 shape (partsupp adapted to observed lineitem pairs; "
    "negative s_acctbal stands in for the complaints filter): NOT IN "
    "decorrelated to a broadcast left-anti join, then COUNT(DISTINCT) "
    "per part attribute — Spark expands the distinct into a two-level "
    "agg, so the first shuffle dedups (group, suppkey) pairs with "
    "map-side combine before counting.",
)
def q_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 10, 20, 30, 40, 49)
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p.select("p_partkey", "p_brand", "p_type", "p_size"),
              li.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@_register(
    "excess_quantity_suppliers",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey, SUM(l_quantity) AS part_qty FROM lineitem
      GROUP BY l_partkey
    ), per_pair AS (
      SELECT l_suppkey, l_partkey, SUM(l_quantity) AS pair_qty
      FROM lineitem GROUP BY l_suppkey, l_partkey
    ), dominant AS (
      SELECT pp.l_suppkey, pp.l_partkey
      FROM per_pair pp JOIN per_part p ON pp.l_partkey = p.l_partkey
      WHERE pp.pair_qty > 0.15 * p.part_qty
    )
    SELECT s.s_suppkey, s.s_name, n.n_name,
           COUNT(*) AS n_dominated_parts
    FROM dominant d
    JOIN supplier s ON d.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY s.s_suppkey, s.s_name, n.n_name
    ORDER BY n_dominated_parts DESC, s.s_suppkey
    LIMIT 25
    """,
    tags=("join", "tpch", "subquery"),
    doc="TPC-H Q20 shape (partsupp availqty adapted to observed "
    "shipments): suppliers who ship an outsized share (>15%, vs a "
    "~3.7% median pair share in this data) of a part's total "
    "quantity, counted per supplier. Two aggregations share the "
    "l_partkey shuffle (the per-part total joins back onto the "
    "per-pair rollup), then supplier/nation broadcast onto the "
    "supplier-sized result.",
)
def q_excess_quantity_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("part_qty")
    )
    per_pair = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").alias("pair_qty")
    )
    dominant = per_pair.join(per_part, "l_partkey").filter(
        F.col("pair_qty") > 0.15 * F.col("part_qty")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        dominant.join(
            F.broadcast(s.select("s_suppkey", "s_name", "s_nationkey")),
            dominant.l_suppkey == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("s_suppkey", "s_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_dominated_parts"))
        .orderBy(F.desc("n_dominated_parts"), "s_suppkey")
        .limit(25)
    )


@_register(
    "forecast_revenue_change",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue_delta,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1999-01-01'
      AND l_shipdate < TIMESTAMP '2000-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("tpch", "agg"),
    doc="TPC-H Q6 shape: pure scan-side conjunctive filter + single "
    "aggregate — every predicate (date range, discount band, quantity "
    "cap) reaches the parquet scan as a pushed filter, the agg is one "
    "map-side-combined row. The canonical 'is pushdown working' probe.",
)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _r4(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias(
                "revenue_delta"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@_register(
    "customer_order_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    SELECT n_orders, COUNT(*) AS n_customers
    FROM per_cust GROUP BY n_orders
    ORDER BY n_customers DESC, n_orders DESC
    """,
    tags=("tpch", "join", "agg"),
    doc="TPC-H Q13 shape: the order-count histogram over ALL customers "
    "including zero-order ones — the LEFT OUTER join is the point "
    "(an inner join would silently drop the empty bucket). Two "
    "aggregations; the second runs on the order-count-sized "
    "distribution.",
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


@_register(
    "waiting_suppliers",
    oracle="""
    WITH flagged AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CAST(l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY AS BOOLEAN)
               AS is_late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT s.s_name,
           COUNT(*) AS numwait
    FROM flagged l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.is_late
      AND EXISTS (
        SELECT 1 FROM flagged l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM flagged l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.is_late
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
    tags=("join", "tpch", "subquery"),
    doc="TPC-H Q21 shape (suppliers who kept orders waiting), adapted "
    "to the schema: 'late' = shipped more than 90 days after the "
    "order date (the testdata carries no commit/receipt dates; the "
    "decorrelation structure is the point). EXISTS -> LEFT SEMI join "
    "on (orderkey, other-supplier), NOT EXISTS -> LEFT ANTI join on "
    "the late subset — the classic double-decorrelation over one "
    "shared lateness-flagged scan, shuffled once on l_orderkey; the "
    "supplier dim broadcasts. Top-20 via TakeOrderedAndProject with "
    "a deterministic s_name tie-break.",
)
def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    # pin the flagged join once per invocation (the r11 multi-branch
    # pin policy): it feeds the semi side, the anti side, and the
    # survivor spine — unpinned, the lineitem⋈orders join executed 3x
    flagged = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.make_interval(days=F.lit(90))
            ).alias("is_late"),
        )
        .localCheckpoint(eager=False)
    )
    l1 = flagged.filter(F.col("is_late")).alias("l1")
    l2 = flagged.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = flagged.filter(F.col("is_late")).select(
        "l_orderkey", "l_suppkey"
    ).alias("l3")
    with_other = l1.join(
        l2,
        on=[
            F.col("l1.l_orderkey") == F.col("l2.l_orderkey"),
            F.col("l1.l_suppkey") != F.col("l2.l_suppkey"),
        ],
        how="left_semi",
    )
    exclusive = with_other.join(
        l3,
        on=[
            F.col("l1.l_orderkey") == F.col("l3.l_orderkey"),
            F.col("l1.l_suppkey") != F.col("l3.l_suppkey"),
        ],
        how="left_anti",
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        exclusive.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Customer-base analytics: monthly cohort LTV curves and RFM
# segmentation — the two rollups every revenue warehouse schedules,
# expressed so the heavy tables shuffle once and every derived stage
# runs on customer- or cohort-sized data.
#
# (The reference's warehouse serves this query class; its dashboard
# only ever plots per-symbol series — reference app/dashboard.py — so
# these extend the engine along the axis BASELINE.md identifies as the
# reference's blind spot.)


@_register(
    "cohort_ltv_monthly",
    oracle="""
    WITH om AS (
      -- date-less orders have no month on the LTV axis; a NULL m
      -- would yield NULL cohort/month_index keys whose window
      -- ORDER BY position differs between engines (NULLS FIRST vs
      -- NULLS LAST), shearing every cumsum after it
      SELECT o_custkey,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             o_totalprice
      FROM orders WHERE o_orderdate IS NOT NULL
    ), cohorts AS (
      SELECT o_custkey, MIN(m) AS cohort_month FROM om GROUP BY o_custkey
    ), sizes AS (
      SELECT cohort_month, COUNT(*) AS n_customers
      FROM cohorts GROUP BY cohort_month
    ), rev AS (
      SELECT c.cohort_month,
             datediff('month', c.cohort_month, o.m) AS month_index,
             CAST(ROUND(SUM((CASE WHEN NOT isfinite(o.o_totalprice) THEN NULL ELSE o.o_totalprice END) * 100)) AS BIGINT) AS rev_cents
      FROM om o JOIN cohorts c ON o.o_custkey = c.o_custkey
      GROUP BY c.cohort_month, datediff('month', c.cohort_month, o.m)
    )
    SELECT r.cohort_month, r.month_index, s.n_customers,
           ROUND(SUM(r.rev_cents) OVER (
                   PARTITION BY r.cohort_month ORDER BY r.month_index
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / (100.0 * s.n_customers), 4) AS cum_ltv_per_customer
    FROM rev r JOIN sizes s ON r.cohort_month = s.cohort_month
    ORDER BY r.cohort_month, r.month_index
    """,
    tags=("agg", "growth", "window"),
    doc="cohort LTV curves: customers grouped by first-order month, "
    "cumulative revenue per customer by months-since-acquisition. "
    "Orders shuffle once on custkey (cohort assignment re-uses that "
    "partitioning); everything after the second agg is "
    "cohorts x months sized — window cumsum on metadata, not facts. "
    "Revenue snaps to integer CENTS before the cumsum (prices are "
    "2-decimal), so the running total is exact integer arithmetic on "
    "both engines — float fold-order cannot reach the 4dp output "
    "(the weighted_median_price integer-cumsum discipline).",
)
def q_cohort_ltv_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    om = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .select(
            "o_custkey",
            F.trunc("o_orderdate", "month").alias("m"),
            "o_totalprice",
        )
    )
    cohorts = om.groupBy("o_custkey").agg(
        F.min("m").alias("cohort_month")
    )
    sizes = cohorts.groupBy("cohort_month").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    rev = (
        om.join(cohorts, "o_custkey")
        .groupBy(
            "cohort_month",
            F.months_between("m", F.col("cohort_month"))
            .cast("bigint")
            .alias("month_index"),
        )
        .agg(
            F.round(F.sum(nan_nn("o_totalprice") * 100))
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("month_index")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.join(F.broadcast(sizes), "cohort_month")
        .select(
            "cohort_month",
            "month_index",
            "n_customers",
            _r4(
                F.sum("rev_cents").over(w)
                / (100.0 * F.col("n_customers"))
            ).alias("cum_ltv_per_customer"),
        )
        .orderBy("cohort_month", "month_index")
    )


@_register(
    "rfm_segmentation",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             datediff('day', MAX(o_orderdate),
                      (SELECT MAX(o_orderdate) FROM orders)) AS recency_days,
             COUNT(*) AS frequency,
             SUM(CAST(round((CASE WHEN NOT isfinite(o_totalprice) THEN NULL ELSE o_totalprice END) * 100) AS BIGINT)) AS monetary
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT o_custkey, monetary,
             -- NULLS LAST pinned: a never-dated customer has NULL
             -- recency, and Spark ASC (NULLS FIRST) vs DuckDB ASC
             -- (NULLS LAST) would shear every r_score bucket;
             -- DESC NULLS LAST is the shared default but stated
             ntile(5) OVER (ORDER BY recency_days ASC NULLS LAST,
                            o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency DESC, o_custkey)  AS f_score,
             ntile(5) OVER (ORDER BY monetary DESC NULLS LAST,
                            o_custkey)   AS m_score
      FROM per_cust
    )
    SELECT r_score, f_score, m_score,
           COUNT(*) AS n_customers,
           ROUND(SUM(monetary) / 100.0 / COUNT(*), 4) AS avg_monetary
    FROM scored GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
    tags=("agg", "growth", "window"),
    doc="RFM segmentation: recency/frequency/monetary quintiles per "
    "customer (ntile with full custkey tie-break so the buckets are "
    "deterministic on both engines), rolled up to segment counts and "
    "average spend. One fact shuffle to customer grain; each quintile "
    "is a distributed global rank (operators/rank.py::with_global_rank"
    " — range repartition + per-partition row_number + broadcast "
    "prefix-sum) plus closed-form ntile arithmetic, so NO unbounded "
    "frame ever crosses a single WindowExec task: at 10^9 customers "
    "the three rank passes are three range shuffles of the "
    "customer-grain table, not three single-task sorts.",
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("anchor"))
    per_cust = (
        o.join(F.broadcast(anchor))
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.any_value("anchor"), F.max("o_orderdate")
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            # integer cents: SUM over doubles is summation-order-
            # dependent in the last ulp, which flips 4dp rounding
            # boundaries at sf0.1 AND can reorder m_score ties —
            # exact integer cents make both deterministic
            F.sum(
                F.round(nan_nn("o_totalprice") * 100).cast("bigint")
            ).alias("monetary"),
        )
    )
    # Descending orderings re-expressed as ascending on the negated
    # key (with_global_rank pins ASC NULLS LAST, matching the
    # oracle's DESC NULLS LAST after negation — nulls stay null).
    keyed = per_cust.withColumns(
        {
            "__negf": -F.col("frequency"),
            "__negm": -F.col("monetary"),
        }
    ).localCheckpoint(eager=False)  # totals + 3 rank passes share it
    ranked = with_global_rank(
        keyed, "recency_days", "o_custkey", rank_col="__rr"
    )
    ranked = with_global_rank(ranked, "__negf", "o_custkey", rank_col="__fr")
    ranked = with_global_rank(ranked, "__negm", "o_custkey", rank_col="__mr")
    total = keyed.agg(F.count(F.lit(1)).alias("__n"))
    n = F.col("__n")
    scored = ranked.join(F.broadcast(total)).select(
        "o_custkey",
        "monetary",
        ntile_from_rank(F.col("__rr"), n, 5).alias("r_score"),
        ntile_from_rank(F.col("__fr"), n, 5).alias("f_score"),
        ntile_from_rank(F.col("__mr"), n, 5).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _r4(
                F.sum("monetary") / 100.0 / F.count(F.lit(1))
            ).alias("avg_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@_register(
    "activity_bitmap_rollup",
    oracle="""
    WITH RECURSIVE bm AS (
      SELECT user_id, date_trunc('month', ts) AS month,
             bit_or(CAST(1 AS BIGINT) << (day(ts) - 1)) AS mask
      FROM events GROUP BY 1, 2
    ), st AS (
      SELECT user_id, month, mask, 0 AS i,
             mask AS v, 0 AS streak
      FROM bm
      UNION ALL
      SELECT user_id, month, mask, i + 1,
             v & (v << 1),
             streak + CASE WHEN v <> 0 THEN 1 ELSE 0 END
      FROM st WHERE i < 31
    )
    SELECT user_id, month, mask,
           bit_count(mask) AS active_days,
           streak AS longest_streak
    FROM st WHERE i = 31
    ORDER BY user_id, month
    """,
    tags=("analytics", "bitmap", "agg"),
    doc="Monthly activity bitmap per user: one BIGINT with bit d set "
    "iff the user was active on day d+1 — the compressed presence "
    "encoding that makes retention/streak queries metadata-sized at "
    "100 TB (a billion users x month is 8 GB of masks vs rescanning "
    "raw events; masks OR-merge associatively, so partial aggs and "
    "month->quarter rollups are free). active_days = popcount; "
    "longest consecutive-day streak via the classic 31-step "
    "v &= (v << 1) reduction — counted identically by a JVM "
    "sequence-fold and the oracle's lockstep recursive CTE, integer-"
    "exact in both. One shuffle on (user, month) with map-side "
    "partial bit_or.",
)
def q_activity_bitmap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bm = ev.groupBy(
        "user_id",
        F.date_trunc("month", "ts").cast("date").alias("month"),
    ).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), day(ts) - 1)")
        ).alias("mask")
    )
    streak = (
        "aggregate(sequence(1, 31), "
        " named_struct('v', mask, 'streak', 0), "
        " (acc, i) -> named_struct("
        "   'v', acc.v & shiftleft(acc.v, 1), "
        "   'streak', acc.streak + IF(acc.v <> 0, 1, 0)), "
        " acc -> acc.streak)"
    )
    return bm.select(
        "user_id",
        "month",
        "mask",
        F.bit_count("mask").alias("active_days"),
        F.expr(streak).alias("longest_streak"),
    ).orderBy("user_id", "month")


# ---------------------------------------------------------------------------
# Salted skew JOIN — the classic rescue when a shuffle join's key is
# skewed AND the dimension is too big to broadcast: replicate each dim
# row across `_SALTS` salt values, give every fact row a deterministic
# salt, and join on (key, salt) so one hot key's rows spread over
# `_SALTS` reducers instead of one.
#
# salted_event_type_stats already oracle-gates the salted AGGREGATION;
# this gates the salted JOIN: the oracle is the PLAIN join (DuckDB
# neither needs nor knows about the salt), so the hash match proves the
# rewrite is result-identical — the property that makes the technique
# safe to deploy. The Spark side pins a ShuffledHashJoin (broadcast
# disabled via hint) with the salt in the join key, because on the
# small test corpus Catalyst would otherwise broadcast the dim and
# silently stop exercising the technique.


_SALTS = 8


@_register(
    "salted_skew_join_stats",
    oracle="""
    WITH dim AS (
      SELECT user_id, COUNT(*) AS user_cnt
      FROM events GROUP BY user_id
    ), fact AS (
      SELECT event_id, user_id, event_type,
             CASE WHEN value IS NULL OR NOT isfinite(value) THEN NULL
                  ELSE CAST(round(value * 100) AS BIGINT) END AS cents
      FROM events
    )
    SELECT f.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS n_users,
           CAST(COALESCE(SUM(f.cents * d.user_cnt), 0) AS BIGINT)
             AS weighted_cents
    FROM fact f JOIN dim d USING (user_id)
    GROUP BY f.event_type
    ORDER BY f.event_type NULLS LAST
    """,
    tags=("warehouse", "join", "skew"),
    doc="Salted shuffle join, result-certified against the plain "
    f"join: the per-user dim is replicated x{_SALTS}, every fact row "
    "draws a deterministic md5 salt, and the join runs on "
    "(user_id, salt) as a ShuffledHashJoin (broadcast disabled via "
    "hint so the technique is actually exercised at test scale). "
    "The DuckDB oracle is the UNSALTED join — the hash match is the "
    "proof the rewrite changes the shuffle layout and nothing else. "
    "Deploy when AQE's skew handling can't help (e.g. the skew is in "
    "a key joined below an exchange AQE won't split); the dim "
    "replication cost is |dim| x salts rows, traded for hot-key "
    "parallelism of the fact side.",
)
def q_salted_skew_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    dim = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_cnt"))
        .select(
            "user_id",
            "user_cnt",
            F.explode(
                F.sequence(F.lit(0), F.lit(_SALTS - 1))
            ).alias("__salt"),
        )
    )
    fact = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.when(
            nan_nn("value").isNotNull(),
            F.round(nan_nn("value") * 100).cast("bigint"),
        ).alias("cents"),
        (
            F.expr(word32_sql("CAST(event_id AS STRING)")) % _SALTS
        ).cast("int").alias("__salt"),
    )
    joined = fact.join(
        dim.hint("shuffle_hash"), ["user_id", "__salt"]
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.coalesce(
                F.sum(F.col("cents") * F.col("user_cnt")), F.lit(0)
            ).alias("weighted_cents"),
        )
        .select(
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_users").cast("long").alias("n_users"),
            F.col("weighted_cents").cast("long").alias("weighted_cents"),
        )
        .orderBy(F.col("event_type").asc_nulls_last())
    )

"""Statistics and ML-feature queries: percentiles and sketches,
histograms, outlier gates, inference (bootstrap, chi-square,
conformal), survival and inequality curves, feature encodings,
drift, and score evaluation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stockpulse_spark.functions.nullsafe import nan_nn, not_finite
from stockpulse_spark.llmdata.hashing import hex_to_int_sql
from stockpulse_spark.operators.rank import (
    ntile_from_rank,
    with_global_rank,
    with_grouped_global_rank,
)
from stockpulse_spark.plans.registry import _r2, _r4, _r6, _register, _t


# ---------------------------------------------------------------------------
# Final fill-outs: exact percentiles, IVF-flat ANN (completing the
# task's 'IVF or LSH' with both), and the multimodal feature-extraction
# kernel.


@_register(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.25), 6) AS p25,
           ROUND(quantile_cont(value, 0.50), 6) AS p50,
           ROUND(quantile_cont(value, 0.75), 6) AS p75,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events
    -- COALESCE keeps NULL-value rows (their group must survive);
    -- NaN rows are excluded: engines disagree on NaN percentiles
    WHERE COALESCE(isfinite(value), TRUE)
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("agg", "percentile"),
    doc="exact continuous percentiles (linear interpolation — Spark "
    "percentile() == DuckDB quantile_cont). At 100 TB swap in "
    "percentile_approx (t-digest, mergeable, single pass) — not "
    "oracle-checkable since sketch implementations differ.",
)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        ~not_finite("value")
    )
    return (
        ev.groupBy("event_type")
        .agg(
            *[
                _r6(F.expr(f"percentile(value, {q})")).alias(f"p{int(q * 100)}")
                for q in (0.25, 0.50, 0.75, 0.99)
            ]
        )
        .orderBy("event_type")
    )


@_register(
    "value_percentiles_approx",
    # The sketch's raw output is implementation-defined (Greenwald-
    # Khanna), so the VALUES can't be hash-compared — but the GK rank
    # GUARANTEE can: every returned quantile's feasible rank interval
    # [cnt_lt+1, cnt_le] must intersect target ± (n/accuracy + 2).
    # That boolean is engine-checkable against a literal-TRUE oracle,
    # upgrading this from a rows-only row to a driver-hashed one.
    # n_rows = COUNT(value): the GK rank interval is over NON-NULL
    # ranks (the sketch skips NULLs), so COUNT(*) over a null-bearing
    # column would bias the target rank; all-NULL groups drop on both
    # engines (HAVING here, NULL-array posexplode on the Spark side).
    oracle="""
    SELECT e.event_type, q.q, e.n_rows, TRUE AS within_gk_bound
    FROM (SELECT event_type, COUNT(value) AS n_rows
          FROM events GROUP BY event_type
          HAVING COUNT(value) > 0) e
    CROSS JOIN (SELECT CAST(unnest([0.25, 0.50, 0.75, 0.99]) AS DOUBLE)
                AS q) q
    ORDER BY e.event_type, q.q
    """,
    tags=("agg", "percentile", "approx"),
    doc="the 100 TB percentile path: approx_percentile (Greenwald-"
    "Khanna sketch, accuracy=10000 → rank error ≤ n/10000). Single "
    "pass, map-side partial sketches merged per group — no sort, no "
    "full materialization of the value set, mergeable across "
    "partitions; the exact `value_percentiles` twin needs the whole "
    "group's values in one place. The output certifies the sketch "
    "contract: each quantile's rank interval vs its target, checked "
    "by one broadcast join back over events.",
)
def q_value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    qs = (0.25, 0.50, 0.75, 0.99)
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.expr(
            "approx_percentile(value, array("
            + ", ".join(f"{q}D" for q in qs)
            + "), 10000)"
        ).alias("ps"),
        # non-null count: the sketch's rank space excludes NULLs, and
        # an all-NULL group's NULL ps array is dropped by posexplode —
        # matching the oracle's HAVING COUNT(value) > 0
        F.count("value").alias("n_rows"),
    )
    pq = agg.select(
        "event_type",
        "n_rows",
        F.posexplode("ps").alias("qi", "p"),
    ).withColumn(
        "q",
        F.element_at(
            F.array(*[F.lit(float(q)) for q in qs]), F.col("qi") + 1
        ),
    )
    # null-safe equality: a NULL event_type group must survive the
    # certification join-back (plain equi-join drops NULL keys, and the
    # oracle keeps the group)
    ranked = (
        ev.withColumnRenamed("event_type", "__et")
        .join(
            F.broadcast(pq),
            F.col("__et").eqNullSafe(F.col("event_type")),
        )
        .groupBy("event_type", "q", "n_rows", "p")
        .agg(
            F.sum((F.col("value") < F.col("p")).cast("long")).alias("cnt_lt"),
            F.sum((F.col("value") <= F.col("p")).cast("long")).alias("cnt_le"),
        )
    )
    target = 1 + F.col("q") * (F.col("n_rows") - 1)
    bound = F.col("n_rows") / 10000.0 + 2.0
    ok = (F.col("cnt_lt") + 1 <= target + bound) & (
        F.col("cnt_le") >= target - bound
    )
    return ranked.select(
        "event_type", "q", "n_rows", ok.alias("within_gk_bound")
    ).orderBy("event_type", "q")


@_register(
    "distinct_users_approx",
    # HLL++ register values are implementation-defined, so the estimate
    # itself can't hash-match — but its RELATIVE-ERROR contract can:
    # |approx − exact| ≤ 5·rsd·exact is engine-checkable against a
    # literal-TRUE oracle (exact twin computed in the same plan),
    # upgrading this from a rows-only row to a driver-hashed one.
    oracle="""
    SELECT event_type, COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS approx_within_5rsd
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("agg", "approx"),
    doc="the 100 TB distinct-count path: approx_count_distinct "
    "(HyperLogLog++, rsd=2%). Constant-size mergeable sketch per "
    "group vs exact COUNT(DISTINCT)'s shuffle of every distinct key — "
    "at scale the exact form is a full repartition of the key "
    "universe, the sketch is a few KB per group. The exact count here "
    "exists only to certify the 5×rsd error bound the driver hashes; "
    "the production path is the sketch alone (exact twin: "
    "`distinct_users_by_type`).",
)
def q_distinct_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("__approx"),
        F.count_distinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    ok = (
        F.abs(F.col("__approx") - F.col("exact_users"))
        <= 5 * 0.02 * F.col("exact_users")
    )
    return agg.select(
        "event_type",
        "n_rows",
        "exact_users",
        ok.alias("approx_within_5rsd"),
    ).orderBy("event_type")


@_register(
    "distinct_users_sketch_rollup",
    # DataSketches HLL register values are implementation-defined, so
    # the estimate itself can't hash-match — but its error contract
    # can: |merged-sketch estimate − exact month distinct| ≤ 8%
    # (lgConfigK=12 → rsd≈1.6%, certified at 5×) is engine-checkable
    # against a literal-TRUE oracle, same pattern as
    # distinct_users_approx.
    oracle="""
    SELECT CAST(date_trunc('month', date_trunc('week', ts)) AS TIMESTAMP)
             AS mo,
           COUNT(DISTINCT CAST(date_trunc('week', ts) AS TIMESTAMP))
             AS n_weeks,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS merged_within_8pct
    FROM events GROUP BY 1 ORDER BY 1
    """,
    tags=("agg", "approx", "rollup"),
    doc="sketch RE-AGGREGATION — the property approx_count_distinct "
    "alone never shows: per-week HLL sketches (hll_sketch_agg) are "
    "merged upward into per-month distinct estimates (hll_union_agg "
    "-> hll_sketch_estimate) without touching the raw rows again. "
    "This is the warehouse rollup contract at 100 TB: the weekly "
    "layer is a few KB per group, and any coarser period (month, "
    "quarter, all-time) derives from sketch unions in metadata-sized "
    "aggregations instead of a re-scan of the key universe. Weeks "
    "attribute to the month containing their start (deterministic).",
)
def q_distinct_users_sketch_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    weekly = ev.groupBy(F.date_trunc("week", "ts").alias("wk")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = weekly.groupBy(F.date_trunc("month", "wk").alias("mo")).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__approx"),
        F.count(F.lit(1)).alias("n_weeks"),
    )
    # the exact twin exists only to certify the merge's error bound —
    # the production rollup path is the sketch union alone
    exact = ev.groupBy(
        F.date_trunc("month", F.date_trunc("week", "ts")).alias("mo")
    ).agg(F.count_distinct("user_id").alias("exact_users"))
    ok = (
        F.abs(F.col("__approx") - F.col("exact_users"))
        <= 0.08 * F.col("exact_users")
    )
    return (
        merged.join(exact, "mo")
        .select(
            "mo",
            "n_weeks",
            "exact_users",
            ok.alias("merged_within_8pct"),
        )
        .orderBy("mo")
    )


@_register(
    "value_histogram",
    oracle="""
    SELECT CAST(least(floor(value / 25.0), 19) AS INTEGER) AS bucket,
           -- CAST: int * 25.0 is DECIMAL in DuckDB, double in Spark
           CAST(least(floor(value / 25.0), 19) AS INTEGER) * CAST(25.0 AS DOUBLE) AS bucket_lo,
           COUNT(*) AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM events
    WHERE value IS NOT NULL AND isfinite(value)
    GROUP BY 1, 2 ORDER BY bucket
    """,
    tags=("agg", "histogram"),
    doc="Fixed-bin histogram of event values (20 bins of width 25, "
    "top bin open): floor arithmetic instead of width_bucket so both "
    "engines compute the identical bin — the dashboard-distribution "
    "shape (reference app/dashboard.py distribution panels), one "
    "partial-agg shuffle of at most 20 groups.",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~not_finite("value")
    )
    bucket = F.least(F.floor(F.col("value") / 25.0), F.lit(19)).cast("int")
    return (
        ev.select(bucket.alias("bucket"), "value")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r4(F.sum("value")).alias("total_value"),
        )
        .select(
            "bucket",
            (F.col("bucket") * 25.0).alias("bucket_lo"),
            "n",
            "total_value",
        )
        .orderBy("bucket")
    )


@_register(
    "hourly_p95_by_type",
    oracle="""
    SELECT event_type, CAST(hour(ts) AS INTEGER) AS hour_of_day,
           COUNT(*) AS n,
           ROUND(quantile_cont(CASE WHEN NOT isfinite(value) THEN NULL
                               ELSE value END, 0.95), 6) AS p95,
           ROUND(quantile_cont(CASE WHEN NOT isfinite(value) THEN NULL
                               ELSE value END, 0.99), 6) AS p99
    FROM events
    GROUP BY event_type, hour(ts)
    ORDER BY event_type, hour_of_day
    """,
    tags=("agg", "percentile"),
    doc="Tail percentiles per (event type, hour of day) — the ops "
    "monitoring cut (p95/p99 latency boards). Exact continuous "
    "percentiles (Spark percentile == DuckDB quantile_cont, the "
    "pinned pairing from value_percentiles); one shuffle of at most "
    "|types| x 24 groups. The 100 TB variant swaps in "
    "percentile_approx exactly as value_percentiles_approx does.",
)
def q_hourly_p95_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", F.hour("ts").cast("int").alias("hour_of_day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r6(
                F.percentile(nan_nn("value"), F.lit(0.95))
            ).alias("p95"),
            _r6(
                F.percentile(nan_nn("value"), F.lit(0.99))
            ).alias("p99"),
        )
        .orderBy("event_type", "hour_of_day")
    )


# ---------------------------------------------------------------------------
# Third analytics wave: concentration (Pareto) analysis, rolling
# anomaly detection, and Benford first-digit forensics.
#
# Reference parity: these are the "is something off in this data?"
# queries an analyst runs on the reference's warehouse after the
# dashboard — customer concentration for revenue risk, outlier bars for
# data-quality triage (the reference eyeballs spikes on its price chart,
# app/dashboard.py), digit-distribution forensics for synthetic/fat-
# fingered data detection.


_PCTS = (1, 5, 20)


@_register(
    "revenue_concentration",
    oracle=f"""
    WITH rev AS (
      SELECT o_custkey, SUM(o_totalprice) AS revenue FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT revenue,
             ROW_NUMBER() OVER (ORDER BY revenue DESC, o_custkey) AS rnk,
             COUNT(*) OVER () AS n_total,
             SUM(revenue) OVER () AS total_rev
      FROM rev
    )
    SELECT p.pct,
           CAST(ceil(n_total * p.pct / 100.0) AS BIGINT) AS n_customers,
           ROUND(SUM(revenue) FILTER (WHERE rnk <= ceil(n_total * p.pct / 100.0))
                 / total_rev, 6) AS revenue_share
    FROM ranked CROSS JOIN (VALUES {", ".join(f"({p})" for p in _PCTS)}) AS p(pct)
    GROUP BY p.pct, n_total, total_rev
    ORDER BY p.pct
    """,
    tags=("window", "agg", "analytics"),
    doc="Pareto concentration: revenue share of the top 1/5/20% of "
    "customers. Shares are CONDITIONAL sums over the ranked frame "
    "(one row per threshold), deliberately NOT a running cumulative "
    "sum — plain SUM is order-free in both engines so the usual "
    "cumulative-float-association trap never arises. One customer "
    "agg shuffle (pinned with localCheckpoint so the totals pass and "
    "the rank pass share it); the global rank is distributed "
    "(operators/rank.py::with_global_rank — range repartition + "
    "prefix-sum, never a single-task sort of the customer frame) and "
    "the two scalars broadcast back — nothing customer-sized ever "
    "crosses one task.",
)
def q_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    rev = (
        o.groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("revenue"))
        .localCheckpoint(eager=False)
    )
    totals = rev.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("revenue").alias("total_rev"),
    )
    # "-revenue" = DESC NULLS LAST, identical (incl. NaN placement) to
    # the oracle's ORDER BY revenue DESC under DuckDB's nulls-last
    # default
    ranked = with_global_rank(
        rev, "-revenue", "o_custkey", rank_col="rnk"
    ).crossJoin(F.broadcast(totals))
    pcts = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in _PCTS])).alias("pct")
    )
    cut = F.ceil(F.col("n_total") * F.col("pct") / 100.0)
    return (
        ranked.crossJoin(F.broadcast(pcts))
        .groupBy("pct", "n_total", "total_rev")
        .agg(
            _r6(
                F.sum(F.when(F.col("rnk") <= cut, F.col("revenue")).otherwise(0.0))
                / F.first("total_rev")
            ).alias("revenue_share")
        )
        .select(
            "pct",
            F.ceil(F.col("n_total") * F.col("pct") / 100.0)
            .cast("long")
            .alias("n_customers"),
            "revenue_share",
        )
        .orderBy("pct")
    )


# first significant digit WITHOUT log10: floor(log10) flips on a 1-ulp
# libm difference right at powers of ten, while range CASEs multiply/
# divide by exact powers of ten — identical IEEE ops in both engines.
# events.value spans [0.01, ~500].
_DIGIT = """
CAST(CASE WHEN {v} >= 100 THEN floor({v} / 100.0)
          WHEN {v} >= 10  THEN floor({v} / 10.0)
          WHEN {v} >= 1   THEN floor({v})
          WHEN {v} >= 0.1 THEN floor({v} * 10.0)
          WHEN {v} > 0    THEN floor({v} * 100.0)
     END AS INTEGER)
"""


@_register(
    "benford_first_digit",
    oracle=f"""
    WITH d AS (
      SELECT {_DIGIT.format(v="value")} AS digit FROM events WHERE value > 0 AND isfinite(value)
    )
    SELECT digit,
           COUNT(*) AS n,
           ROUND(COUNT(*) * 1.0 / (SUM(COUNT(*)) OVER ()), 6) AS freq,
           ROUND(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford_expected
    FROM d GROUP BY digit ORDER BY digit
    """,
    tags=("agg", "analytics", "quality"),
    doc="Benford first-significant-digit distribution vs the Benford "
    "expectation log10(1 + 1/d) — the forensic screen for synthetic "
    "or manipulated numeric columns. Digit extraction uses range "
    "CASEs with exact power-of-ten arithmetic instead of "
    "floor(log10()) (a 1-ulp libm divergence at a power of ten would "
    "flip the digit; multiplication by exact constants cannot). One "
    "9-group partial-agg shuffle.",
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        (F.col("value") > 0) & ~not_finite("value")
    )
    d = ev.select(F.expr(_DIGIT.format(v="value")).alias("digit"))
    counts = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.select(
            "digit",
            "n",
            _r6(
                F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy())
            ).alias("freq"),
            _r6(F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))).alias(
                "benford_expected"
            ),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Seasonality, binning, repetition, and transition-matrix shapes.
#
# Reference parity: the reference's dashboard reads hourly/weekday
# activity heatmaps off pandas pivots (hourly_volume_pivot is the direct
# twin); these four go further — seasonality STRENGTH as a variance
# decomposition, equal-frequency feature binning, Gopher-style
# within-document repetition filtering, and the user-journey Markov
# matrix. All single-pass window/agg plans.


@_register(
    "value_ntile_features",
    oracle="""
    WITH t AS (
      SELECT event_type, value,
             ntile(10) OVER (PARTITION BY event_type
                             ORDER BY value, event_id) AS decile
      FROM events
    )
    SELECT event_type, decile, COUNT(*) AS n,
           ROUND(MIN(value), 6) AS lo,
           ROUND(MAX(value), 6) AS hi,
           ROUND(AVG(value), 6) AS avg_value
    FROM t GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("analytics", "window"),
    doc="Equal-frequency binning (decile features): exact ntile(10) "
    "per event type over a fully-specified order (value, event_id — "
    "ties broken by key so both engines assign identical buckets), "
    "then per-bin stats. A plain ntile() OVER (PARTITION BY "
    "event_type) caps parallelism at |event types| (5 tasks each "
    "sorting a fifth of the table at ANY scale); instead the decile "
    "comes from operators/rank.py::with_grouped_global_rank — one "
    "range repartition on (type, value, id) with a per-group "
    "prefix-sum, every partition a task — plus the closed-form "
    "ntile_from_rank arithmetic against broadcast per-type totals. "
    "The approx twin (value_percentiles_approx) remains the "
    "single-pass sketch path when exactness is negotiable.",
)
def q_value_ntile_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ranked = with_grouped_global_rank(
        ev, ["event_type"], "value", "event_id", rank_col="__rnk"
    )
    totals = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("__n"))
    t = ranked.join(
        F.broadcast(totals).withColumnRenamed("event_type", "__t_type"),
        F.col("event_type").eqNullSafe(F.col("__t_type")),
    ).select(
        "event_type",
        "value",
        ntile_from_rank(F.col("__rnk"), F.col("__n"), 10).alias("decile"),
    )
    return (
        t.groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r6(F.min("value")).alias("lo"),
            _r6(F.max("value")).alias("hi"),
            _r6(F.avg("value")).alias("avg_value"),
        )
        .orderBy("event_type", "decile")
    )


@_register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), counts AS (
      SELECT cur, nxt, COUNT(*) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    )
    SELECT cur, nxt, n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY cur), 6) AS p
    FROM counts ORDER BY cur, nxt
    """,
    tags=("analytics", "window"),
    doc="User-journey Markov transition matrix: P(next event type | "
    "current) from per-user event sequences (lead over the fully-"
    "tie-broken (ts, event_id) order). One shuffle to sequence per "
    "user, one partial-agg shuffle to the TYPE x TYPE count matrix "
    "(25 cells at any scale), then the row-normalising window runs "
    "on metadata. The funnel/sessionization family's third member — "
    "where event_funnel asks 'did the path happen', this asks 'what "
    "paths exist'.",
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    counts = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    wn = Window.partitionBy("cur")
    return counts.select(
        "cur",
        "nxt",
        "n",
        _r6(F.col("n") * 1.0 / F.sum("n").over(wn)).alias("p"),
    ).orderBy("cur", "nxt")


@_register(
    "weighted_median_price",
    oracle="""
    WITH w AS (
      -- NULL price/weight rows carry no information for an order
      -- statistic AND would enter the cumsum ORDER BY where Spark
      -- (NULLS FIRST) and DuckDB (NULLS LAST) disagree — excluded
      SELECT l_returnflag,
             l_extendedprice AS price,
             CAST(l_quantity AS BIGINT) AS wt
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        AND isfinite(l_extendedprice)
    ), c AS (
      SELECT l_returnflag, price, wt,
             SUM(wt) OVER (PARTITION BY l_returnflag ORDER BY price
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(wt) OVER (PARTITION BY l_returnflag) AS tw
      FROM w
    )
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(MAX(tw) AS BIGINT) AS total_weight,
           ROUND(MIN(CASE WHEN 2 * cw >= tw THEN price END), 6)
             AS weighted_median,
           ROUND(quantile_cont(price, 0.5), 6) AS plain_median
    FROM c GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("analytics", "window", "percentile"),
    doc="Quantity-weighted median price per return flag: the first "
    "price whose cumulative integer weight crosses half the total "
    "(weights cast to BIGINT so the cumsum is exact — no float "
    "fold-order divergence at the crossing), next to the plain "
    "median for contrast. Among tied prices the crossing price is "
    "tie-invariant, so ORDER BY price alone is deterministic. One "
    "sort shuffle on the group key; the order statistic the "
    "percentile family can't express (percentile() has no weight "
    "argument).",
)
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    w = li.filter(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_quantity").isNotNull()
        & ~not_finite("l_extendedprice")
    ).select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("bigint").alias("wt"),
    )
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt_all = Window.partitionBy("l_returnflag")
    c = w.select(
        "l_returnflag",
        "price",
        F.sum("wt").over(wc).alias("cw"),
        F.sum("wt").over(wt_all).alias("tw"),
    )
    return (
        c.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("tw").alias("total_weight"),
            _r6(
                F.min(
                    F.when(2 * F.col("cw") >= F.col("tw"), F.col("price"))
                )
            ).alias("weighted_median"),
            _r6(F.expr("percentile(price, 0.5)")).alias("plain_median"),
        )
        .orderBy("l_returnflag")
    )


@_register(
    "value_mad_outliers",
    oracle="""
    WITH ev AS (
      -- NaN measures masked like NULL (nan_nn contract)
      SELECT * REPLACE (CASE WHEN NOT isfinite(value) THEN NULL
                        ELSE value END AS value)
      FROM events
    ), med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM ev GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM ev e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           COUNT(*) AS n,
           ROUND(MAX(d.med), 6) AS median,
           ROUND(MAX(m.mad), 6) AS mad,
           CAST(SUM(CASE WHEN d.adev > 3 * 1.4826 * m.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type ORDER BY d.event_type
    """,
    tags=("analytics", "percentile", "quality"),
    doc="Robust outlier gate per event type: median absolute "
    "deviation with the 1.4826 normal-consistency factor, flagging "
    "|x - median| > 3 sigma-equivalents. Mean/std fences (the "
    "rolling_outliers family) move with the outliers they hunt; MAD "
    "has a 50% breakdown point. Two exact-percentile aggregations "
    "(the pinned percentile==quantile_cont pairing) with the "
    "TYPE-sized median/MAD tables broadcast back — at 100 TB swap "
    "percentile for approx_percentile exactly as "
    "value_percentiles_approx does.",
)
def q_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn("value", nan_nn("value"))
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r6(F.max("med")).alias("median"),
            _r6(F.max("mad")).alias("mad"),
            F.sum(
                F.when(
                    F.col("adev") > 3 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Survival analysis, inequality measures, ranking-based model
# evaluation, and bitmap activity rollups.
#
# Reference parity: the reference tracks per-symbol activity and
# dashboard KPIs (app/dashboard.py metric tiles); these are the
# retention-engineering upgrades of those KPIs — a Kaplan-Meier churn
# curve (the estimator behind every retention chart that must respect
# censoring), a Gini concentration index, a Mann-Whitney AUC for
# scoring weak labelers, and the bit-twiddling activity rollup that
# collapses a month of presence to one BIGINT per entity.
#
# Scale notes: every query shuffles entity-sized rollups, never raw
# rows, except the AUC's one global sort (rank statistics need it; a
# two-stage range-partitioned sort is the standard cluster form).
# The KM survival chain and the bitmap streak are folds with
# deterministic scalar order, mirrored by lockstep RECURSIVE CTE
# oracles — bit-for-bit parity, same contract as the Holt/Kalman
# family (plans/timeseries.py).


# censoring rule: a customer whose last order falls within this many
# months of the data horizon is still-active (censored), not churned
_KM_CENSOR_MONTHS = 12


@_register(
    "kaplan_meier_churn",
    oracle=f"""
    WITH RECURSIVE u AS (
      SELECT o_custkey,
             min(o_orderdate) AS first_dt,
             max(o_orderdate) AS last_dt
      FROM orders GROUP BY o_custkey
    ), h AS (
      SELECT max(o_orderdate) AS horizon FROM orders
    ), life AS (
      SELECT year(first_dt) AS cohort,
             date_diff('month', first_dt, last_dt) AS dur,
             CASE WHEN last_dt >= horizon - INTERVAL {_KM_CENSOR_MONTHS} MONTH
                  THEN 0 ELSE 1 END AS ev
      FROM u, h
    ), agg AS (
      SELECT cohort, dur,
             CAST(SUM(ev) AS BIGINT) AS d,
             COUNT(*) AS leaving
      FROM life GROUP BY cohort, dur
    ), risk AS (
      SELECT cohort, dur, d,
             CAST(SUM(leaving) OVER (PARTITION BY cohort ORDER BY dur
                                ROWS BETWEEN CURRENT ROW
                                AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
      FROM agg
    ), ev_rows AS (
      SELECT cohort, dur, d, n_risk,
             ROW_NUMBER() OVER (PARTITION BY cohort ORDER BY dur) - 1 AS t
      FROM risk WHERE d > 0
    ), km AS (
      SELECT cohort, 0 AS t,
             (1.0 - CAST(d AS DOUBLE) / n_risk) AS s
      FROM ev_rows WHERE t = 0
      UNION ALL
      SELECT k.cohort, e.t,
             k.s * (1.0 - CAST(e.d AS DOUBLE) / e.n_risk)
      FROM km k JOIN ev_rows e
        ON e.cohort = k.cohort AND e.t = k.t + 1
    )
    SELECT e.cohort, e.dur AS month, e.n_risk, e.d AS churned,
           ROUND(k.s, 6) AS survival
    FROM km k JOIN ev_rows e USING (cohort, t)
    ORDER BY cohort, month
    """,
    tags=("survival", "analytics", "window"),
    doc="Kaplan-Meier churn curve per acquisition-year cohort over "
    "customer order lifetimes: duration = months from first to last "
    "order, censored while the last order is within 12 months of the "
    "data horizon. Risk sets come from ONE reverse cumulative sum "
    "over the cohort x duration rollup (entity-sized — raw orders "
    "collapse first); the survival product S_t = prod(1 - d/n) is a "
    "chain multiplication folded JVM-side per cohort against a "
    "lockstep recursive-CTE oracle, so no exp/sum-log libm "
    "divergence can split the engines — identical multiply order, "
    "bit-for-bit. The estimator every retention chart needs once "
    "entities can still be alive at the horizon.",
)
def q_kaplan_meier_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    u = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_dt"),
        F.max("o_orderdate").alias("last_dt"),
    )
    h = o.agg(F.max("o_orderdate").alias("horizon"))
    life = u.join(F.broadcast(h)).select(
        F.year("first_dt").alias("cohort"),
        (
            (F.year("last_dt") - F.year("first_dt")) * 12
            + (F.month("last_dt") - F.month("first_dt"))
        ).alias("dur"),
        F.when(
            F.col("last_dt")
            >= F.add_months(F.col("horizon"), -_KM_CENSOR_MONTHS),
            0,
        )
        .otherwise(1)
        .alias("ev"),
    )
    agg = life.groupBy("cohort", "dur").agg(
        F.sum("ev").alias("d"), F.count(F.lit(1)).alias("leaving")
    )
    w_rev = (
        Window.partitionBy("cohort")
        .orderBy("dur")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    risk = agg.select(
        "cohort",
        "dur",
        "d",
        F.sum("leaving").over(w_rev).alias("n_risk"),
    ).filter(F.col("d") > 0)
    g = risk.groupBy("cohort").agg(
        F.array_sort(
            F.collect_list(F.struct("dur", "d", "n_risk"))
        ).alias("s")
    )
    fold = (
        "aggregate("
        "  slice(s, 2, size(s) - 1), "
        "  named_struct("
        "    'surv', (1.0 - CAST(s[0].d AS DOUBLE) / s[0].n_risk), "
        "    'out', array((1.0 - CAST(s[0].d AS DOUBLE) / s[0].n_risk))), "
        "  (acc, e) -> named_struct("
        "    'surv', acc.surv * (1.0 - CAST(e.d AS DOUBLE) / e.n_risk), "
        "    'out', array_append(acc.out, "
        "      acc.surv * (1.0 - CAST(e.d AS DOUBLE) / e.n_risk))))"
    )
    z = g.withColumn("st", F.expr(fold)).select(
        "cohort",
        F.explode(
            F.arrays_zip(F.col("s"), F.col("st.out").alias("surv"))
        ).alias("z"),
    )
    return z.select(
        "cohort",
        F.col("z.s.dur").alias("month"),
        F.col("z.s.n_risk").alias("n_risk"),
        F.col("z.s.d").alias("churned"),
        _r6(F.col("z.surv")).alias("survival"),
    ).orderBy("cohort", "month")


@_register(
    "gini_revenue_yearly",
    oracle="""
    WITH rev AS (
      -- unpriced orders carry nothing; an all-NULL customer-year
      -- would otherwise put a NULL cents into the rank ORDER BY
      -- where Spark (NULLS FIRST) and DuckDB (NULLS LAST) disagree
      SELECT year(o_orderdate) AS o_year, o_custkey,
             CAST(SUM(round((CASE WHEN NOT isfinite(o_totalprice) THEN NULL ELSE o_totalprice END) * 100)) AS BIGINT) AS cents
      FROM orders
      WHERE o_totalprice IS NOT NULL AND isfinite(o_totalprice)
      GROUP BY 1, 2
    ), ranked AS (
      SELECT o_year, cents,
             ROW_NUMBER() OVER (PARTITION BY o_year
                                ORDER BY cents, o_custkey) AS rnk
      FROM rev
    )
    SELECT o_year,
           COUNT(*) AS n_customers,
           ROUND(SUM(cents) / 100.0, 2) AS total_revenue,
           -- nullif: an all-zero-revenue year has no inequality to
           -- measure — NULL in both engines (Spark ANSI would raise)
           ROUND((2.0 * SUM(rnk * cents) - (COUNT(*) + 1.0) * SUM(cents))
                 / nullif(COUNT(*) * CAST(SUM(cents) AS DOUBLE), 0.0),
                 6) AS gini
    FROM ranked
    GROUP BY o_year ORDER BY o_year
    """,
    tags=("analytics", "window", "agg"),
    doc="Gini coefficient of customer revenue per order year — the "
    "inequality index complementing `revenue_concentration`'s Pareto "
    "shares (a single 0..1 number instead of threshold cuts). Uses "
    "the rank formulation G = (2*sum(i*x_i) - (n+1)*sum(x)) / "
    "(n*sum(x)) over ascending ranks: revenue is integer cents so "
    "every sum (max ~1e14) is exact in BIGINT and below 2^53, and "
    "the one double division at the end is IEEE-identical in both "
    "engines — no float-cumsum association anywhere. One customer "
    "rollup shuffle + one per-year rank window.",
)
def q_gini_revenue_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull() & ~not_finite("o_totalprice")
    )
    rev = o.groupBy(
        F.year("o_orderdate").alias("o_year"), "o_custkey"
    ).agg(
        F.sum(F.round(nan_nn("o_totalprice") * 100))
        .cast("bigint")
        .alias("cents")
    )
    ranked = rev.select(
        "o_year",
        "cents",
        F.row_number()
        .over(Window.partitionBy("o_year").orderBy("cents", "o_custkey"))
        .alias("rnk"),
    )
    n = F.count(F.lit(1))
    sx = F.sum("cents")
    six = F.sum(F.col("rnk") * F.col("cents"))
    return (
        ranked.groupBy("o_year")
        .agg(
            n.alias("n_customers"),
            _r2(sx / 100.0).alias("total_revenue"),
            _r6(
                F.try_divide(
                    2.0 * six - (n + F.lit(1.0)) * sx,
                    F.nullif(n * sx.cast("double"), F.lit(0.0)),
                )
            ).alias("gini"),
        )
        .orderBy("o_year")
    )


@_register(
    "score_auc_rank",
    oracle="""
    WITH scored AS (
      SELECT vec_id, label,
             CAST(embedding[1] AS DOUBLE) AS score
      FROM embeddings
    ), ranked AS (
      SELECT label, vec_id,
             ROW_NUMBER() OVER (ORDER BY score, vec_id) AS rnk
      FROM scored
    ), n AS (
      SELECT COUNT(*) AS n_total FROM scored
    ), per AS (
      SELECT label,
             COUNT(*) AS n_pos,
             SUM(rnk) AS rank_sum
      FROM ranked GROUP BY label
    )
    SELECT label, n_pos, n_total - n_pos AS n_neg,
           ROUND((rank_sum - n_pos * (n_pos + 1) / 2.0)
                 / (CAST(n_pos AS DOUBLE) * (n_total - n_pos)), 6) AS auc
    FROM per, n
    ORDER BY label
    """,
    tags=("ml", "eval", "window"),
    doc="One-vs-rest AUC per label for a candidate scoring feature "
    "(first embedding dimension) via the Mann-Whitney rank-sum "
    "identity AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos*n_neg) — the "
    "model-evaluation primitive for weak-labeler triage, computed "
    "without any threshold sweep. ONE global rank (deterministic "
    "(score, vec_id) tiebreak shared by all labels, since "
    "Mann-Whitney only needs global ranks) feeds every per-label "
    "aggregate; ranks and rank sums are integers so only the final "
    "division is floating point. The rank is DISTRIBUTED: a range "
    "repartition on (score, vec_id), per-partition row_number, then "
    "a broadcast of cumulative partition counts — the prefix-sum "
    "decomposition (`peak_concurrent_sessions_daily` uses the same "
    "trick) — so no single task ever sees the whole table the way a "
    "global Window.orderBy would.",
)
def q_score_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    scored = e.select(
        "vec_id",
        "label",
        F.col("embedding").getItem(0).cast("double").alias("score"),
    )
    from stockpulse_spark.operators.rank import with_global_rank

    ranked = with_global_rank(scored, "score", "vec_id").select(
        "label", "rnk"
    )
    n_total = scored.agg(F.count(F.lit(1)).alias("n_total"))
    per = ranked.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.sum("rnk").alias("rank_sum"),
    )
    return (
        per.join(F.broadcast(n_total))
        .select(
            "label",
            "n_pos",
            (F.col("n_total") - F.col("n_pos")).alias("n_neg"),
            _r6(
                (
                    F.col("rank_sum")
                    - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0
                )
                / (
                    F.col("n_pos").cast("double")
                    * (F.col("n_total") - F.col("n_pos"))
                )
            ).alias("auc"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Statistical-learning extensions: a trained Naive-Bayes language
# classifier, robust trimmed/winsorized means, a mergeable two-level
# rollup (the incremental-view-maintenance contract), and one-way
# ANOVA for hour-of-day effects.
#
# Reference parity: the reference hard-codes its analytics
# (app/dashboard.py); these supply the train->apply->evaluate loop a data
# platform layers on top — a generative classifier trained in-plan
# from corpus counts (vs `lang_id_confusion`'s fixed stopword argmax),
# outlier-resistant location estimates, and the partial-aggregate
# merge law that makes 100 TB rollups incremental.
#
# Determinism: NB log-likelihoods are rounded to integer micro-nats
# (BIGINT), so per-document scores are exact integer sums and the
# argmax can never flip on float summation order; the mergeable rollup
# carries integer-cents power sums, so merged and direct aggregates
# agree bit-for-bit.


@_register(
    "trimmed_stats_by_type",
    oracle="""
    WITH ev AS (
      -- NaN measures masked like NULL (nan_nn contract)
      SELECT * REPLACE (CASE WHEN NOT isfinite(value) THEN NULL
                        ELSE value END AS value)
      FROM events
    ), b AS (
      SELECT event_type,
             -- snapped to micro-units: interpolated percentiles differ
             -- between engines in the last ulp, and a duplicated value
             -- sitting exactly ON the cutoff flips membership (found by
             -- the sf1 sweep, where every value repeats 10x)
             ROUND(quantile_cont(value, 0.05), 6) AS p05,
             ROUND(quantile_cont(value, 0.95), 6) AS p95
      FROM ev GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           ROUND(AVG(e.value), 6) AS mean_raw,
           ROUND(AVG(e.value) FILTER (WHERE e.value BETWEEN b.p05 AND b.p95),
                 6) AS mean_trimmed,
           ROUND(AVG(LEAST(GREATEST(e.value, b.p05), b.p95)), 6)
             AS mean_winsorized,
           ROUND(b.p05, 6) AS p05, ROUND(b.p95, 6) AS p95
    FROM ev e JOIN b USING (event_type)
    GROUP BY e.event_type, b.p05, b.p95
    ORDER BY e.event_type
    """,
    tags=("robust", "agg", "analytics"),
    doc="5% trimmed and winsorized means per event type beside the "
    "raw mean — the robust location estimates that survive the fat "
    "tails `value_mad_outliers` detects. Exact interpolated "
    "percentile bounds (one agg pass) broadcast back onto the scan "
    "(TYPE-sized dim join); trimming is a conditional aggregate, "
    "winsorizing a clamp — both second-pass scan-shaped, no sort of "
    "the raw data. Two passes is the exact-quantile price; the "
    "approx_percentile twin pattern (value_percentiles_approx) is the "
    "single-pass 100 TB variant.",
)
def q_trimmed_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn("value", nan_nn("value"))
    # cutoffs snapped to micro-units (both engines): boundary
    # membership must not depend on the last ulp of the interpolation
    b = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.05)), 6).alias("p05"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
    )
    j = ev.join(F.broadcast(b), "event_type")
    clamped = F.least(
        F.greatest(F.col("value"), F.col("p05")), F.col("p95")
    )
    return (
        j.groupBy("event_type", "p05", "p95")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r6(F.avg("value")).alias("mean_raw"),
            _r6(
                F.avg(
                    F.when(
                        F.col("value").between(
                            F.col("p05"), F.col("p95")
                        ),
                        F.col("value"),
                    )
                )
            ).alias("mean_trimmed"),
            _r6(F.avg(clamped)).alias("mean_winsorized"),
        )
        .select(
            "event_type",
            "n",
            "mean_raw",
            "mean_trimmed",
            "mean_winsorized",
            _r6(F.col("p05")).alias("p05"),
            _r6(F.col("p95")).alias("p95"),
        )
        .orderBy("event_type")
    )


@_register(
    "anova_hour_effect",
    oracle="""
    WITH g AS (
      SELECT event_type, hour(ts) AS hr,
             COUNT(*) AS n_g,
             SUM(CAST(round((CASE WHEN NOT isfinite(value) THEN NULL ELSE value END) * 100) AS BIGINT)) AS s_g,
             SUM(CAST(round((CASE WHEN NOT isfinite(value) THEN NULL ELSE value END) * 100) AS BIGINT)
                 * CAST(round((CASE WHEN NOT isfinite(value) THEN NULL ELSE value END) * 100) AS BIGINT)) AS s2_g
      FROM events GROUP BY 1, 2
    ), parts AS (
      SELECT event_type, COUNT(*) AS k,
             SUM(n_g) AS n, SUM(s_g) AS s, SUM(s2_g) AS s2,
             SUM(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g)
               AS sum_gsq
      FROM g GROUP BY event_type
    )
    SELECT event_type, k AS n_groups, CAST(n AS BIGINT) AS n_obs,
           ROUND((sum_gsq - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                 / (k - 1)
                 / ((CAST(s2 AS DOUBLE) - sum_gsq) / (n - k)), 6)
             AS f_stat
    FROM parts ORDER BY event_type
    """,
    tags=("analytics", "agg", "stats"),
    doc="One-way ANOVA F-statistic for an hour-of-day effect on "
    "event value, per type: F = (SSB/(k-1)) / (SSW/(n-k)) with SSB/"
    "SSW derived from per-hour integer-cents power sums — the "
    "seasonality significance test behind `seasonal_profile`'s "
    "descriptive means. All within-group sums are exact BIGINTs; "
    "only the 24-term sum of S_g^2/n_g is floating point, summed "
    "over a groups-sized rollup. Two metadata-sized aggregations "
    "after one partial-agg shuffle of the scan.",
)
def q_anova_hour_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = F.round(nan_nn("value") * 100).cast("bigint")
    g = ev.groupBy("event_type", F.hour("ts").alias("hr")).agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum(cents).alias("s_g"),
        F.sum(cents * cents).alias("s2_g"),
    )
    parts = g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("s2_g").alias("s2"),
        F.sum(
            F.col("s_g").cast("double")
            * F.col("s_g").cast("double")
            / F.col("n_g")
        ).alias("sum_gsq"),
    )
    sd = F.col("s").cast("double")
    return parts.select(
        "event_type",
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_obs"),
        _r6(
            (F.col("sum_gsq") - sd * sd / F.col("n"))
            / (F.col("k") - 1)
            / (
                (F.col("s2").cast("double") - F.col("sum_gsq"))
                / (F.col("n") - F.col("k"))
            )
        ).alias("f_stat"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Distributed statistical inference: Poisson-bootstrap confidence
# intervals and a chi-square independence test.
#
# Reference parity: the reference reports point metrics with no
# uncertainty (app/dashboard.py KPI tiles); these add the error bars — the
# Poisson bootstrap is THE cluster-scale resampling method (per-row
# Poisson(1) weights make every replicate a single streaming pass;
# classical resampling would need n draws per replicate and a shuffle
# each), and the chi-square test is the canonical independence check
# for two categorical rollups.
#
# Determinism: bootstrap weights come from md5-derived 32-bit uniforms
# compared against PRE-COMPUTED INTEGER thresholds (floor of the
# Poisson(1) CDF scaled by 2^32) — no float RNG, no libm in the weight
# path, so both engines draw identical replicates; replicate sums are
# integer cents.


_B = 100  # bootstrap replicates


# floor(CDF_Poisson1(k) * 2^32) for k = 0..8; a 32-bit md5 uniform u
# falls in bucket k when u < threshold[k]. P(K > 8) < 1.2e-8 — the
# residual mass rounds into weight 9 via the ELSE arm.
_POIS_T = [
    1580030168,
    3160060337,
    3950075421,
    4213413783,
    4279248373,
    4292415291,
    4294609777,
    4294923276,
    4294962463,
]


def _pois_case(u: str) -> str:
    arms = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"(CASE {arms} ELSE 9 END)"


@_register(
    "poisson_bootstrap_ci",
    oracle=f"""
    WITH reps AS (
      SELECT e.event_type, b.b,
             {_pois_case(hex_to_int_sql("md5(CAST(e.event_id AS VARCHAR) || ':' || CAST(b.b AS VARCHAR))"))} AS w,
             CAST(round((CASE WHEN NOT isfinite(e.value) THEN NULL ELSE e.value END) * 100) AS BIGINT) AS cents
      FROM events e
      CROSS JOIN (SELECT unnest(range(0, {_B})) AS b) b
    ), rm AS (
      SELECT event_type, b,
             CAST(SUM(w * cents) AS DOUBLE) / SUM(w) / 100.0 AS m
      FROM reps GROUP BY event_type, b
      HAVING SUM(w) > 0
    ), pt AS (
      SELECT event_type, COUNT(*) AS n,
             ROUND(AVG(value), 6) AS mean_value
      FROM events GROUP BY event_type
    )
    SELECT pt.event_type, pt.n, pt.mean_value,
           ROUND(stddev_samp(rm.m), 6) AS boot_se,
           ROUND(quantile_cont(rm.m, 0.025), 6) AS ci_lo,
           ROUND(quantile_cont(rm.m, 0.975), 6) AS ci_hi
    FROM pt JOIN rm USING (event_type)
    GROUP BY pt.event_type, pt.n, pt.mean_value
    ORDER BY pt.event_type
    """,
    tags=("inference", "bootstrap", "agg"),
    doc=f"Bootstrap 95% CI and standard error for the mean value per "
    "event type via the POISSON BOOTSTRAP — per-(row, replicate) "
    "Poisson(1) weights stand in for sampling with replacement, "
    "which is the only bootstrap that runs as one streaming pass "
    f"over a 100 TB table ({_B} weighted partial aggregates per "
    "partition, shuffle rows = groups x replicates, never the data). "
    "Weights are md5-uniforms compared against integer-scaled "
    "Poisson CDF thresholds — pure integer comparisons, so both "
    "engines draw bit-identical replicates; replicate sums are "
    "integer cents and each replicate mean is one exact division. "
    "The replicate explode multiplies map-side compute, not shuffle "
    "volume — the documented cost of uncertainty at scale.",
)
def q_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    u = hex_to_int_sql(
        "md5(CAST(event_id AS STRING) || ':' || CAST(b AS STRING))"
    )
    # Spread the events scan before the xB replicate explode
    # (optimization r11, the PQ/matryoshka fix class): the input is
    # one parquet split, so the 100x row multiply and its per-row md5
    # otherwise execute in a SINGLE task. The repartition shuffles the
    # 3-column pre-explode rows only; replicate weights and integer
    # replicate sums are partition-independent.
    reps = (
        ev.select(
            "event_type",
            "event_id",
            F.round(nan_nn("value") * 100).cast("bigint").alias("cents"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "event_type",
            "event_id",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b"),
        )
        .withColumn("w", F.expr(_pois_case(u)))
    )
    rm = (
        reps.groupBy("event_type", "b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("ws"),
            F.sum("w").alias("wn"),
        )
        .filter(F.col("wn") > 0)
        .select(
            "event_type",
            (
                F.col("ws").cast("double") / F.col("wn") / 100.0
            ).alias("m"),
        )
    )
    pt = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        _r6(F.avg("value")).alias("mean_value"),
    )
    return (
        pt.join(rm, "event_type")
        .groupBy("event_type", "n", "mean_value")
        .agg(
            _r6(F.stddev_samp("m")).alias("boot_se"),
            _r6(F.percentile("m", F.lit(0.025))).alias("ci_lo"),
            _r6(F.percentile("m", F.lit(0.975))).alias("ci_hi"),
        )
        .orderBy("event_type")
    )


@_register(
    "segment_type_chisq",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS seg, e.event_type AS typ
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
    ), o AS (
      SELECT seg, typ, COUNT(*) AS obs FROM j GROUP BY seg, typ
    ), rt AS (
      SELECT seg, SUM(obs) AS r FROM o GROUP BY seg
    ), ct AS (
      SELECT typ, SUM(obs) AS c FROM o GROUP BY typ
    ), n AS (
      SELECT SUM(obs) AS n FROM o
    ), cells AS (
      SELECT o.seg, o.typ, o.obs,
             CAST(rt.r AS DOUBLE) * ct.c / n.n AS expected
      FROM o JOIN rt USING (seg) JOIN ct USING (typ), n
    )
    SELECT (SELECT COUNT(*) FROM rt) AS n_segments,
           (SELECT COUNT(*) FROM ct) AS n_types,
           (SELECT CAST(n AS BIGINT) FROM n) AS n_obs,
           ((SELECT COUNT(*) FROM rt) - 1)
             * ((SELECT COUNT(*) FROM ct) - 1) AS dof,
           ROUND(SUM((obs - expected) * (obs - expected) / expected), 6)
             AS chi2
    FROM cells
    """,
    tags=("inference", "agg", "join"),
    doc="Chi-square test of independence between customer market "
    "segment and event type — the significance test behind every "
    "'does behavior differ by segment' dashboard split. The "
    "contingency table is a (segments x types)-sized rollup built "
    "from one broadcast-dim join + one partial-agg shuffle; "
    "marginals and expecteds derive from that metadata-sized table, "
    "so the statistic costs one scan regardless of corpus size. "
    "Observed counts and marginals are exact integers; expecteds "
    "are one double expression per cell.",
)
def q_segment_type_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    j = ev.join(
        F.broadcast(
            cust.select(
                F.col("c_custkey").alias("user_id"),
                F.col("c_mktsegment").alias("seg"),
            )
        ),
        "user_id",
    ).select("seg", F.col("event_type").alias("typ"))
    o = j.groupBy("seg", "typ").agg(F.count(F.lit(1)).alias("obs"))
    rt = o.groupBy("seg").agg(F.sum("obs").alias("r"))
    ct = o.groupBy("typ").agg(F.sum("obs").alias("c"))
    n = o.agg(F.sum("obs").alias("n"))
    cells = (
        o.join(F.broadcast(rt), "seg")
        .join(F.broadcast(ct), "typ")
        .join(F.broadcast(n))
        .select(
            "obs",
            (
                F.col("r").cast("double") * F.col("c") / F.col("n")
            ).alias("expected"),
        )
    )
    nseg = rt.agg(F.count(F.lit(1)).alias("n_segments"))
    ntyp = ct.agg(F.count(F.lit(1)).alias("n_types"))
    stat = cells.agg(
        _r6(
            F.sum(
                (F.col("obs") - F.col("expected"))
                * (F.col("obs") - F.col("expected"))
                / F.col("expected")
            )
        ).alias("chi2")
    )
    return (
        nseg.join(F.broadcast(ntyp))
        .join(F.broadcast(n.select(F.col("n").alias("n_obs"))))
        .join(F.broadcast(stat))
        .select(
            "n_segments",
            "n_types",
            "n_obs",
            (
                (F.col("n_segments") - 1) * (F.col("n_types") - 1)
            ).alias("dof"),
            "chi2",
        )
    )


@_register(
    "conformal_interval_coverage",
    oracle=f"""
    WITH e AS (
      SELECT event_type, hour(ts) AS hr,
             CASE WHEN NOT isfinite(value) THEN NULL ELSE value END AS value,
             CAST(round((CASE WHEN NOT isfinite(value) THEN NULL ELSE value END) * 100) AS BIGINT) AS cents,
             {hex_to_int_sql("md5(CAST(event_id AS VARCHAR))", 8)} % 2
               AS split
      FROM events
    ), model AS (
      SELECT event_type, hr,
             CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100.0 AS pred
      FROM e WHERE split = 0 GROUP BY event_type, hr
    ), scored AS (
      SELECT e.event_type, e.split,
             abs(e.value - m.pred) AS score
      FROM e JOIN model m
        ON e.event_type = m.event_type AND e.hr = m.hr
    ), qhat AS (
      SELECT event_type,
             COUNT(*) AS n_calib,
             quantile_cont(score, 0.9) AS q
      FROM scored WHERE split = 0 GROUP BY event_type
    )
    SELECT s.event_type, q.n_calib,
           COUNT(*) AS n_test,
           ROUND(q.q, 6) AS qhat,
           ROUND(CAST(SUM(CASE WHEN s.score <= q.q THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS coverage
    FROM scored s JOIN qhat q USING (event_type)
    WHERE s.split = 1
    GROUP BY s.event_type, q.n_calib, q.q
    ORDER BY s.event_type
    """,
    tags=("inference", "ml", "agg"),
    doc="Split-conformal prediction intervals with empirical coverage "
    "check: an md5-parity split carves calibration/test halves "
    "deterministically in both engines, a (type, hour-of-day) "
    "calibration-mean model predicts each event, the 90% quantile "
    "of calibration residuals becomes the interval half-width, and "
    "the TEST half reports achieved coverage (should sit near 0.9 — "
    "the distribution-free guarantee every deployed predictor "
    "should be wrapped in). Model and quantiles are metadata-sized "
    "broadcasts; the whole check is two scan passes. Calibration "
    "means come from integer cents, so predictions and residuals "
    "are identical doubles across engines.",
)
def q_conformal_interval_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    split = (
        F.expr(hex_to_int_sql("md5(CAST(event_id AS STRING))", 8)) % 2
    ).alias("split")
    e = ev.select(
        "event_type",
        F.hour("ts").alias("hr"),
        nan_nn("value").alias("value"),
        F.round(nan_nn("value") * 100).cast("bigint").alias("cents"),
        split,
    )
    model = (
        e.filter(F.col("split") == 0)
        .groupBy("event_type", "hr")
        .agg(
            (
                F.sum("cents").cast("double")
                / F.count(F.lit(1))
                / 100.0
            ).alias("pred")
        )
    )
    scored = e.join(F.broadcast(model), ["event_type", "hr"]).select(
        "event_type",
        "split",
        F.abs(F.col("value") - F.col("pred")).alias("score"),
    )
    qhat = (
        scored.filter(F.col("split") == 0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_calib"),
            F.percentile("score", F.lit(0.9)).alias("q"),
        )
    )
    hit = F.when(F.col("score") <= F.col("q"), 1).otherwise(0)
    return (
        scored.filter(F.col("split") == 1)
        .join(F.broadcast(qhat), "event_type")
        .groupBy("event_type", "n_calib", "q")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            _r6(
                F.sum(hit).cast("double") / F.count(F.lit(1))
            ).alias("coverage"),
        )
        .select(
            "event_type",
            "n_calib",
            "n_test",
            _r6(F.col("q")).alias("qhat"),
            "coverage",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Feature-engineering operators for tabular ML on event data:
# leakage-free target encoding, weight-of-evidence binning, and
# population-stability drift monitoring.
#
# Reference parity: the reference feeds raw indicator columns straight
# to charts (app/dashboard.py); a training pipeline needs the encode /
# bin / monitor layer between the warehouse and the model. These are
# the three canonical pieces: leave-one-out mean-target encoding (the
# encoding that does not leak the row's own label), WOE/IV binning
# (the credit-scoring standard for numeric->categorical evidence), and
# PSI (the drift alarm every deployed model watches).
#
# Determinism: targets are integer cents, so group sums are exact and
# each encoded value is one double division; bins come from ntile over
# a fully tie-broken order; the only libm is ln() inside WOE/PSI,
# rounded at 6dp like every other ln-based query in the registry.


@_register(
    "loo_target_encoding",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type,
             CAST(round((CASE WHEN NOT isfinite(value) THEN NULL ELSE value END) * 100) AS BIGINT) AS cents
      FROM events
    ), g AS (
      SELECT event_type, SUM(cents) AS s, COUNT(*) AS n
      FROM e GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND(e.cents / 100.0, 6) AS value,
           CASE WHEN g.n > 1 THEN
             ROUND(CAST(g.s - e.cents AS DOUBLE)
                   / (g.n - 1) / 100.0, 6)
           END AS loo_enc
    FROM e JOIN g USING (event_type)
    ORDER BY e.event_id
    """,
    tags=("features", "ml", "agg"),
    doc="Leave-one-out mean-target encoding of event_type against "
    "the value target: each row's encoding is the group mean "
    "EXCLUDING the row itself, (S_g - y_i)/(n_g - 1) — the encoding "
    "that cannot leak a row's own label into its feature (plain "
    "group-mean encoding does, and the model memorizes it). One "
    "partial-agg shuffle builds the TYPE-sized (sum, count) table; "
    "it broadcasts back onto the scan, so the encode pass is "
    "scan-shaped at 100 TB. Integer-cents sums make every encoded "
    "value one exact double division.",
)
def q_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "event_type",
        F.round(nan_nn("value") * 100).cast("bigint").alias("cents"),
    )
    g = e.groupBy("event_type").agg(
        F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        e.join(F.broadcast(g), "event_type")
        .select(
            "event_id",
            "event_type",
            _r6(F.col("cents") / 100.0).alias("value"),
            F.when(
                F.col("n") > 1,
                _r6(
                    (F.col("s") - F.col("cents")).cast("double")
                    / (F.col("n") - 1)
                    / 100.0
                ),
            ).alias("loo_enc"),
        )
        .orderBy("event_id")
    )


@_register(
    "woe_binning",
    oracle="""
    WITH r AS (
      SELECT value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos,
             ROW_NUMBER() OVER (ORDER BY value, event_id) AS rnk,
             COUNT(*) OVER () AS n_total
      FROM events
    ), e AS (
      SELECT value, pos,
             CAST(((rnk - 1) * 10) // n_total AS INT) + 1 AS bin
      FROM r
    ), b AS (
      SELECT bin,
             COUNT(*) AS n,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n_neg,
             ROUND(MIN(value), 6) AS bin_lo,
             ROUND(MAX(value), 6) AS bin_hi
      FROM e GROUP BY bin
    ), t AS (
      SELECT SUM(n_pos) AS tp, SUM(n_neg) AS tn FROM b
    )
    SELECT b.bin, b.n, b.n_pos, b.n_neg, b.bin_lo, b.bin_hi,
           CASE WHEN b.n_pos > 0 AND b.n_neg > 0 THEN
             ROUND(ln((CAST(b.n_pos AS DOUBLE) / t.tp)
                      / (CAST(b.n_neg AS DOUBLE) / t.tn)), 6)
           END AS woe,
           CASE WHEN b.n_pos > 0 AND b.n_neg > 0 THEN
             ROUND((CAST(b.n_pos AS DOUBLE) / t.tp
                    - CAST(b.n_neg AS DOUBLE) / t.tn)
                   * ln((CAST(b.n_pos AS DOUBLE) / t.tp)
                        / (CAST(b.n_neg AS DOUBLE) / t.tn)), 6)
           END AS iv_term
    FROM b, t
    ORDER BY b.bin
    """,
    tags=("features", "ml", "window"),
    doc="Weight-of-evidence decile binning of value against the "
    "purchase label: WOE_b = ln((pos_b/pos)/(neg_b/neg)) per bin "
    "plus its information-value term — the credit-scoring transform "
    "that turns a numeric into monotone categorical evidence. Bins "
    "are equal-count deciles from an explicit rank formula "
    "(bin = (rnk-1)*10 div n + 1) over a fully tie-broken (value, "
    "event_id) order — stated identically in both engines, and the "
    "rank itself is DISTRIBUTED (operators/rank.py: range "
    "repartition + prefix-sum offsets), never a single-partition "
    "window. Per-bin counts are exact integers; only the final ln "
    "is floating point.",
)
def q_woe_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_spark.operators.rank import with_global_rank

    ev = _t(spark, sf_dir, "events")
    ranked = with_global_rank(
        ev.select(
            "value",
            "event_id",
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("pos"),
        ),
        "value",
        "event_id",
    )
    n_total = ranked.agg(F.count(F.lit(1)).alias("n_total"))
    e = ranked.join(F.broadcast(n_total)).select(
        "value",
        "pos",
        F.expr("CAST(((rnk - 1) * 10) DIV n_total AS INT) + 1").alias(
            "bin"
        ),
    )
    b = e.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pos").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("pos")).alias("n_neg"),
        _r6(F.min("value")).alias("bin_lo"),
        _r6(F.max("value")).alias("bin_hi"),
    )
    t = b.agg(F.sum("n_pos").alias("tp"), F.sum("n_neg").alias("tn"))
    # WOE is defined only when the bin holds BOTH classes — a
    # pure bin would divide or log by zero (ANSI errors; caught by
    # the planted separating-feature test)
    both = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    pos_share = F.col("n_pos").cast("double") / F.col("tp")
    neg_share = F.col("n_neg").cast("double") / F.col("tn")
    woe = F.log(pos_share / neg_share)
    return (
        b.join(F.broadcast(t))
        .select(
            "bin",
            "n",
            "n_pos",
            "n_neg",
            "bin_lo",
            "bin_hi",
            F.when(both, _r6(woe)).alias("woe"),
            F.when(both, _r6((pos_share - neg_share) * woe)).alias(
                "iv_term"
            ),
        )
        .orderBy("bin")
    )


@_register(
    "psi_value_drift",
    oracle="""
    WITH cut AS (
      SELECT quantile_cont(epoch_us(ts), 0.5) AS mid FROM events
    ), e AS (
      SELECT e.event_type,
             CASE WHEN NOT isfinite(e.value) THEN NULL ELSE e.value END
               AS value,
             CASE WHEN epoch_us(e.ts) <= c.mid THEN 0 ELSE 1 END AS period
      FROM events e, cut c
    ), edges AS (
      -- edges snapped to micro-units (engine-independent bin
      -- membership at duplicated values; see the Spark twin)
      SELECT event_type,
             list_transform(
               quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
               q -> ROUND(q, 6)) AS qs
      FROM e WHERE period = 0 GROUP BY event_type
    ), binned AS (
      SELECT e.event_type, e.period,
             1 + len(list_filter(g.qs, q -> e.value > q)) AS bin
      FROM e JOIN edges g USING (event_type)
    ), counts AS (
      SELECT event_type, bin,
             1 + SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS c0,
             1 + SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS c1
      FROM binned GROUP BY event_type, bin
    ), tot AS (
      SELECT event_type, SUM(c0) AS t0, SUM(c1) AS t1
      FROM counts GROUP BY event_type
    )
    SELECT c.event_type,
           COUNT(*) AS n_bins,
           ROUND(SUM((CAST(c.c0 AS DOUBLE) / t.t0
                      - CAST(c.c1 AS DOUBLE) / t.t1)
                     * ln((CAST(c.c0 AS DOUBLE) / t.t0)
                          / (CAST(c.c1 AS DOUBLE) / t.t1))), 6) AS psi
    FROM counts c JOIN tot t USING (event_type)
    GROUP BY c.event_type
    ORDER BY c.event_type
    """,
    tags=("features", "ml", "drift", "agg"),
    doc="Population Stability Index of the value distribution per "
    "event type, first half of the stream (reference) vs second "
    "half (current): bins fixed on the REFERENCE deciles (the PSI "
    "convention — drift moves mass across frozen bins), Laplace +1 "
    "on counts so empty bins cannot blow up the log, PSI = "
    "sum((p_ref - p_cur) * ln(p_ref/p_cur)). The numeric twin of "
    "`corpus_drift_jsd`'s vocabulary drift: >0.2 is the standard "
    "retrain alarm. Decile edges are a TYPES-sized broadcast; "
    "binning is an in-row filter count over 9 edges, so the whole "
    "monitor is one scan + two metadata-sized rollups.",
)
def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    us = F.expr("unix_micros(ts)")
    cut = ev.agg(F.percentile(us, F.lit(0.5)).alias("mid"))
    e = ev.join(F.broadcast(cut)).select(
        "event_type",
        nan_nn("value").alias("value"),
        F.when(us <= F.col("mid"), 0).otherwise(1).alias("period"),
    )
    qs = [i / 10.0 for i in range(1, 10)]
    edges = (
        e.filter(F.col("period") == 0)
        .groupBy("event_type")
        .agg(
            # edges snapped to micro-units: interpolated deciles differ
            # between engines in the last ulp, and a duplicated value
            # sitting exactly ON an edge flips its bin (found by the
            # sf1 sweep, where every value repeats 10x)
            F.transform(
                F.percentile("value", F.array(*[F.lit(q) for q in qs])),
                lambda q: F.round(q, 6),
            ).alias("qs")
        )
    )
    binned = e.join(F.broadcast(edges), "event_type").select(
        "event_type",
        "period",
        (
            1 + F.expr("size(filter(qs, q -> value > q))")
        ).alias("bin"),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        (1 + F.sum(F.when(F.col("period") == 0, 1).otherwise(0))).alias(
            "c0"
        ),
        (1 + F.sum(F.when(F.col("period") == 1, 1).otherwise(0))).alias(
            "c1"
        ),
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("c0").alias("t0"), F.sum("c1").alias("t1")
    )
    p0 = F.col("c0").cast("double") / F.col("t0")
    p1 = F.col("c1").cast("double") / F.col("t1")
    return (
        counts.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            _r6(F.sum((p0 - p1) * F.log(p0 / p1))).alias("psi"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Feature-store composition queries: the wide per-entity feature
# matrix, graph-ranked keywords, and seasonal-baseline anomaly rates.
#
# Reference parity: these compose operators the registry already
# verifies one-by-one (rollups, percentiles, pagerank, seasonal
# profiles) into the three deliverables an ML platform actually ships:
# a training-ready feature matrix per entity, corpus keywords, and an
# anomaly monitor scored against a seasonal baseline. Each stays one
# declarative plan so Catalyst shares scans/exchanges across the
# composed pieces.


@_register(
    "user_feature_matrix",
    oracle="""
    WITH h AS (
      SELECT max(ts) AS horizon FROM events
    ), f AS (
      SELECT user_id,
             COUNT(*) AS n_events,
             COUNT(DISTINCT CAST(date_trunc('day', ts) AS DATE))
               AS n_active_days,
             COUNT(DISTINCT event_type) AS n_types,
             SUM(CAST(round((CASE WHEN NOT isfinite(value) THEN NULL ELSE value END) * 100) AS BIGINT)) AS cents,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS n_purchases,
             min(ts) AS first_ts, max(ts) AS last_ts
      FROM events GROUP BY user_id
    )
    SELECT f.user_id, f.n_events, f.n_active_days, f.n_types,
           ROUND(f.cents / 100.0, 6) AS total_value,
           ROUND(CAST(f.n_purchases AS DOUBLE) / f.n_events, 6)
             AS purchase_rate,
           (epoch_us(h.horizon) - epoch_us(f.last_ts))
             // 3600000000 AS recency_hours,
           (epoch_us(f.last_ts) - epoch_us(f.first_ts))
             // 86400000000 AS tenure_days,
           CASE WHEN f.n_events > 1 THEN
             ROUND(CAST(epoch_us(f.last_ts) - epoch_us(f.first_ts)
                        AS DOUBLE) / 60000000.0 / (f.n_events - 1), 6)
           END AS mean_gap_minutes
    FROM f, h
    ORDER BY f.user_id
    """,
    tags=("features", "ml", "agg"),
    doc="The training-ready per-user feature matrix in ONE pass: "
    "activity (events, active days, type breadth), monetary "
    "(integer-cents total), behavioral (purchase rate), and "
    "temporal (recency vs the data horizon, tenure, mean inter-"
    "event gap) features — the feature-store materialization every "
    "churn/LTV model starts from, with all time math in integer "
    "microseconds so both engines derive identical features. One "
    "partial-agg shuffle keyed by user + a 1-row horizon broadcast; "
    "leakage-free variants (as-of cutoffs) compose via "
    "`scd2_point_in_time_join`'s interval semantics.",
)
def q_user_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    us = F.expr("unix_micros(ts)")
    h = ev.agg(F.max(us).alias("horizon_us"))
    f = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct(
            F.date_trunc("day", "ts").cast("date")
        ).alias("n_active_days"),
        F.count_distinct("event_type").alias("n_types"),
        F.sum(F.round(nan_nn("value") * 100).cast("bigint")).alias("cents"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n_purchases"),
        F.min(us).alias("first_us"),
        F.max(us).alias("last_us"),
    )
    return (
        f.join(F.broadcast(h))
        .select(
            "user_id",
            "n_events",
            "n_active_days",
            "n_types",
            _r6(F.col("cents") / 100.0).alias("total_value"),
            _r6(
                F.col("n_purchases").cast("double") / F.col("n_events")
            ).alias("purchase_rate"),
            F.expr(
                "(horizon_us - last_us) DIV 3600000000"
            ).alias("recency_hours"),
            F.expr(
                "(last_us - first_us) DIV 86400000000"
            ).alias("tenure_days"),
            F.when(
                F.col("n_events") > 1,
                _r6(
                    (F.col("last_us") - F.col("first_us")).cast("double")
                    / 60000000.0
                    / (F.col("n_events") - 1)
                ),
            ).alias("mean_gap_minutes"),
        )
        .orderBy("user_id")
    )


@_register(
    "seasonal_anomaly_rates",
    oracle="""
    WITH ev AS (
      SELECT * REPLACE (CASE WHEN NOT isfinite(value) THEN NULL
                        ELSE value END AS value)
      FROM events
    ), b AS (
      SELECT event_type, hour(ts) AS hr,
             quantile_cont(value, 0.5) AS med
      FROM ev GROUP BY 1, 2
    ), r AS (
      SELECT e.event_type, hour(e.ts) AS hr,
             abs(e.value - b.med) AS adev, e.value
      FROM ev e JOIN b ON e.event_type = b.event_type
                          AND hour(e.ts) = b.hr
    ), m AS (
      SELECT event_type, hr, quantile_cont(adev, 0.5) AS mad
      FROM r GROUP BY 1, 2
    )
    SELECT r.event_type, r.hr,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN r.adev > 3 * 1.4826 * m.mad
               THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           ROUND(CAST(SUM(CASE WHEN r.adev > 3 * 1.4826 * m.mad
                          THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS anomaly_rate
    FROM r JOIN m ON r.event_type = m.event_type AND r.hr = m.hr
    GROUP BY r.event_type, r.hr
    ORDER BY r.event_type, r.hr
    """,
    tags=("features", "anomaly", "agg"),
    doc="Seasonal-baseline anomaly monitor: each event is scored "
    "against the median of ITS OWN (type, hour-of-day) cell and "
    "flagged beyond 3 robust sigmas (1.4826*MAD) — the seasonal "
    "upgrade of `value_mad_outliers`' global baseline, so a value "
    "normal at the daily peak but absurd at 3am is caught. Two "
    "exact-percentile passes over the scan with the (24 x types)-"
    "sized baselines broadcast back; the comparison doubles are "
    "identical in both engines because medians interpolate the "
    "identical multisets.",
)
def q_seasonal_anomaly_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn("value", nan_nn("value"))
    b = ev.groupBy("event_type", F.hour("ts").alias("hr")).agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    r = ev.select(
        "event_type", F.hour("ts").alias("hr"), "value"
    ).join(F.broadcast(b), ["event_type", "hr"]).select(
        "event_type",
        "hr",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    m = r.groupBy("event_type", "hr").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    flag = F.when(
        F.col("adev") > 3 * 1.4826 * F.col("mad"), 1
    ).otherwise(0)
    return (
        r.join(F.broadcast(m), ["event_type", "hr"])
        .groupBy("event_type", "hr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(flag).alias("n_anomalies"),
            _r6(
                F.sum(flag).cast("double") / F.count(F.lit(1))
            ).alias("anomaly_rate"),
        )
        .orderBy("event_type", "hr")
    )


# ---------------------------------------------------------------------------
# Audience overlap via mergeable-sketch inclusion-exclusion — the
# 100 TB answer to "how many users do segments A and B share?" when the
# key universe is too large to intersect exactly: |A∩B| ≈ hll(A) +
# hll(B) − hll(A∪B), three constant-size sketches instead of a shuffle
# of every distinct key.
#
# Self-certification follows distinct_users_approx: HLL register values
# are implementation-defined so the ESTIMATE can't hash-match across
# engines — but the exact overlap (computed in the same plan, the twin
# the estimate replaces at scale) and the error-bound BOOLEAN can. The
# inclusion-exclusion envelope is three sketch errors wide, so the
# certified bound is 15·rsd·|A∪B| + 2 (absolute slack covers
# integer-rounded estimates on tiny segments, where HLL is exact).


_RSD = 0.02
_OVERLAP_K = 15  # inclusion-exclusion bound multiplier (3 sketches wide)


@_register(
    "audience_overlap_sketch",
    oracle="""
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events
      WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    ), ex AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS exact_overlap
      FROM du a JOIN du b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    ), un AS (
      SELECT e.type_a, e.type_b, COUNT(DISTINCT d.user_id) AS exact_union
      FROM ex e JOIN du d
        ON d.event_type IN (e.type_a, e.type_b)
      GROUP BY 1, 2
    )
    SELECT e.type_a, e.type_b,
           CAST(e.exact_overlap AS BIGINT) AS exact_overlap,
           CAST(u.exact_union AS BIGINT) AS exact_union,
           TRUE AS sketch_within_bound
    FROM ex e JOIN un u
      ON u.type_a = e.type_a AND u.type_b = e.type_b
    ORDER BY e.type_a, e.type_b
    """,
    tags=("agg", "approx", "sketch"),
    doc="Segment-overlap estimation by HLL inclusion-exclusion "
    "(rsd=2%): |A∩B| ≈ est(A)+est(B)−est(A∪B) — three mergeable "
    "KB-sized sketches per pair where the exact form shuffles every "
    "distinct key. The exact overlap and union are computed in the "
    "same plan purely to CERTIFY the estimate: the driver hashes the "
    "exact values plus the boolean |est−exact| ≤ 15·rsd·|A∪B|+2 "
    "(three sketch errors wide, absolute slack for tiny segments "
    "where HLL is exact). Pairs come from the overlap join itself, "
    "so zero-overlap pairs are absent on both engines identically.",
)
def q_audience_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pin once per invocation: the distinct (type, user) frame is read
    # on FOUR plan branches (both overlap self-join sides, the
    # per-type sketch, and the pairwise union pass) — unpinned, the
    # events scan + distinct shuffle executed 4x (optimization r11)
    du = (
        _t(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
        )
        .select("event_type", "user_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    a = du.select(
        F.col("event_type").alias("type_a"), F.col("user_id").alias("u")
    )
    b = du.select(
        F.col("event_type").alias("type_b"), F.col("user_id").alias("u")
    )
    ex = (
        a.join(b, "u")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    per_type = du.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", _RSD).alias("est_t"),
    )
    pairs = ex.select("type_a", "type_b")
    un = (
        du.join(
            F.broadcast(pairs),
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(
            F.approx_count_distinct("user_id", _RSD).alias("est_u"),
            F.count_distinct("user_id").alias("exact_union"),
        )
    )
    ea = per_type.select(
        F.col("event_type").alias("type_a"), F.col("est_t").alias("est_a")
    )
    eb = per_type.select(
        F.col("event_type").alias("type_b"), F.col("est_t").alias("est_b")
    )
    est_inter = F.col("est_a") + F.col("est_b") - F.col("est_u")
    ok = (
        F.abs(est_inter - F.col("exact_overlap"))
        <= _OVERLAP_K * _RSD * F.col("exact_union") + 2
    )
    return (
        ex.join(un, ["type_a", "type_b"])
        .join(F.broadcast(ea), "type_a")
        .join(F.broadcast(eb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("exact_overlap").cast("long").alias("exact_overlap"),
            F.col("exact_union").cast("long").alias("exact_union"),
            ok.alias("sketch_within_bound"),
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------
# Hill tail-index estimator
# --------------------------------------------------------------------

_HILL_TOPK = 100


@_register(
    "hill_tail_index",
    oracle=f"""
    WITH v AS (
      SELECT CASE WHEN NOT isfinite(o_totalprice) THEN NULL
                  ELSE o_totalprice END AS x
      FROM orders
    ), pos AS (
      SELECT x FROM v WHERE x IS NOT NULL AND x > 0
    ), top AS (
      SELECT x FROM pos ORDER BY x DESC LIMIT {_HILL_TOPK + 1}
    ), thr AS (
      SELECT MIN(x) AS threshold, CAST(COUNT(*) AS BIGINT) AS n_top
      FROM top
    ), exceed AS (
      SELECT t.x, thr.threshold FROM top t CROSS JOIN thr
      WHERE t.x > thr.threshold
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_exceed,
             AVG(ln(x / threshold)) AS hill_inv
      FROM exceed
    ), n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_values FROM pos
    )
    SELECT n.n_values, thr.n_top, s.n_exceed,
           ROUND(thr.threshold, 6) AS threshold,
           CASE WHEN s.n_exceed > 0
                THEN ROUND(s.hill_inv, 6) END AS hill_inv,
           CASE WHEN s.hill_inv > 0
                THEN ROUND(1.0 / s.hill_inv, 6) END AS tail_alpha
    FROM stats s CROSS JOIN thr CROSS JOIN n
    """,
    tags=("stats", "risk", "topk"),
    doc=f"Hill tail-index over order totals: threshold = the "
    f"{_HILL_TOPK + 1}-th largest value, Hill estimator = mean "
    "ln(x/threshold) over the exceedances, tail alpha = its inverse "
    "— the extreme-value diagnostic that says whether the value "
    "distribution is power-law-tailed (alpha <= 2: variance is "
    "INFINITE and every mean-based monitor is unstable) or "
    "well-behaved, which is exactly the number that decides if "
    "percentile monitors (hourly_p95_by_type) can be trusted.  The "
    "top-(k+1) frame is a TakeOrdered limit (never a global sort or "
    "single-task window); everything after is a <=101-row frame.  "
    "Tie-safe by construction: only the top frame's VALUE multiset "
    "is used (threshold + exceedances strictly above it), so "
    "arbitrary tie-breaking at the boundary cannot change the "
    "answer.  Non-finite money masks to NULL per the engine-wide "
    "contract.",
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos = (
        _t(spark, sf_dir, "orders")
        .select(nan_nn("o_totalprice").alias("x"))
        .filter(F.col("x").isNotNull() & (F.col("x") > 0))
    )
    top = pos.orderBy(F.desc("x")).limit(_HILL_TOPK + 1)
    thr = top.agg(
        F.min("x").alias("threshold"),
        F.count(F.lit(1)).alias("n_top"),
    )
    exceed = top.crossJoin(F.broadcast(thr)).filter(
        F.col("x") > F.col("threshold")
    )
    stats = exceed.agg(
        F.count(F.lit(1)).alias("n_exceed"),
        F.avg(F.log(F.col("x") / F.col("threshold"))).alias("hill_inv"),
    )
    n = pos.agg(F.count(F.lit(1)).alias("n_values"))
    return (
        stats.crossJoin(F.broadcast(thr))
        .crossJoin(F.broadcast(n))
        .select(
            "n_values",
            "n_top",
            "n_exceed",
            _r6(F.col("threshold")).alias("threshold"),
            F.when(F.col("n_exceed") > 0, _r6(F.col("hill_inv"))).alias(
                "hill_inv"
            ),
            F.when(
                F.col("hill_inv") > 0, _r6(1.0 / F.col("hill_inv"))
            ).alias("tail_alpha"),
        )
    )


# ---------------------------------------------------------------------------
# 4. freshness-decay sampling weights (exact dyadic)

_DECAY_BUCKET_DAYS = 30
_DECAY_MAX_BUCKET = 20


@_register(
    "freshness_decay_weights",
    oracle=f"""
    WITH cut AS (
      SELECT MAX(o_orderdate) AS max_d FROM orders
    ), base AS (
      SELECT o_orderpriority,
             CASE WHEN o_orderdate IS NULL THEN NULL
                  ELSE least(date_diff('day', o_orderdate, cut.max_d)
                             // {_DECAY_BUCKET_DAYS}, {_DECAY_MAX_BUCKET})
             END AS bucket,
             CASE WHEN o_orderdate IS NULL THEN NULL
                  ELSE date_diff('day', o_orderdate, cut.max_d) END AS age_d
      FROM orders CROSS JOIN cut
    ), w AS (
      SELECT o_orderpriority, age_d,
             CASE WHEN bucket IS NULL THEN NULL
                  ELSE power(2.0, -bucket) END AS wt
      FROM base
    ), agg AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(wt) AS sum_w,
             CAST(SUM(age_d) AS BIGINT) AS sum_age
      FROM w GROUP BY o_orderpriority
    )
    SELECT o_orderpriority,
           n_orders,
           ROUND(sum_w, 6) AS sum_weight,
           ROUND(sum_w / nullif(SUM(sum_w) OVER (), 0), 6) AS weight_share,
           ROUND(sum_age * 1.0 / nullif(n_orders, 0), 6) AS mean_age_days
    FROM agg ORDER BY o_orderpriority
    """,
    tags=("curation", "agg"),
    doc=f"Freshness-decay sampling weights: each order's weight halves "
    f"every {_DECAY_BUCKET_DAYS} days of age (bucketed integer age, "
    f"capped at bucket {_DECAY_MAX_BUCKET}), reported per priority "
    "class with each class's share of total weight — the recency "
    "prior a training-data sampler applies so stale data doesn't "
    "dominate by volume.  The weights are EXACT DYADIC (2^-bucket "
    "with bucket <= 20): every partial sum spans < 53 bits of "
    "exponent, so the float sums are bit-identical under ANY "
    "partition/summation order — the same reproducibility posture "
    "as the exact-integer money path, applied to float weights by "
    "CONSTRUCTION instead of by widening.  Scale shape: one scalar "
    "max (1-row broadcast), one scan projection, one |priorities| "
    "aggregate; the share window runs on the 5-row aggregate frame.",
)
def q_freshness_decay_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select("o_orderpriority", "o_orderdate")
    cut = o.agg(F.max("o_orderdate").alias("max_d"))
    age = F.datediff(F.col("max_d"), F.col("o_orderdate"))
    bucket = F.least(
        F.floor(age / _DECAY_BUCKET_DAYS), F.lit(_DECAY_MAX_BUCKET)
    )
    base = o.crossJoin(F.broadcast(cut)).select(
        "o_orderpriority",
        age.alias("age_d"),
        F.when(F.col("o_orderdate").isNotNull(), F.pow(F.lit(2.0), -bucket))
        .alias("wt"),
    )
    agg = base.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("wt").alias("sum_w"),
        F.sum("age_d").cast("bigint").alias("sum_age"),
    )
    # the share window runs over the |priorities|-row AGGREGATE frame
    # (metadata-sized — 5 rows — not the orders table)
    total = F.sum("sum_w").over(Window.partitionBy())
    return agg.select(
        "o_orderpriority",
        "n_orders",
        _r6(F.col("sum_w")).alias("sum_weight"),
        _r6(F.col("sum_w") / F.nullif(total, F.lit(0.0))).alias(
            "weight_share"
        ),
        _r6(
            F.col("sum_age") * 1.0 / F.nullif(F.col("n_orders"), F.lit(0))
        ).alias("mean_age_days"),
    ).orderBy("o_orderpriority")


_LIFT_K = 10
_LIFT_HOLDOUT_DAYS = 90


@_register(
    "score_decile_lift",
    oracle=f"""
    WITH cut AS (
      SELECT MAX(o_orderdate) - INTERVAL '{_LIFT_HOLDOUT_DAYS}' DAY
               AS cutoff FROM orders
    ), resp AS (
      SELECT DISTINCT o_custkey AS c FROM orders CROSS JOIN cut
      WHERE o_orderdate >= cut.cutoff
    ), scored AS (
      SELECT cu.c_custkey,
             CASE WHEN r.c IS NOT NULL THEN 1 ELSE 0 END AS responded,
             NTILE({_LIFT_K}) OVER (
               ORDER BY cu.c_acctbal DESC, cu.c_custkey) AS decile
      FROM customer cu LEFT JOIN resp r ON cu.c_custkey = r.c
    ), agg AS (
      SELECT decile,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(responded) AS BIGINT) AS n_responders
      FROM scored GROUP BY decile
    ), cum AS (
      SELECT decile, n_customers, n_responders,
             SUM(n_customers) OVER (ORDER BY decile) AS cum_c,
             SUM(n_responders) OVER (ORDER BY decile) AS cum_r,
             SUM(n_customers) OVER () AS tot_c,
             SUM(n_responders) OVER () AS tot_r
      FROM agg
    )
    SELECT CAST(decile AS INT) AS decile, n_customers, n_responders,
           ROUND(n_responders * 1.0 / nullif(n_customers, 0), 6)
             AS response_rate,
           ROUND(cum_r * tot_c * 1.0 / nullif(cum_c * tot_r, 0), 6)
             AS cum_lift
    FROM cum ORDER BY decile
    """,
    tags=("ml", "evaluation"),
    doc=f"Decile lift table — the campaign-targeting companion to "
    "score_auc_rank: customers ranked by account balance (stand-in "
    f"model score, ties broken on key), cut into {_LIFT_K} deciles "
    "via the CLOSED-FORM ntile over the range-partitioned global "
    f"rank (never a single NTILE window task), responders = bought "
    f"within {_LIFT_HOLDOUT_DAYS} days of the data's max date; per "
    "decile the response rate and cumulative lift vs the base rate.  "
    "cum_lift is computed as a ratio of exact INTEGER products "
    "(cum_r*tot_c)/(cum_c*tot_r) — one correctly-rounded divide, no "
    "float accumulation.  The cumulative window runs on the 10-row "
    "decile aggregate (metadata-sized).",
)
def q_score_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_spark.operators.rank import (
        ntile_from_rank,
        with_global_rank,
    )

    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    cu = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    cut = o.agg(
        (
            F.max("o_orderdate") - F.expr(f"INTERVAL {_LIFT_HOLDOUT_DAYS} DAYS")
        ).alias("cutoff")
    )
    resp = (
        o.crossJoin(F.broadcast(cut))
        .filter(F.col("o_orderdate") >= F.col("cutoff"))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("__resp", F.lit(1))
    )
    scored = cu.join(resp, "c_custkey", "left").select(
        "c_custkey",
        "c_acctbal",
        F.coalesce("__resp", F.lit(0)).alias("responded"),
    )
    ranked = with_global_rank(
        scored, "-c_acctbal", "c_custkey", rank_col="__rnk"
    )
    total = ranked.agg(F.count(F.lit(1)).cast("long").alias("__tot"))
    decd = ranked.crossJoin(F.broadcast(total)).select(
        "responded",
        ntile_from_rank(F.col("__rnk"), F.col("__tot"), _LIFT_K).alias(
            "decile"
        ),
    )
    agg = decd.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("responded").cast("bigint").alias("n_responders"),
    )
    # cumulative/total windows run on the 10-row decile frame
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = agg.select(
        "decile",
        "n_customers",
        "n_responders",
        F.sum("n_customers").over(wcum).alias("cum_c"),
        F.sum("n_responders").over(wcum).alias("cum_r"),
        F.sum("n_customers").over(wall).alias("tot_c"),
        F.sum("n_responders").over(wall).alias("tot_r"),
    )
    return cum.select(
        F.col("decile").cast("int").alias("decile"),
        "n_customers",
        "n_responders",
        _r6(
            F.col("n_responders") * 1.0 / F.nullif(F.col("n_customers"), F.lit(0))
        ).alias("response_rate"),
        _r6(
            F.col("cum_r") * F.col("tot_c") * 1.0
            / F.nullif(F.col("cum_c") * F.col("tot_r"), F.lit(0))
        ).alias("cum_lift"),
    ).orderBy("decile")

"""Time-series queries over the OHLCV stand-in: hourly and daily bars
from `events`, the technical indicators (SMA/EMA/MACD, RSI, Bollinger,
ATR and the Wilder family), the indicator panel, cross-series
statistics, risk and drawdown metrics, robust trends, state-space
filters, seasonal decomposition, DTW/SAX and burst detection.

`events` is the OHLCV stand-in (FIXTURES.md F6): partition = user_id
<-> symbol, order = ts <-> timestamp, measure = value <-> close.
Kernels that need the full OHLCV shape run over pseudo-bars from the
hourly resample (`_hourly_bars` / `_BARS_CTE`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stockpulse_spark.functions.ema import add_macd_auto
from stockpulse_spark.functions.nullsafe import corr_nn, max_by_nn, min_by_nn, nan_nn
from stockpulse_spark.plans.registry import _r4, _r6, _register, _t


# ---------------------------------------------------------------------------
# pseudo-OHLCV bars from `events` (shared by the indicator queries)
#
# (user_id, ts) is unique in the testdata, so min_by/max_by over ts is
# deterministic. One shuffle on (user_id, hour-bucket); at scale this is
# the same tumbling-window agg used by the streaming path.

_BARS_CTE = """
WITH bars AS (
  -- HAVING: an hour with no non-NULL price forms no bar (arg_max
  -- skips NULLs, so close IS NULL <=> every value in the bucket was
  -- NULL); a NULL bar inside a recursive kernel (EMA/MACD) would
  -- poison the rest of the series in one engine and not the other.
  -- NaN ticks are sensor garbage, not trades: masked like NULL at
  -- the bar boundary (DuckDB's stddev RAISES on NaN input while
  -- Spark returns NaN, so a NaN entering any bar would shear every
  -- downstream moment aggregate between engines).
  SELECT
    user_id,
    date_trunc('hour', ts) AS bucket_start,
    first(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value))     AS open,
    max(value) FILTER (WHERE isfinite(value))             AS high,
    min(value) FILTER (WHERE isfinite(value))             AS low,
    last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value))     AS close,
    count(*)               AS volume
  FROM events
  GROUP BY user_id, date_trunc('hour', ts)
  HAVING last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) IS NOT NULL
)
"""


def _hourly_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NaN mask projected ONCE before the groupBy: inlining nan_nn into
    # each of the four aggregates re-evaluates the CASE per aggregate
    # per row on the SortAggregate path (struct-keyed min_by/max_by),
    # measured +20-30% on the bar pass at sf0.1 (round-6 regression).
    ev = _t(spark, sf_dir, "events").withColumn("__v", nan_nn("value"))
    return (
        ev.groupBy(
            "user_id", F.date_trunc("hour", F.col("ts")).alias("bucket_start")
        )
        .agg(
            min_by_nn("__v", "ts").alias("open"),
            F.max("__v").alias("high"),
            F.min("__v").alias("low"),
            max_by_nn("__v", "ts").alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
        # mirror the oracle's HAVING: no bar for an all-NULL hour
        .filter(F.col("close").isNotNull())
    )


@_register(
    "ohlcv_hourly",
    oracle=_BARS_CTE
    + """
    SELECT user_id, bucket_start,
           ROUND(open, 6) AS open, ROUND(high, 6) AS high,
           ROUND(low, 6) AS low, ROUND(close, 6) AS close, volume
    FROM bars
    ORDER BY user_id, bucket_start
    """,
    headline=True,
    tags=("agg", "resample"),
    doc="reference A10/T6 (docs/preprocessing.md:19-33): tumbling-window "
    "OHLCV resample; deterministic open/close via min_by/max_by on ts. "
    "Same expression is streaming-valid with a watermark.",
)
def q_ohlcv_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir)
    return bars.select(
        "user_id",
        "bucket_start",
        _r6(F.col("open")).alias("open"),
        _r6(F.col("high")).alias("high"),
        _r6(F.col("low")).alias("low"),
        _r6(F.col("close")).alias("close"),
        "volume",
    ).orderBy("user_id", "bucket_start")


@_register(
    "ohlcv_daily",
    oracle="""
    SELECT user_id,
           CAST(ts AS DATE)   AS date,
           ROUND(first(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)), 6) AS open,
           ROUND(max(value), 6)         AS high,
           ROUND(min(value), 6)         AS low,
           ROUND(last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)), 6) AS close,
           count(*)                     AS volume
    FROM events
    GROUP BY user_id, CAST(ts AS DATE)
    ORDER BY user_id, date
    """,
    tags=("agg", "resample"),
    doc="daily variant of the OHLCV resample (5min→1D in the reference).",
)
def q_ohlcv_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.to_date("ts").alias("date"))
        .agg(
            _r6(min_by_nn(nan_nn("value"), "ts")).alias("open"),
            _r6(F.max("value")).alias("high"),
            _r6(F.min("value")).alias("low"),
            _r6(max_by_nn(nan_nn("value"), "ts")).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
        .orderBy("user_id", "date")
    )


# ===========================================================================
# Window / analytic surface — the heart of the reference (W2-W13)
# ===========================================================================


@_register(
    "ma5_cma",
    oracle="""
    SELECT event_id, user_id, ts, value,
           ROUND(AVG(value) OVER (
             PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS moving_average,
           ROUND(AVG(value) OVER (
             PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cumulative_average
    FROM events
    """,
    headline=True,
    tags=("window",),
    doc="reference W2+W3 (data_preprocessor.py:63-70): per-(series,day) "
    "5-row rolling mean (min_periods=1) + cumulative mean — the "
    "producer-side derived columns. Both windows share one exchange.",
)
def q_ma5_cma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy("ts")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        _r6(F.avg("value").over(w.rowsBetween(-4, 0))).alias("moving_average"),
        _r6(
            F.avg("value").over(w.rowsBetween(Window.unboundedPreceding, 0))
        ).alias("cumulative_average"),
    )


@_register(
    "eod_ma5_join",
    oracle="""
    WITH eod AS (
      SELECT user_id, CAST(ts AS DATE) AS date, last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) AS eod_close
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), eod_ma AS (
      SELECT user_id, date,
             AVG(eod_close) OVER (
               PARTITION BY user_id ORDER BY date
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS eod_ma5
      FROM eod
    )
    SELECT e.event_id, e.user_id, e.ts, e.value, ROUND(m.eod_ma5, 6) AS eod_ma5
    FROM events e
    LEFT JOIN eod_ma m ON e.user_id = m.user_id AND CAST(e.ts AS DATE) = m.date
    """,
    tags=("window", "join"),
    doc="reference W4+A5+J1 (preprocessing_pipeline.py:163-174): EOD "
    "close per day → 5-day rolling mean → broadcast-joined back onto "
    "every intraday row.",
)
def q_eod_ma5_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn("date", F.to_date("ts"))
    eod = ev.groupBy("user_id", "date").agg(
        max_by_nn(nan_nn("value"), "ts").alias("eod_close")
    )
    w = Window.partitionBy("user_id").orderBy("date").rowsBetween(-4, 0)
    eod_ma = eod.select(
        "user_id", "date", F.avg("eod_close").over(w).alias("eod_ma5")
    )
    return (
        ev.join(F.broadcast(eod_ma), ["user_id", "date"], "left")
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            _r6(F.col("eod_ma5")).alias("eod_ma5"),
        )
    )


# ---------------------------------------------------------------------------
# Indicator query registrations (reference W5-W13) over pseudo-OHLCV
# bars derived from `events` (FIXTURES.md F6 mapping).
#
# Semantics pinned to the reference's pandas formulas (SURVEY §4 ledger):
# strict min_periods (NULL until the frame is full), sample std, SMA of
# clipped deltas for RSI (not Wilder), recursive EMA for MACD.
#
# Division-by-zero: Spark doubles follow IEEE (x/0 → ±Inf) while DuckDB
# returns NULL — every potentially-zero denominator is guarded with an
# explicit CASE on BOTH sides so the engines agree.


_W = "PARTITION BY user_id ORDER BY bucket_start"


@_register(
    "bollinger20",
    oracle=_BARS_CTE
    + f"""
    , b AS (
      SELECT user_id, bucket_start, close,
             CASE WHEN COUNT(close) OVER w >= 20 THEN AVG(close) OVER w END AS mid,
             CASE WHEN COUNT(close) OVER w >= 20 THEN STDDEV_SAMP(close) OVER w END AS sd
      FROM bars
      WINDOW w AS ({_W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, bucket_start, ROUND(close, 6) AS close,
           ROUND(mid, 6) AS bb_mid,
           ROUND(mid + 2 * sd, 6) AS bb_upper,
           ROUND(mid - 2 * sd, 6) AS bb_lower
    FROM b
    """,
    headline=True,
    tags=("window", "indicator"),
    doc="reference W5 (app/dashboard.py:97-101): SMA20 ± 2·rolling "
    "sample std, strict pandas min_periods (NULL until 20 rows).",
)
def q_bollinger20(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("bucket_start").rowsBetween(-19, 0)
    # two-select shape (functions/indicators.py convention): repeating
    # mid/sd inline puts 10 window-function instances in the Window
    # node (Catalyst does NOT dedup identical window expressions);
    # naming them first computes 3
    b = bars.select(
        "user_id",
        "bucket_start",
        "close",
        F.count("close").over(w).alias("__n"),
        F.avg("close").over(w).alias("__avg"),
        F.stddev_samp("close").over(w).alias("__sd"),
    )
    mid = F.when(F.col("__n") >= 20, F.col("__avg"))
    sd = F.when(F.col("__n") >= 20, F.col("__sd"))
    return b.select(
        "user_id",
        "bucket_start",
        _r6(F.col("close")).alias("close"),
        _r6(mid).alias("bb_mid"),
        _r6(mid + 2 * sd).alias("bb_upper"),
        _r6(mid - 2 * sd).alias("bb_lower"),
    )


@_register(
    "sma_50_200",
    oracle=_BARS_CTE
    + f"""
    SELECT user_id, bucket_start, ROUND(close, 6) AS close,
           ROUND(CASE WHEN COUNT(close) OVER w50 >= 50 THEN AVG(close) OVER w50 END, 6) AS sma50,
           ROUND(CASE WHEN COUNT(close) OVER w200 >= 200 THEN AVG(close) OVER w200 END, 6) AS sma200
    FROM bars
    WINDOW w50 AS ({_W} ROWS BETWEEN 49 PRECEDING AND CURRENT ROW),
           w200 AS ({_W} ROWS BETWEEN 199 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "indicator"),
    doc="reference W6 (app/dashboard.py:104-105): SMA50/SMA200, strict "
    "min_periods. Both frames share one window exchange.",
)
def q_sma_50_200(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir)
    base = Window.partitionBy("user_id").orderBy("bucket_start")
    out = [("sma50", 50), ("sma200", 200)]
    cols = [
        "user_id",
        "bucket_start",
        _r6(F.col("close")).alias("close"),
    ]
    for name, n in out:
        w = base.rowsBetween(-(n - 1), 0)
        cols.append(
            _r6(
                F.when(F.count("close").over(w) >= n, F.avg("close").over(w))
            ).alias(name)
        )
    return bars.select(*cols)


@_register(
    "rsi14",
    oracle=_BARS_CTE
    + f"""
    , d AS (
      SELECT user_id, bucket_start, close,
             close - lag(close) OVER ({_W}) AS delta
      FROM bars
    ), g AS (
      -- greatest() ignores the NULL first delta (= pandas .where(delta>0, 0)
      -- mapping NaN→0), so the clipped series is never null: count it,
      -- not the deltas, for the min_periods guard.
      SELECT user_id, bucket_start, close,
             CASE WHEN COUNT(greatest(delta, 0.0)) OVER w >= 14 THEN AVG(greatest(delta, 0.0)) OVER w END AS ag,
             CASE WHEN COUNT(greatest(-delta, 0.0)) OVER w >= 14 THEN AVG(greatest(-delta, 0.0)) OVER w END AS al
      FROM d
      WINDOW w AS ({_W} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, bucket_start, ROUND(close, 6) AS close,
           ROUND(CASE WHEN al = 0 AND ag = 0 THEN NULL
                      WHEN al = 0 THEN 100.0
                      ELSE 100.0 - 100.0 / (1.0 + ag / al) END, 6) AS rsi14
    FROM g
    """,
    headline=True,
    tags=("window", "indicator"),
    doc="reference W7 (app/dashboard.py:107-112): RSI from SMA of "
    "clipped deltas (the reference's variant, not Wilder smoothing). "
    "al=0 guarded: Spark IEEE Inf vs DuckDB NULL would diverge.",
)
def q_rsi14(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir)
    wb = Window.partitionBy("user_id").orderBy("bucket_start")
    w = wb.rowsBetween(-13, 0)
    delta = F.col("close") - F.lag("close", 1).over(wb)
    bars = bars.select("user_id", "bucket_start", "close", delta.alias("delta"))
    gain = F.greatest(F.col("delta"), F.lit(0.0))
    loss = F.greatest(-F.col("delta"), F.lit(0.0))
    # two-select shape: the count guard is named ONCE — embedding
    # `full` in both averages put two identical count windows in the
    # Window node (Catalyst does not dedup window expressions; the
    # round-8 de-blinded sweep caught this one)
    bars = bars.select(
        "user_id",
        "bucket_start",
        "close",
        F.count(gain).over(w).alias("__n"),
        F.avg(gain).over(w).alias("__ag"),
        F.avg(loss).over(w).alias("__al"),
    )
    full = F.col("__n") >= 14
    ag = F.when(full, F.col("__ag"))
    al = F.when(full, F.col("__al"))
    bars = bars.select("user_id", "bucket_start", "close", ag.alias("ag"), al.alias("al"))
    rsi = (
        F.when((F.col("al") == 0) & (F.col("ag") == 0), F.lit(None))
        .when(F.col("al") == 0, F.lit(100.0))
        .otherwise(100.0 - 100.0 / (1.0 + F.col("ag") / F.col("al")))
    )
    return bars.select(
        "user_id",
        "bucket_start",
        _r6(F.col("close")).alias("close"),
        _r6(rsi).alias("rsi14"),
    )


@_register(
    "atr14",
    oracle=_BARS_CTE
    + f"""
    , t AS (
      SELECT user_id, bucket_start,
             greatest(high - low,
                      abs(high - lag(close) OVER ({_W})),
                      abs(low  - lag(close) OVER ({_W}))) AS tr
      FROM bars
    )
    SELECT user_id, bucket_start,
           ROUND(CASE WHEN COUNT(tr) OVER w >= 14 THEN AVG(tr) OVER w END, 6) AS atr14
    FROM t
    WINDOW w AS ({_W} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "indicator"),
    doc="reference W9 (app/dashboard.py:120-126): true range via "
    "greatest (NULL-ignoring in both engines, = pandas max skipna), "
    "then strict rolling mean.",
)
def q_atr14(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir)
    wb = Window.partitionBy("user_id").orderBy("bucket_start")
    pc = F.lag("close", 1).over(wb)
    tr = F.greatest(
        F.col("high") - F.col("low"),
        F.abs(F.col("high") - pc),
        F.abs(F.col("low") - pc),
    )
    t = bars.select("user_id", "bucket_start", tr.alias("tr"))
    w = wb.rowsBetween(-13, 0)
    atr = F.when(F.count("tr").over(w) >= 14, F.avg("tr").over(w))
    return t.select("user_id", "bucket_start", _r6(atr).alias("atr14"))


@_register(
    "stochastic_14_3",
    oracle=_BARS_CTE
    + f"""
    , k AS (
      SELECT user_id, bucket_start,
             CASE WHEN COUNT(low) OVER w >= 14 AND (MAX(high) OVER w) != (MIN(low) OVER w)
                  THEN 100.0 * (close - MIN(low) OVER w) / (MAX(high) OVER w - MIN(low) OVER w)
             END AS stoch_k
      FROM bars
      WINDOW w AS ({_W} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, bucket_start, ROUND(stoch_k, 6) AS stoch_k,
           ROUND(CASE WHEN COUNT(stoch_k) OVER w3 >= 3 THEN AVG(stoch_k) OVER w3 END, 6) AS stoch_d
    FROM k
    WINDOW w3 AS ({_W} ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "indicator"),
    doc="reference W10 (app/dashboard.py:128-132): stochastic %K/%D, "
    "hi==lo guarded (0/0: Spark NaN vs DuckDB NULL).",
)
def q_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir)
    wb = Window.partitionBy("user_id").orderBy("bucket_start")
    w = wb.rowsBetween(-13, 0)
    # two-select shape (see williams_r): LL/HH each appear 2-3x in
    # the %K formula; naming them computes 3 frame aggregates not 6
    b = bars.select(
        "user_id",
        "bucket_start",
        "close",
        F.count("low").over(w).alias("__n"),
        F.min("low").over(w).alias("__lo"),
        F.max("high").over(w).alias("__hi"),
    )
    lo, hi = F.col("__lo"), F.col("__hi")
    k = F.when(
        (F.col("__n") >= 14) & (hi != lo),
        100.0 * (F.col("close") - lo) / (hi - lo),
    )
    kd = b.select("user_id", "bucket_start", k.alias("stoch_k"))
    w3 = wb.rowsBetween(-2, 0)
    d = F.when(F.count("stoch_k").over(w3) >= 3, F.avg("stoch_k").over(w3))
    return kd.select(
        "user_id",
        "bucket_start",
        _r6(F.col("stoch_k")).alias("stoch_k"),
        _r6(d).alias("stoch_d"),
    )


@_register(
    "roc_momentum",
    oracle=_BARS_CTE
    + f"""
    SELECT user_id, bucket_start, ROUND(close, 6) AS close,
           ROUND(100.0 * (close - lag(close, 10) OVER ({_W})) / lag(close, 10) OVER ({_W}), 6) AS roc10,
           ROUND(close - lag(close, 10) OVER ({_W}), 6) AS momentum10
    FROM bars
    """,
    tags=("window", "indicator"),
    doc="reference W11 (app/dashboard.py:502-504): pct_change(10)·100 "
    "and close − close.shift(10). value > 0 in the data so the lag "
    "denominator needs no zero guard.",
)
def q_roc_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir)
    wb = Window.partitionBy("user_id").orderBy("bucket_start")
    # two-select shape: one lag evaluation instead of three
    b = bars.select(
        "user_id",
        "bucket_start",
        "close",
        F.lag("close", 10).over(wb).alias("__prev"),
    )
    prev = F.col("__prev")
    return b.select(
        "user_id",
        "bucket_start",
        _r6(F.col("close")).alias("close"),
        # try_divide: sf0.1 contains value=0 rows; ANSI Spark throws on
        # /0 while DuckDB yields NULL — try_divide matches the oracle
        _r6(F.try_divide(100.0 * (F.col("close") - prev), prev)).alias("roc10"),
        _r6(F.col("close") - prev).alias("momentum10"),
    )


@_register(
    "vwap",
    oracle=_BARS_CTE
    + f"""
    SELECT user_id, bucket_start,
           -- FILTER mirrors Spark SUM's NULL-skipping: an all-NULL
           -- bucket's close would otherwise poison the whole fold
           -- (NULL + acc) while Spark's SUM just skips it
           ROUND(CASE WHEN COUNT(close) OVER w > 0 THEN
                   list_reduce(list(close * volume)
                                 FILTER (close IS NOT NULL) OVER w,
                               (acc, e) -> acc + e)
                   / (SUM(volume) OVER w) END, 6) AS vwap
    FROM bars
    WINDOW w AS ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "indicator"),
    doc="reference W12 (app/dashboard.py:377): cumulative "
    "Σ(price·vol)/Σ(vol). volume ≥ 1 by construction, no zero guard.",
)
def q_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    vwap = F.sum(F.col("close") * F.col("volume")).over(w) / F.sum("volume").over(w)
    return bars.select("user_id", "bucket_start", _r6(vwap).alias("vwap"))


@_register(
    "returns_volatility",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS date, last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) AS close
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), r AS (
      SELECT user_id, date, close,
             100.0 * (close - lag(close) OVER w0) / lag(close) OVER w0 AS daily_return
      FROM daily
      WINDOW w0 AS (PARTITION BY user_id ORDER BY date)
    )
    SELECT user_id, date, ROUND(close, 6) AS close,
           ROUND(daily_return, 6) AS daily_return,
           ROUND(CASE WHEN COUNT(daily_return) OVER w20 >= 20
                      THEN STDDEV_SAMP(daily_return) OVER w20 END, 6) AS volatility20
    FROM r
    WINDOW w20 AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "indicator"),
    doc="reference W13 (docs/preprocessing.md:48-64): daily returns + "
    "20-day rolling sample-std volatility on EOD closes.",
)
def q_returns_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("date")).agg(
        max_by_nn(nan_nn("value"), "ts").alias("close")
    )
    w0 = Window.partitionBy("user_id").orderBy("date")
    prev = F.lag("close", 1).over(w0)
    r = daily.select(
        "user_id",
        "date",
        "close",
        F.try_divide(100.0 * (F.col("close") - prev), prev).alias("daily_return"),
    )
    w20 = w0.rowsBetween(-19, 0)
    vol = F.when(
        F.count("daily_return").over(w20) >= 20,
        F.stddev_samp("daily_return").over(w20),
    )
    return r.select(
        "user_id",
        "date",
        _r6(F.col("close")).alias("close"),
        _r6(F.col("daily_return")).alias("daily_return"),
        _r6(vol).alias("volatility20"),
    )


# EMA lambda: pandas ewm(adjust=False) recursion y_t=(1-a)y_{t-1}+a·x_t,
# y_0=x_0 — DuckDB list_reduce uses the first element as the seed, which
# is exactly y_0=x_0. O(n²) per series, acceptable at oracle scale.
def _ema_reduce(expr: str, span: int) -> str:
    return (
        f"list_reduce(list({expr}) OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING "
        f"AND CURRENT ROW), (acc, e) -> acc * (1.0 - 2.0/{span + 1}.0) + e * (2.0/{span + 1}.0))"
    )


_MACD_ORACLE = (
    _BARS_CTE
    + f"""
    , m AS (
      SELECT user_id, bucket_start, close,
             {_ema_reduce('close', 12)} - {_ema_reduce('close', 26)} AS macd
      FROM bars
    )
    SELECT user_id, bucket_start, ROUND(close, 6) AS close,
           ROUND(macd, 6) AS macd,
           ROUND({_ema_reduce('macd', 9)}, 6) AS macd_signal
    FROM m
    """
)


def _macd_query(spark: SparkSession, sf_dir: str, series_bound) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir).select("user_id", "bucket_start", "close")
    out = add_macd_auto(
        bars,
        partition_cols=["user_id"],
        order_cols=["bucket_start"],
        value_col="close",
        series_bound=series_bound,
    )
    return out.select(
        "user_id",
        "bucket_start",
        _r6(F.col("close")).alias("close"),
        _r6(F.col("macd")).alias("macd"),
        _r6(F.col("macd_signal")).alias("macd_signal"),
    )


@_register(
    "macd_12_26_9",
    oracle=_MACD_ORACLE,
    headline=True,
    tags=("window", "indicator", "udf"),
    doc="reference W8 (app/dashboard.py:114-118): MACD via recursive "
    "EMA through the scale-safe dispatch (functions/ema.py:"
    "add_macd_auto) with a STATIC series bound read from parquet "
    "footer statistics (sources/tables.py:hour_span_bound): series "
    "are keyed (user, hour), so max length ≤ hour buckets in the "
    "dataset's ts span — one metadata fetch, zero Spark jobs, no "
    "probe aggregation in the benched path. Bounded series (≤10k "
    "points) run the JVM `aggregate` fold; past the bound the linear "
    "Arrow kernel runs. Falls back to the probe when footers carry no "
    "stats. Oracle folds the identical adjust=False recursion with "
    "DuckDB list_reduce; the probe path keeps its own oracle row "
    "(macd_probed_dispatch) and the dispatch is plan-pinned by "
    "tests/test_plan_shapes.py.",
)
def q_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_spark.sources.tables import hour_span_bound

    return _macd_query(spark, sf_dir, series_bound=hour_span_bound(sf_dir))


@_register(
    "macd_probed_dispatch",
    oracle=_MACD_ORACLE,
    tags=("window", "indicator", "udf"),
    doc="the library-default MACD path (series_bound=None): one cheap "
    "count-agg probes the true max per-series length over the "
    "localCheckpointed bars, then dispatches fold vs kernel. "
    "Registered separately so the probed path keeps a green oracle "
    "row while the benched macd_12_26_9 uses the footer-derived "
    "static bound.",
)
def q_macd_probed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _macd_query(spark, sf_dir, series_bound=None)


@_register(
    "macd_intraday_hof",
    oracle=_MACD_ORACLE,
    tags=("window", "indicator"),
    doc="same MACD semantics with an asserted bound and no probe: the "
    "caller guarantees per-series length ≤ HOF_SERIES_BOUND (hourly "
    "bars over a ≤13-month retention window ≈ 9.5k points), so "
    "add_macd_auto picks the JVM-side `aggregate` fold directly "
    "(functions/ema.py:add_macd_hof) — no Python, no probe job.",
)
def q_macd_intraday_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _macd_query(spark, sf_dir, series_bound=9_600)


@_register(
    "macd_unbounded_kernel",
    oracle=_MACD_ORACLE,
    tags=("window", "indicator", "udf"),
    doc="same MACD semantics through the unbounded-history path the "
    "auto dispatch takes for series longer than HOF_SERIES_BOUND: the "
    "linear Arrow applyInPandas kernel (functions/ema.py:add_macd — "
    "pandas ewm(adjust=False), O(n) per series, per-group memory = one "
    "series). Registered so the kernel path carries its own green "
    "oracle row: all three MACD paths share one oracle and must agree "
    "bit-for-bit.",
)
def q_macd_unbounded_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    return _macd_query(spark, sf_dir, series_bound=math.inf)


# ---------------------------------------------------------------------------
# The dashboard's full indicator computation as ONE query (reference
# app/dashboard.py:84-145 `calculate_technical_indicators`: the pandas
# stage that adds every indicator column before charting).
#
# This is the showcase for the expression-library design: ten indicator
# columns in one select, and because every window shares the partitioning
# (user_id ordered by bucket_start), Catalyst plans ONE exchange + sort
# for the whole panel — the pandas version walks the frame column by
# column, chart by chart.


@_register(
    "indicator_panel",
    oracle=_BARS_CTE
    + f"""
    , d AS (
      SELECT *, close - lag(close) OVER ({_W}) AS delta FROM bars
    ), p AS (
      SELECT user_id, bucket_start, close, volume,
             AVG(close) OVER w5 AS sma5,
             CASE WHEN COUNT(close) OVER w20 >= 20 THEN AVG(close) OVER w20 END AS sma20,
             CASE WHEN COUNT(close) OVER w20 >= 20 THEN STDDEV_SAMP(close) OVER w20 END AS sd20,
             CASE WHEN COUNT(greatest(delta, 0.0)) OVER w14 >= 14
                  THEN AVG(greatest(delta, 0.0)) OVER w14 END AS ag,
             CASE WHEN COUNT(greatest(-delta, 0.0)) OVER w14 >= 14
                  THEN AVG(greatest(-delta, 0.0)) OVER w14 END AS al,
             lag(close, 10) OVER ({_W}) AS close10,
             CASE WHEN COUNT(low) OVER w14 >= 14 THEN MIN(low) OVER w14 END AS lo14,
             CASE WHEN COUNT(high) OVER w14 >= 14 THEN MAX(high) OVER w14 END AS hi14,
             CASE WHEN COUNT(close) OVER wcum > 0 THEN
               list_reduce(list(close * volume)
                             FILTER (close IS NOT NULL) OVER wcum,
                           (a, b) -> a + b)
               / SUM(volume) OVER wcum END AS vwap
      FROM d
      WINDOW w5 AS ({_W} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
             w14 AS ({_W} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
             w20 AS ({_W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
             wcum AS ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, bucket_start, ROUND(close, 6) AS close,
           ROUND(sma5, 6) AS sma5,
           ROUND(sma20, 6) AS bb_mid,
           ROUND(sma20 + 2 * sd20, 6) AS bb_upper,
           ROUND(sma20 - 2 * sd20, 6) AS bb_lower,
           ROUND(CASE WHEN al = 0 AND ag = 0 THEN NULL
                      WHEN al = 0 THEN 100.0
                      ELSE 100.0 - 100.0 / (1.0 + ag / al) END, 6) AS rsi14,
           ROUND(100.0 * (close - close10) / close10, 6) AS roc10,
           ROUND(close - close10, 6) AS momentum10,
           ROUND(CASE WHEN hi14 != lo14
                      THEN 100.0 * (close - lo14) / (hi14 - lo14) END, 6) AS stoch_k,
           ROUND(vwap, 6) AS vwap
    FROM p
    """,
    headline=True,
    tags=("window", "indicator", "panel"),
    doc="the dashboard's whole indicator stage as one plan: SMA5, "
    "Bollinger(20,2), RSI(14), ROC/momentum(10), stochastic %K, "
    "cumulative VWAP — ten derived columns, ONE window exchange "
    "(asserted in test_plan_shapes).",
)
def q_indicator_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir)
    wb = Window.partitionBy("user_id").orderBy("bucket_start")
    w5, w14, w20 = wb.rowsBetween(-4, 0), wb.rowsBetween(-13, 0), wb.rowsBetween(-19, 0)
    wcum = wb.rowsBetween(Window.unboundedPreceding, 0)

    delta = F.col("close") - F.lag("close", 1).over(wb)
    d = bars.select("user_id", "bucket_start", "close", "volume", "high", "low",
                    delta.alias("delta"))

    gain = F.greatest(F.col("delta"), F.lit(0.0))
    loss = F.greatest(-F.col("delta"), F.lit(0.0))
    # two-select shape: every (function, frame) window aggregate is
    # named exactly ONCE here; the min_periods guards derive from the
    # named counts in the next projection.  Embedding the count guard
    # inside each guarded aggregate put 3 duplicated count windows in
    # the Window node (Catalyst does not dedup window expressions) —
    # caught by the round-8 de-blinded duplicate sweep.
    raw = d.select(
        "user_id",
        "bucket_start",
        "close",
        F.avg("close").over(w5).alias("sma5"),
        F.count("close").over(w20).alias("__n20"),
        F.avg("close").over(w20).alias("__sma20"),
        F.stddev_samp("close").over(w20).alias("__sd20"),
        F.count(gain).over(w14).alias("__n14d"),
        F.avg(gain).over(w14).alias("__ag"),
        F.avg(loss).over(w14).alias("__al"),
        F.count("low").over(w14).alias("__n14"),
        F.min("low").over(w14).alias("__lo14"),
        F.max("high").over(w14).alias("__hi14"),
        F.lag("close", 10).over(wb).alias("close10"),
        (F.sum(F.col("close") * F.col("volume")).over(wcum)
         / F.sum("volume").over(wcum)).alias("vwap"),
    )
    p = raw.select(
        "user_id",
        "bucket_start",
        "close",
        "sma5",
        F.when(F.col("__n20") >= 20, F.col("__sma20")).alias("sma20"),
        F.when(F.col("__n20") >= 20, F.col("__sd20")).alias("sd20"),
        F.when(F.col("__n14d") >= 14, F.col("__ag")).alias("ag"),
        F.when(F.col("__n14d") >= 14, F.col("__al")).alias("al"),
        "close10",
        F.when(F.col("__n14") >= 14, F.col("__lo14")).alias("lo14"),
        F.when(F.col("__n14") >= 14, F.col("__hi14")).alias("hi14"),
        "vwap",
    )
    rsi = (
        F.when((F.col("al") == 0) & (F.col("ag") == 0), F.lit(None))
        .when(F.col("al") == 0, F.lit(100.0))
        .otherwise(100.0 - 100.0 / (1.0 + F.col("ag") / F.col("al")))
    )
    stoch = F.when(
        F.col("hi14") != F.col("lo14"),
        100.0 * (F.col("close") - F.col("lo14")) / (F.col("hi14") - F.col("lo14")),
    )
    return p.select(
        "user_id",
        "bucket_start",
        _r6(F.col("close")).alias("close"),
        _r6(F.col("sma5")).alias("sma5"),
        _r6(F.col("sma20")).alias("bb_mid"),
        _r6(F.col("sma20") + 2 * F.col("sd20")).alias("bb_upper"),
        _r6(F.col("sma20") - 2 * F.col("sd20")).alias("bb_lower"),
        _r6(rsi).alias("rsi14"),
        _r6(
            F.try_divide(100.0 * (F.col("close") - F.col("close10")), F.col("close10"))
        ).alias("roc10"),
        _r6(F.col("close") - F.col("close10")).alias("momentum10"),
        _r6(stoch).alias("stoch_k"),
        _r6(F.col("vwap")).alias("vwap"),
    )


# ---------------------------------------------------------------------------
# Extended indicator set beyond the reference's dashboard: OBV,
# Wilder-smoothed RSI (the industry-standard recursive variant — the
# reference's SMA-based RSI stays in `rsi14`), and Williams %R. Rounds
# out what a reference user would ask for next.


@_register(
    "obv",
    oracle=_BARS_CTE
    + f"""
    , d AS (
      SELECT user_id, bucket_start, close, volume,
             CASE WHEN close > lag(close) OVER ({_W}) THEN volume
                  WHEN close < lag(close) OVER ({_W}) THEN -volume
                  ELSE 0 END AS signed_vol
      FROM bars
    )
    SELECT user_id, bucket_start,
           CAST(SUM(signed_vol) OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
    FROM d
    """,
    tags=("window", "indicator"),
    doc="On-Balance Volume: cumulative signed volume (sign of the "
    "close-to-close change). Integer arithmetic — no float "
    "reconciliation needed; one shared window exchange.",
)
def q_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir)
    wb = Window.partitionBy("user_id").orderBy("bucket_start")
    prev = F.lag("close", 1).over(wb)
    signed = (
        F.when(F.col("close") > prev, F.col("volume"))
        .when(F.col("close") < prev, -F.col("volume"))
        .otherwise(F.lit(0))
    )
    d = bars.select("user_id", "bucket_start", signed.alias("signed_vol"))
    return d.select(
        "user_id",
        "bucket_start",
        F.sum("signed_vol")
        .over(wb.rowsBetween(Window.unboundedPreceding, 0))
        .alias("obv"),
    )


def _wilder_reduce(expr: str, n: int) -> str:
    # Wilder smoothing: y_t = (y_{t-1}·(n−1) + x_t)/n, seeded with the
    # first value — same fold family as EMA with α = 1/n
    return (
        f"list_reduce(list({expr}) OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING "
        f"AND CURRENT ROW), (acc, e) -> (acc * {n - 1}.0 + e) / {n}.0)"
    )


@_register(
    "rsi_wilder",
    oracle=_BARS_CTE
    + f"""
    , d AS (
      SELECT user_id, bucket_start, close,
             greatest(close - lag(close) OVER ({_W}), 0.0) AS gain,
             greatest(lag(close) OVER ({_W}) - close, 0.0) AS loss
      FROM bars
    ), sm AS (
      SELECT user_id, bucket_start, close,
             {_wilder_reduce('gain', 14)} AS ag,
             {_wilder_reduce('loss', 14)} AS al
      FROM d
    )
    SELECT user_id, bucket_start, ROUND(close, 6) AS close,
           ROUND(CASE WHEN al = 0 AND ag = 0 THEN NULL
                      WHEN al = 0 THEN 100.0
                      ELSE 100.0 - 100.0 / (1.0 + ag / al) END, 6) AS rsi_wilder
    FROM sm
    """,
    tags=("window", "indicator", "recursive"),
    doc="Wilder-smoothed RSI(14): the industry-standard recursive "
    "smoothing (α=1/14, seeded with the first clipped delta) — the "
    "reference's SMA variant stays in `rsi14`. Spark folds the "
    "recursion JVM-side with aggregate() like MACD; the oracle folds "
    "the identical recursion with list_reduce. greatest() maps the "
    "first NULL delta to 0 in both engines, so the folds seed "
    "identically.",
)
def q_rsi_wilder(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir).select("user_id", "bucket_start", "close")
    wb = Window.partitionBy("user_id").orderBy("bucket_start")
    prev = F.lag("close", 1).over(wb)
    d = bars.select(
        "user_id",
        "bucket_start",
        "close",
        F.greatest(F.col("close") - prev, F.lit(0.0)).alias("gain"),
        F.greatest(prev - F.col("close"), F.lit(0.0)).alias("loss"),
    )
    g = d.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("bucket_start", "close", "gain", "loss"))
        ).alias("s")
    )

    def wilder(arr: str, n: int):
        return F.expr(
            f"aggregate(slice({arr}, 2, size({arr}) - 1), array({arr}[0]), "
            f"(acc, x) -> array_append(acc, (element_at(acc, -1) * {n - 1}.0 + x) / {n}.0))"
        )

    g = g.withColumn("ag", wilder("s.gain", 14)).withColumn(
        "al", wilder("s.loss", 14)
    )
    z = g.select(
        "user_id",
        F.explode(
            F.arrays_zip(
                F.col("s").alias("row"), F.col("ag").alias("ag"), F.col("al").alias("al")
            )
        ).alias("z"),
    ).select(
        "user_id",
        F.col("z.row.bucket_start").alias("bucket_start"),
        F.col("z.row.close").alias("close"),
        F.col("z.ag").alias("ag"),
        F.col("z.al").alias("al"),
    )
    rsi = (
        F.when((F.col("al") == 0) & (F.col("ag") == 0), F.lit(None))
        .when(F.col("al") == 0, F.lit(100.0))
        .otherwise(100.0 - 100.0 / (1.0 + F.col("ag") / F.col("al")))
    )
    return z.select(
        "user_id",
        "bucket_start",
        _r6(F.col("close")).alias("close"),
        _r6(rsi).alias("rsi_wilder"),
    )


@_register(
    "williams_r",
    oracle=_BARS_CTE
    + f"""
    -- + 0.0 normalizes IEEE negative zero (close == highest-high gives
    -- -0.0 here but +0.0 in Spark after its BigDecimal round)
    SELECT user_id, bucket_start,
           ROUND(CASE WHEN COUNT(low) OVER w >= 14
                       AND (MAX(high) OVER w) != (MIN(low) OVER w)
                      THEN -100.0 * (MAX(high) OVER w - close)
                           / (MAX(high) OVER w - MIN(low) OVER w)
                 END, 6) + 0.0 AS williams_r
    FROM bars
    WINDOW w AS ({_W} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "indicator"),
    doc="Williams %R(14): −100·(HH−close)/(HH−LL) over the trailing "
    "frame, strict min_periods, degenerate-range guarded (NULL where "
    "HH==LL, matching both engines' semantics).",
)
def q_williams_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("bucket_start").rowsBetween(-13, 0)
    # two-select shape: HH/LL each appear 3x in the formula and
    # Catalyst does not dedup identical window expressions — naming
    # them first computes 3 frame aggregates instead of 6
    b = bars.select(
        "user_id",
        "bucket_start",
        "close",
        F.count("low").over(w).alias("__n"),
        F.max("high").over(w).alias("__hh"),
        F.min("low").over(w).alias("__ll"),
    )
    hh, ll = F.col("__hh"), F.col("__ll")
    wr = F.when(
        (F.col("__n") >= 14) & (hh != ll),
        -100.0 * (hh - F.col("close")) / (hh - ll),
    )
    return b.select("user_id", "bucket_start", _r6(wr).alias("williams_r"))


@_register(
    "mfi14",
    oracle=_BARS_CTE
    + f"""
    , tpf AS (
      SELECT user_id, bucket_start,
             (high + low + close) / 3.0 AS tp, volume
      FROM bars
    ), mf AS (
      SELECT user_id, bucket_start, tp,
             CASE WHEN tp > lag(tp) OVER ({_W}) THEN tp * volume ELSE 0 END AS pos_mf,
             CASE WHEN tp < lag(tp) OVER ({_W}) THEN tp * volume ELSE 0 END AS neg_mf,
             lag(tp) OVER ({_W}) AS prev_tp
      FROM tpf
    ), s AS (
      SELECT user_id, bucket_start,
             SUM(pos_mf) OVER w14 AS sp,
             SUM(neg_mf) OVER w14 AS sn,
             COUNT(prev_tp) OVER w14 AS n_chg
      FROM mf
      WINDOW w14 AS ({_W} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, bucket_start,
           ROUND(CASE WHEN n_chg >= 14 AND sp + sn > 0
                      THEN 100.0 * sp / (sp + sn) END, 6) AS mfi
    FROM s
    """,
    tags=("window", "indicator"),
    doc="Money Flow Index (14): volume-weighted RSI analogue — "
    "typical-price money flow split by direction, 14-bar sums, "
    "MFI = 100·pos/(pos+neg). Strict min_periods (NULL until 14 "
    "typical-price changes exist) and a zero-flow guard on both "
    "engines. Same single window exchange as the RSI family.",
)
def q_mfi14(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir)
    wb = Window.partitionBy("user_id").orderBy("bucket_start")
    w14 = wb.rowsBetween(-13, 0)
    tp = ((F.col("high") + F.col("low") + F.col("close")) / 3.0).alias("tp")
    tpf = bars.select("user_id", "bucket_start", tp, "volume")
    prev = F.lag("tp").over(wb)
    mf = tpf.select(
        "user_id",
        "bucket_start",
        F.when(F.col("tp") > prev, F.col("tp") * F.col("volume"))
        .otherwise(F.lit(0.0))
        .alias("pos_mf"),
        F.when(F.col("tp") < prev, F.col("tp") * F.col("volume"))
        .otherwise(F.lit(0.0))
        .alias("neg_mf"),
        prev.alias("prev_tp"),
    )
    s = mf.select(
        "user_id",
        "bucket_start",
        F.sum("pos_mf").over(w14).alias("sp"),
        F.sum("neg_mf").over(w14).alias("sn"),
        F.count("prev_tp").over(w14).alias("n_chg"),
    )
    mfi = F.when(
        (F.col("n_chg") >= 14) & (F.col("sp") + F.col("sn") > 0),
        100.0 * F.col("sp") / (F.col("sp") + F.col("sn")),
    )
    return s.select("user_id", "bucket_start", _r6(mfi).alias("mfi"))


@_register(
    "cci20",
    oracle=_BARS_CTE
    + f"""
    , tpf AS (
      SELECT user_id, bucket_start, (high + low + close) / 3.0 AS tp
      FROM bars
    ), w AS (
      SELECT user_id, bucket_start, tp,
             CASE WHEN COUNT(tp) OVER w20 >= 20 THEN AVG(tp) OVER w20 END AS sma,
             list(tp) OVER w20 AS arr
      FROM tpf
      WINDOW w20 AS ({_W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), md AS (
      SELECT user_id, bucket_start, tp, sma,
             list_reduce(list_transform(arr, x -> abs(x - sma)), (a, b) -> a + b)
               / 20.0 AS mean_dev
      FROM w WHERE TRUE
    )
    SELECT user_id, bucket_start,
           ROUND(CASE WHEN sma IS NOT NULL AND mean_dev > 0
                      THEN (tp - sma) / (0.015 * mean_dev) END, 6) AS cci
    FROM md
    """,
    tags=("window", "indicator"),
    doc="Commodity Channel Index (20): (tp − SMA20) / (0.015·mean "
    "deviation). Mean ABSOLUTE deviation around the CURRENT row's SMA "
    "is not sum-decomposable, so it folds a bounded 20-element window "
    "array with a JVM HOF (collect_list over the frame + aggregate) — "
    "the window-array pattern for non-decomposable window statistics; "
    "per-row state is 20 doubles regardless of history length. Strict "
    "min_periods; both engines fold the identical frame order.",
)
def q_cci20(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir)
    wb = Window.partitionBy("user_id").orderBy("bucket_start")
    w20 = wb.rowsBetween(-19, 0)
    tpf = bars.select(
        "user_id",
        "bucket_start",
        ((F.col("high") + F.col("low") + F.col("close")) / 3.0).alias("tp"),
    )
    w = tpf.select(
        "user_id",
        "bucket_start",
        "tp",
        F.when(F.count("tp").over(w20) >= 20, F.avg("tp").over(w20)).alias("sma"),
        F.collect_list("tp").over(w20).alias("arr"),
    )
    # mean deviation folded in its OWN projection (lateral-alias rule)
    md = w.select(
        "user_id",
        "bucket_start",
        "tp",
        "sma",
        (
            F.aggregate(
                F.transform(F.col("arr"), lambda x: F.abs(x - F.col("sma"))),
                F.lit(0.0),
                lambda a, b: a + b,
            )
            / 20.0
        ).alias("mean_dev"),
    )
    cci = F.when(
        F.col("sma").isNotNull() & (F.col("mean_dev") > 0),
        (F.col("tp") - F.col("sma")) / (0.015 * F.col("mean_dev")),
    )
    return md.select("user_id", "bucket_start", _r6(cci).alias("cci"))


@_register(
    "adx14",
    oracle=_BARS_CTE
    + f"""
    , d AS (
      SELECT user_id, bucket_start, close,
             CASE WHEN (high - lag(high) OVER ({_W})) > (lag(low) OVER ({_W}) - low)
                   AND (high - lag(high) OVER ({_W})) > 0
                  THEN high - lag(high) OVER ({_W}) ELSE 0.0 END AS dmp,
             CASE WHEN (lag(low) OVER ({_W}) - low) > (high - lag(high) OVER ({_W}))
                   AND (lag(low) OVER ({_W}) - low) > 0
                  THEN lag(low) OVER ({_W}) - low ELSE 0.0 END AS dmm,
             greatest(high - low,
                      abs(high - coalesce(lag(close) OVER ({_W}), close)),
                      abs(low - coalesce(lag(close) OVER ({_W}), close))) AS tr
      FROM bars
    ), sm AS (
      SELECT user_id, bucket_start, close,
             {_wilder_reduce('dmp', 14)} AS sdm,
             {_wilder_reduce('dmm', 14)} AS smm,
             {_wilder_reduce('tr', 14)} AS strv
      FROM d
    ), dx AS (
      SELECT user_id, bucket_start, close,
             CASE WHEN strv = 0 THEN 0.0 ELSE 100.0 * sdm / strv END AS di_plus,
             CASE WHEN strv = 0 THEN 0.0 ELSE 100.0 * smm / strv END AS di_minus
      FROM sm
    ), dx2 AS (
      SELECT user_id, bucket_start, close, di_plus, di_minus,
             CASE WHEN di_plus + di_minus = 0 THEN 0.0
                  ELSE 100.0 * abs(di_plus - di_minus) / (di_plus + di_minus)
             END AS dx
      FROM dx
    )
    SELECT user_id, bucket_start,
           ROUND(di_plus, 6) AS di_plus,
           ROUND(di_minus, 6) AS di_minus,
           ROUND({_wilder_reduce('dx', 14)}, 6) AS adx
    FROM dx2
    """,
    tags=("window", "indicator", "recursive"),
    doc="ADX(14) — the triple-recursive Wilder indicator: directional "
    "movements and true range each Wilder-smoothed, DI+/DI- ratios, "
    "then the DX series Wilder-smoothed AGAIN into ADX. Three "
    "dependent recursive folds per series, all JVM-side over one "
    "collected bounded array (the intraday HOF family — hourly bars "
    "≤ ~10k points/series); zero-denominator guards return 0 (total "
    "functions keep the chained folds well-defined identically in "
    "both engines). Oracle chains the same three list_reduce folds.",
)
def q_adx14(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir)
    wb = Window.partitionBy("user_id").orderBy("bucket_start")
    ph, pl, pc = (F.lag(c).over(wb) for c in ("high", "low", "close"))
    hd = F.col("high") - ph
    ld = pl - F.col("low")
    dmp = F.when((hd > ld) & (hd > 0), hd).otherwise(F.lit(0.0))
    dmm = F.when((ld > hd) & (ld > 0), ld).otherwise(F.lit(0.0))
    tr = F.greatest(
        F.col("high") - F.col("low"),
        F.abs(F.col("high") - F.coalesce(pc, F.col("close"))),
        F.abs(F.col("low") - F.coalesce(pc, F.col("close"))),
    )
    d = bars.select(
        "user_id", "bucket_start",
        dmp.alias("dmp"), dmm.alias("dmm"), tr.alias("tr"),
    )
    g = d.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("bucket_start", "dmp", "dmm", "tr"))
        ).alias("s")
    )

    def wilder(arr: str, n: int = 14):
        return F.expr(
            f"aggregate(slice({arr}, 2, size({arr}) - 1), array({arr}[0]), "
            f"(acc, x) -> array_append(acc, (element_at(acc, -1) * {n - 1}.0 + x) / {n}.0))"
        )

    g = (
        g.withColumn("sdm", wilder("s.dmp"))
        .withColumn("smm", wilder("s.dmm"))
        .withColumn("strv", wilder("s.tr"))
    )
    di = lambda num: F.zip_with(  # noqa: E731
        F.col(num), F.col("strv"),
        lambda a, b: F.when(b == 0, F.lit(0.0)).otherwise(100.0 * a / b),
    )
    g = g.withColumn("dip", di("sdm")).withColumn("dim", di("smm"))
    g = g.withColumn(
        "dx",
        F.zip_with(
            "dip", "dim",
            lambda p, m: F.when(p + m == 0, F.lit(0.0)).otherwise(
                100.0 * F.abs(p - m) / (p + m)
            ),
        ),
    )
    g = g.withColumn("adx", wilder("dx"))
    z = g.select(
        "user_id",
        F.explode(
            F.arrays_zip(
                F.col("s").alias("row"),
                F.col("dip").alias("di_plus"),
                F.col("dim").alias("di_minus"),
                F.col("adx").alias("adx"),
            )
        ).alias("z"),
    )
    return z.select(
        "user_id",
        F.col("z.row.bucket_start").alias("bucket_start"),
        _r6(F.col("z.di_plus")).alias("di_plus"),
        _r6(F.col("z.di_minus")).alias("di_minus"),
        _r6(F.col("z.adx")).alias("adx"),
    )


@_register(
    "donchian20",
    oracle=_BARS_CTE
    + f"""
    SELECT user_id, bucket_start,
           ROUND(CASE WHEN COUNT(*) OVER w >= 20 THEN MAX(high) OVER w END, 6)
             AS dc_upper,
           ROUND(CASE WHEN COUNT(*) OVER w >= 20 THEN MIN(low) OVER w END, 6)
             AS dc_lower,
           ROUND(CASE WHEN COUNT(*) OVER w >= 20
                      THEN (MAX(high) OVER w + MIN(low) OVER w) / 2.0 END, 6)
             AS dc_mid
    FROM bars
    WINDOW w AS ({_W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "indicator"),
    doc="Donchian channel (20): rolling extreme-high/extreme-low "
    "bands and midline, strict min_periods. Pure rolling min/max — "
    "the cheapest channel indicator, one shared window exchange.",
)
def q_donchian20(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("bucket_start").rowsBetween(-19, 0)
    # two-select shape (see williams_r): 3 window aggregates, not 8
    b = bars.select(
        "user_id",
        "bucket_start",
        F.count(F.lit(1)).over(w).alias("__n"),
        F.max("high").over(w).alias("__hi"),
        F.min("low").over(w).alias("__lo"),
    )
    full = F.col("__n") >= 20
    hi = F.when(full, F.col("__hi"))
    lo = F.when(full, F.col("__lo"))
    return b.select(
        "user_id",
        "bucket_start",
        _r6(hi).alias("dc_upper"),
        _r6(lo).alias("dc_lower"),
        _r6((hi + lo) / 2.0).alias("dc_mid"),
    )


@_register(
    "keltner20",
    oracle=_BARS_CTE
    + f"""
    , t AS (
      SELECT user_id, bucket_start,
             (high + low + close) / 3.0 AS tp,
             greatest(high - low,
                      abs(high - coalesce(lag(close) OVER ({_W}), close)),
                      abs(low - coalesce(lag(close) OVER ({_W}), close))) AS tr
      FROM bars
    ), sm AS (
      SELECT user_id, bucket_start,
             list_reduce(list(tp) OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW), (acc, e) -> acc * (1.0 - 2.0/21.0) + e * (2.0/21.0))
               AS mid,
             {_wilder_reduce('tr', 10)} AS atr10
      FROM t
    )
    SELECT user_id, bucket_start,
           ROUND(mid, 6) AS kc_mid,
           ROUND(mid + 2.0 * atr10, 6) AS kc_upper,
           ROUND(mid - 2.0 * atr10, 6) AS kc_lower
    FROM sm
    """,
    tags=("window", "indicator", "recursive"),
    doc="Keltner channel (EMA20 of typical price ± 2·Wilder-ATR10): "
    "composes the two recursive fold families already pinned by MACD "
    "and Wilder-RSI — one collected bounded array per series, both "
    "folds JVM-side, one shuffle.",
)
def q_keltner20(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir)
    wb = Window.partitionBy("user_id").orderBy("bucket_start")
    pc = F.lag("close").over(wb)
    tp = (F.col("high") + F.col("low") + F.col("close")) / 3.0
    tr = F.greatest(
        F.col("high") - F.col("low"),
        F.abs(F.col("high") - F.coalesce(pc, F.col("close"))),
        F.abs(F.col("low") - F.coalesce(pc, F.col("close"))),
    )
    t = bars.select("user_id", "bucket_start", tp.alias("tp"), tr.alias("tr"))
    g = t.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("bucket_start", "tp", "tr"))).alias("s")
    )
    # constants as Python-double reprs: Spark SQL would parse
    # `2.0/21.0` as DECIMAL division (truncated scale) while DuckDB's
    # `/` is double division — the repr'd literals keep both engines
    # on the identical IEEE constant (same trick as ema.py)
    a = 2.0 / 21.0
    ema = F.expr(
        "aggregate(slice(s.tp, 2, size(s.tp) - 1), array(s.tp[0]), "
        f"(acc, x) -> array_append(acc, element_at(acc, -1) * {1 - a!r} + x * {a!r}))"
    )
    atr = F.expr(
        "aggregate(slice(s.tr, 2, size(s.tr) - 1), array(s.tr[0]), "
        "(acc, x) -> array_append(acc, (element_at(acc, -1) * 9.0 + x) / 10.0))"
    )
    g = g.withColumn("mid", ema).withColumn("atr10", atr)
    z = g.select(
        "user_id",
        F.explode(
            F.arrays_zip(
                F.col("s").alias("row"),
                F.col("mid").alias("mid"),
                F.col("atr10").alias("atr10"),
            )
        ).alias("z"),
    )
    return z.select(
        "user_id",
        F.col("z.row.bucket_start").alias("bucket_start"),
        _r6(F.col("z.mid")).alias("kc_mid"),
        _r6(F.col("z.mid") + 2.0 * F.col("z.atr10")).alias("kc_upper"),
        _r6(F.col("z.mid") - 2.0 * F.col("z.atr10")).alias("kc_lower"),
    )


@_register(
    "ichimoku",
    oracle=_BARS_CTE
    + f"""
    , m AS (
      SELECT user_id, bucket_start, close,
             CASE WHEN COUNT(*) OVER w9 >= 9
                  THEN (MAX(high) OVER w9 + MIN(low) OVER w9) / 2.0 END AS tenkan,
             CASE WHEN COUNT(*) OVER w26 >= 26
                  THEN (MAX(high) OVER w26 + MIN(low) OVER w26) / 2.0 END AS kijun,
             CASE WHEN COUNT(*) OVER w52 >= 52
                  THEN (MAX(high) OVER w52 + MIN(low) OVER w52) / 2.0 END AS mid52
      FROM bars
      WINDOW w9  AS ({_W} ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
             w26 AS ({_W} ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
             w52 AS ({_W} ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, bucket_start,
           ROUND(tenkan, 6) AS tenkan,
           ROUND(kijun, 6) AS kijun,
           ROUND(lag((tenkan + kijun) / 2.0, 26) OVER ({_W}), 6) AS senkou_a,
           ROUND(lag(mid52, 26) OVER ({_W}), 6) AS senkou_b,
           ROUND(lead(close, 26) OVER ({_W}), 6) AS chikou
    FROM m
    """,
    tags=("window", "indicator"),
    doc="Ichimoku overlay: three rolling midlines (9/26/52 bars, "
    "strict min_periods) plus the time-shifted spans (senkou A/B "
    "lagged 26 forward in display terms = lag 26 in data terms; "
    "chikou = close led 26). Three frames + two offsets share ONE "
    "window exchange and sort — frame variety is free once the "
    "partitioning is shared.",
)
def q_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir)
    wb = Window.partitionBy("user_id").orderBy("bucket_start")

    def mid(n: int):
        w = wb.rowsBetween(-(n - 1), 0)
        return F.when(
            F.count(F.lit(1)).over(w) >= n,
            (F.max("high").over(w) + F.min("low").over(w)) / 2.0,
        )

    m = bars.select(
        "user_id",
        "bucket_start",
        "close",
        mid(9).alias("tenkan"),
        mid(26).alias("kijun"),
        mid(52).alias("mid52"),
    )
    return m.select(
        "user_id",
        "bucket_start",
        _r6(F.col("tenkan")).alias("tenkan"),
        _r6(F.col("kijun")).alias("kijun"),
        _r6(F.lag((F.col("tenkan") + F.col("kijun")) / 2.0, 26).over(wb)).alias(
            "senkou_a"
        ),
        _r6(F.lag("mid52", 26).over(wb)).alias("senkou_b"),
        _r6(F.lead("close", 26).over(wb)).alias("chikou"),
    )


_PSAR_RISE = "least(acc.psar + acc.af * (acc.ep - acc.psar), acc.p1l, acc.p2l)"
_PSAR_FALL = "greatest(acc.psar + acc.af * (acc.ep - acc.psar), acc.p1h, acc.p2h)"
_PSAR_INIT = (
    "named_struct("
    "'rising', s[1].high + s[1].low >= s[0].high + s[0].low, "
    "'psar', CAST(CASE WHEN s[1].high + s[1].low >= s[0].high + s[0].low THEN s[0].low ELSE s[0].high END AS DOUBLE), "
    "'ep', CAST(CASE WHEN s[1].high + s[1].low >= s[0].high + s[0].low THEN s[1].high ELSE s[1].low END AS DOUBLE), "
    "'af', CAST(0.02 AS DOUBLE), "
    "'p1h', CAST(s[1].high AS DOUBLE), 'p1l', CAST(s[1].low AS DOUBLE), "
    "'p2h', CAST(s[0].high AS DOUBLE), 'p2l', CAST(s[0].low AS DOUBLE), "
    "'arr', array(CAST(NULL AS DOUBLE), "
    "CAST(CASE WHEN s[1].high + s[1].low >= s[0].high + s[0].low THEN s[0].low ELSE s[0].high END AS DOUBLE)))"
)
_PSAR_STEP = f"""named_struct(
  'rising', CASE WHEN acc.rising THEN NOT (e.low < {_PSAR_RISE}) ELSE (e.high > {_PSAR_FALL}) END,
  'psar', CASE WHEN acc.rising
               THEN CASE WHEN e.low < {_PSAR_RISE} THEN acc.ep ELSE {_PSAR_RISE} END
               ELSE CASE WHEN e.high > {_PSAR_FALL} THEN acc.ep ELSE {_PSAR_FALL} END END,
  'ep', CASE WHEN acc.rising
             THEN CASE WHEN e.low < {_PSAR_RISE} THEN CAST(e.low AS DOUBLE)
                       WHEN e.high > acc.ep THEN CAST(e.high AS DOUBLE) ELSE acc.ep END
             ELSE CASE WHEN e.high > {_PSAR_FALL} THEN CAST(e.high AS DOUBLE)
                       WHEN e.low < acc.ep THEN CAST(e.low AS DOUBLE) ELSE acc.ep END END,
  'af', CASE WHEN acc.rising
             THEN CASE WHEN e.low < {_PSAR_RISE} THEN CAST(0.02 AS DOUBLE)
                       WHEN e.high > acc.ep THEN least(acc.af + 0.02, 0.2) ELSE acc.af END
             ELSE CASE WHEN e.high > {_PSAR_FALL} THEN CAST(0.02 AS DOUBLE)
                       WHEN e.low < acc.ep THEN least(acc.af + 0.02, 0.2) ELSE acc.af END END,
  'p1h', CAST(e.high AS DOUBLE), 'p1l', CAST(e.low AS DOUBLE),
  'p2h', acc.p1h, 'p2l', acc.p1l,
  'arr', array_append(acc.arr,
    CASE WHEN acc.rising
         THEN CASE WHEN e.low < {_PSAR_RISE} THEN acc.ep ELSE {_PSAR_RISE} END
         ELSE CASE WHEN e.high > {_PSAR_FALL} THEN acc.ep ELSE {_PSAR_FALL} END END))"""


# DuckDB cannot run this as a lambda fold (list_reduce lambdas evaluate
# CASE branches inconsistently across struct fields — observed engine
# bug), so the oracle carries the identical state machine as a
# RECURSIVE CTE: one frontier row per series per step, plain SQL CASE.
_S_RISE = "least(s.psar + s.af * (s.ep - s.psar), s.p1l, s.p2l)"
_S_FALL = "greatest(s.psar + s.af * (s.ep - s.psar), s.p1h, s.p2h)"
_PSAR_ORACLE = f"""
WITH RECURSIVE bars AS (
  -- HAVING mirrors _BARS_CTE's no-empty-bar contract (incl. the
  -- NaN mask: NaN ticks are not trades)
  SELECT user_id, date_trunc('hour', ts) AS bucket_start,
         max(value) FILTER (WHERE isfinite(value)) AS high,
         min(value) FILTER (WHERE isfinite(value)) AS low
  FROM events GROUP BY user_id, date_trunc('hour', ts)
  HAVING max(value) FILTER (WHERE isfinite(value)) IS NOT NULL
), b AS (
  SELECT user_id, bucket_start, high, low,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY bucket_start) AS INTEGER) AS rn
  FROM bars
), step AS (
  SELECT b2.user_id, b2.rn,
         b2.high + b2.low >= b1.high + b1.low AS rising,
         CAST(CASE WHEN b2.high + b2.low >= b1.high + b1.low THEN b1.low ELSE b1.high END AS DOUBLE) AS psar,
         CAST(CASE WHEN b2.high + b2.low >= b1.high + b1.low THEN b2.high ELSE b2.low END AS DOUBLE) AS ep,
         CAST(0.02 AS DOUBLE) AS af,
         CAST(b2.high AS DOUBLE) AS p1h, CAST(b2.low AS DOUBLE) AS p1l,
         CAST(b1.high AS DOUBLE) AS p2h, CAST(b1.low AS DOUBLE) AS p2l
  FROM b b1 JOIN b b2 ON b1.user_id = b2.user_id AND b1.rn = 1 AND b2.rn = 2
  UNION ALL
  SELECT s.user_id, n.rn,
         CASE WHEN s.rising THEN NOT (n.low < {_S_RISE}) ELSE (n.high > {_S_FALL}) END,
         CASE WHEN s.rising
              THEN CASE WHEN n.low < {_S_RISE} THEN s.ep ELSE {_S_RISE} END
              ELSE CASE WHEN n.high > {_S_FALL} THEN s.ep ELSE {_S_FALL} END END,
         CASE WHEN s.rising
              THEN CASE WHEN n.low < {_S_RISE} THEN CAST(n.low AS DOUBLE)
                        WHEN n.high > s.ep THEN CAST(n.high AS DOUBLE) ELSE s.ep END
              ELSE CASE WHEN n.high > {_S_FALL} THEN CAST(n.high AS DOUBLE)
                        WHEN n.low < s.ep THEN CAST(n.low AS DOUBLE) ELSE s.ep END END,
         CASE WHEN s.rising
              THEN CASE WHEN n.low < {_S_RISE} THEN CAST(0.02 AS DOUBLE)
                        WHEN n.high > s.ep THEN least(s.af + 0.02, 0.2) ELSE s.af END
              ELSE CASE WHEN n.high > {_S_FALL} THEN CAST(0.02 AS DOUBLE)
                        WHEN n.low < s.ep THEN least(s.af + 0.02, 0.2) ELSE s.af END END,
         CAST(n.high AS DOUBLE), CAST(n.low AS DOUBLE), s.p1h, s.p1l
  FROM step s JOIN b n ON n.user_id = s.user_id AND n.rn = s.rn + 1
)
SELECT b.user_id, b.bucket_start, ROUND(step.psar, 6) AS psar
FROM b LEFT JOIN step ON b.user_id = step.user_id AND b.rn = step.rn
"""


@_register(
    "psar",
    oracle=_PSAR_ORACLE,
    tags=("window", "indicator", "recursive", "iterative"),
    doc="Parabolic SAR — the PATH-DEPENDENT indicator: a per-series "
    "state machine (trend direction, extreme point, accelerating "
    "factor with reset-on-reversal) that no window frame expresses. "
    "Spark folds the full transition function JVM-side with one "
    "aggregate() over the bounded per-series array, state = one "
    "9-field struct. The oracle runs the IDENTICAL state machine as "
    "a DuckDB recursive CTE (one frontier row per series per step) — "
    "DuckDB's lambda folds evaluate CASE branches inconsistently "
    "across struct fields (engine bug found while building this), so "
    "recursion is the trustworthy formulation there. Exact to 1e-15 "
    "against an independent Python reference before rounding.",
)
def q_psar(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir)
    g = bars.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("bucket_start", "high", "low"))).alias(
            "s0"
        )
    )
    g = g.withColumn(
        "s", F.expr("transform(s0, x -> named_struct('high', x.high, 'low', x.low))")
    )
    psar_arr = F.when(
        F.size("s") < 2, F.expr("array(CAST(NULL AS DOUBLE))")
    ).otherwise(
        F.expr(
            f"aggregate(slice(s, 3, size(s) - 2), {_PSAR_INIT}, "
            f"(acc, e) -> {_PSAR_STEP}).arr"
        )
    )
    z = g.select(
        "user_id",
        F.explode(
            F.arrays_zip(F.col("s0").alias("row"), psar_arr.alias("psar"))
        ).alias("z"),
    )
    return z.select(
        "user_id",
        F.col("z.row.bucket_start").alias("bucket_start"),
        _r6(F.col("z.psar")).alias("psar"),
    )


_XS = "PARTITION BY bucket_start"


@_register(
    "rolling_corr20",
    oracle=_BARS_CTE
    + f"""
    , m AS (
      SELECT user_id, bucket_start, close,
             AVG(close) OVER ({_XS}) AS mkt
      FROM bars
    )
    SELECT user_id, bucket_start,
           -- total-corr restatement (functions/nullsafe.py corr_nn):
           -- a flat 20-bar frame is NULL, not Spark's ANSI raise
           ROUND(CASE WHEN COUNT(*) OVER w >= 20
                      THEN covar_pop(close, mkt) OVER w
                           / nullif((stddev_pop(close) OVER w)
                                    * (stddev_pop(mkt) OVER w), 0)
                 END, 6) AS corr20
    FROM m
    WINDOW w AS ({_W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "indicator", "cross-series"),
    doc="Rolling 20-bar correlation of each series against the "
    "equal-weight market close. Two window partitionings are "
    "inherent (per-bucket market mean, then per-user trailing corr) "
    "= two exchanges; corr is a decomposable window aggregate "
    "(co-moment form) in both engines, and sample-vs-population "
    "normalization cancels in the ratio so there is no ddof trap. "
    "Strict min_periods like the SMA family.",
)
def q_rolling_corr20(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir).select("user_id", "bucket_start", "close")
    mkt = F.avg("close").over(Window.partitionBy("bucket_start"))
    m = bars.select("user_id", "bucket_start", "close", mkt.alias("mkt"))
    w = Window.partitionBy("user_id").orderBy("bucket_start").rowsBetween(-19, 0)
    # windowed twin of corr_nn: each co-moment over the same frame, so a
    # flat frame yields NULL instead of an ANSI DIVIDE_BY_ZERO (bars have
    # no NULL closes by the no-empty-bar contract, so no pairwise mask)
    total_corr = F.try_divide(
        F.covar_pop("close", "mkt").over(w),
        F.nullif(
            F.stddev_pop("close").over(w) * F.stddev_pop("mkt").over(w),
            F.lit(0.0),
        ),
    )
    c = F.when(F.count(F.lit(1)).over(w) >= 20, total_corr)
    return m.select("user_id", "bucket_start", _r6(c).alias("corr20"))


@_register(
    "cross_sectional_zscore",
    oracle=_BARS_CTE
    + f"""
    SELECT user_id, bucket_start,
           ROUND((close - AVG(close) OVER ({_XS}))
                 / NULLIF(stddev_samp(close) OVER ({_XS}), 0), 6) AS zscore,
           RANK() OVER ({_XS} ORDER BY close DESC) AS close_rank,
           COUNT(*) OVER ({_XS}) AS n_series
    FROM bars
    """,
    tags=("window", "cross-series"),
    doc="Cross-sectional normalization per bucket: z-score of each "
    "series' close against that hour's cross-series mean/stddev "
    "(sample stddev, zero-variance guarded to NULL) plus dense "
    "close rank — the cross-sectional-momentum building block. One "
    "partitioning (bucket_start) shared by all four window columns "
    "= one exchange; partition width is the series count, never "
    "history length, so it scales with the catalog not the data.",
)
def q_cross_sectional_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir).select("user_id", "bucket_start", "close")
    wx = Window.partitionBy("bucket_start")
    z = (F.col("close") - F.avg("close").over(wx)) / F.nullif(
        F.stddev_samp("close").over(wx), F.lit(0.0)
    )
    return bars.select(
        "user_id",
        "bucket_start",
        _r6(z).alias("zscore"),
        F.rank().over(wx.orderBy(F.col("close").desc())).alias("close_rank"),
        F.count(F.lit(1)).over(wx).alias("n_series"),
    )


# ---------------------------------------------------------------------------
# Third relational-ops wave: GROUPING SETS with grouping_id,
# UNPIVOT (wide->long melt), time-weighted average price over irregular
# event spacing, and per-series maximum drawdown.
#
# Reference parity: the reference pivots long->wide for its heatmap
# (app/dashboard.py pivot_table) — unpivot is the inverse contract; its
# summary tables are single-level GROUP BYs — grouping sets produce the
# multi-level report in one scan. TWAP/drawdown are the next indicator
# asks beyond the dashboard's set.


@_register(
    "unpivot_ohlc",
    oracle=_BARS_CTE
    + """
    , wide AS (SELECT user_id, bucket_start, open, high, low, close FROM bars)
    SELECT user_id, bucket_start, field, ROUND(px, 6) AS px FROM (
      SELECT user_id, bucket_start, 'open'  AS field, open  AS px FROM wide
      UNION ALL
      SELECT user_id, bucket_start, 'high'  AS field, high  AS px FROM wide
      UNION ALL
      SELECT user_id, bucket_start, 'low'   AS field, low   AS px FROM wide
      UNION ALL
      SELECT user_id, bucket_start, 'close' AS field, close AS px FROM wide
    )
    """,
    tags=("reshape",),
    doc="UNPIVOT (melt): OHLC wide->long via DataFrame.unpivot — the "
    "inverse of the reference's heatmap pivot (app/dashboard.py "
    "pivot_table). Spark plans Expand (4 output rows per input row in "
    "the SAME task, no shuffle, no union of four scans); the oracle "
    "states the semantics as UNION ALL.",
)
def q_unpivot_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir).select(
        "user_id", "bucket_start", "open", "high", "low", "close"
    )
    long = bars.unpivot(
        ids=["user_id", "bucket_start"],
        values=["open", "high", "low", "close"],
        variableColumnName="field",
        valueColumnName="px",
    )
    return long.select("user_id", "bucket_start", "field", _r6(F.col("px")).alias("px"))


@_register(
    "twap_daily",
    oracle="""
    WITH seg AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value,
             CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id,
                                          CAST(date_trunc('day', ts) AS TIMESTAMP)
                                          ORDER BY ts))
                  - epoch_us(ts) AS DOUBLE) AS dt_us
      FROM events
    )
    SELECT user_id, day,
           -- nullif: a day whose only segments are zero-length
           -- (duplicate-timestamp ticks) has an undefined TWAP
           ROUND(SUM(value * dt_us) / nullif(SUM(dt_us), 0), 6) AS twap,
           COUNT(dt_us) AS n_segments
    FROM seg WHERE dt_us IS NOT NULL
    GROUP BY user_id, day
    ORDER BY user_id, day
    """,
    tags=("window", "agg", "indicator"),
    doc="Time-weighted average price per user-day: each observation "
    "weighted by its holding interval (microseconds to the next "
    "event, via lead over the user-day partition; the day's last "
    "event opens no interval). The estimator for irregularly-spaced "
    "ticks where a plain mean over-weights bursts. Interval math in "
    "epoch MICROSECONDS (unix_micros/epoch_us) — the repo rule for "
    "sub-second-safe time arithmetic. One window exchange + one "
    "partial-agg shuffle on the same key.",
)
def q_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    w = Window.partitionBy("user_id", day).orderBy("ts")
    dt = (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))).cast(
        "double"
    )
    seg = ev.select(
        "user_id", day.alias("day"), "value", dt.alias("dt_us")
    ).filter(F.col("dt_us").isNotNull())
    return (
        seg.groupBy("user_id", "day")
        .agg(
            _r6(
                F.sum(F.col("value") * F.col("dt_us"))
                / F.nullif(F.sum("dt_us"), F.lit(0.0))
            ).alias("twap"),
            F.count("dt_us").alias("n_segments"),
        )
        .orderBy("user_id", "day")
    )


@_register(
    "max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) AS close
      FROM events GROUP BY 1, 2
    ), dd AS (
      SELECT user_id, day,
             -- nullif: a zero running peak (flat-at-zero series) has
             -- no defined drawdown — NULL in both engines instead of
             -- Spark's ANSI raise / DuckDB's inf
             close / nullif(MAX(close) OVER (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
               - 1.0 AS drawdown
      FROM daily
    ), ranked AS (
      SELECT user_id, day AS trough_day, drawdown,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY drawdown ASC, day ASC) AS rn
      FROM dd
    )
    SELECT user_id, trough_day, ROUND(drawdown, 6) AS max_drawdown
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
    tags=("window", "indicator"),
    doc="Maximum drawdown per series: running peak (cumulative window "
    "max) over the daily closes, drawdown = close/peak - 1, then the "
    "per-series minimum with a deterministic earliest-trough "
    "tie-break. The risk statistic every returns dashboard adds "
    "after volatility; both window passes share the per-user "
    "exchange, and the division compares identical doubles in both "
    "engines (same arg_max-selected close, same running max).",
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(max_by_nn(nan_nn("value"), "ts").alias("close"))
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = daily.select(
        "user_id",
        "day",
        (
            F.try_divide(
                F.col("close"),
                F.nullif(F.max("close").over(wcum), F.lit(0.0)),
            )
            - 1.0
        ).alias("drawdown"),
    )
    # asc_nulls_last: an all-NULL day has NULL drawdown; Spark's ASC
    # default (NULLS FIRST) would crown it the trough while DuckDB's
    # ROW_NUMBER default (NULLS LAST) never would
    wr = Window.partitionBy("user_id").orderBy(
        F.col("drawdown").asc_nulls_last(), F.col("day").asc()
    )
    return (
        dd.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("day").alias("trough_day"),
            _r6(F.col("drawdown")).alias("max_drawdown"),
        )
        .orderBy("user_id")
    )


@_register(
    "ohlcv_daily_from_hourly",
    oracle="""
    -- the oracle aggregates DIRECTLY from raw events: passing proves
    -- the hourly->daily reaggregation algebra loses nothing. Under
    -- the no-empty-bar contract, rows in all-NULL hours carry no
    -- volume (their hour forms no bar) and all-empty days form no
    -- row; o/h/l/c are unaffected because arg_min/arg_max/min/max
    -- skip NULLs anyway.
    WITH he AS (
      -- nv counts REAL prices: NULL and NaN ticks alike form no bar
      -- (the _BARS_CTE NaN-mask contract)
      SELECT user_id, date_trunc('hour', ts) AS h,
             COUNT(CASE WHEN isfinite(value) THEN value END) AS nv
      FROM events GROUP BY 1, 2
    )
    SELECT e.user_id, CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS day,
           ROUND(first(e.value ORDER BY e.ts, e.value) FILTER (WHERE e.value IS NOT NULL AND isfinite(e.value)), 6) AS open,
           ROUND(max(e.value) FILTER (WHERE isfinite(e.value)), 6)           AS high,
           ROUND(min(e.value) FILTER (WHERE isfinite(e.value)), 6)           AS low,
           ROUND(last(e.value ORDER BY e.ts, e.value) FILTER (WHERE e.value IS NOT NULL AND isfinite(e.value)), 6) AS close,
           COUNT(*) FILTER (WHERE he.nv > 0) AS volume
    FROM events e
    JOIN he ON e.user_id = he.user_id AND date_trunc('hour', e.ts) = he.h
    GROUP BY e.user_id, date_trunc('day', e.ts)
    HAVING COUNT(CASE WHEN isfinite(e.value) THEN e.value END) > 0
    ORDER BY e.user_id, day
    """,
    tags=("agg", "resample", "rollup"),
    doc="Continuous-aggregate rollup reuse: daily OHLCV computed FROM "
    "THE HOURLY BARS (open = open of first hour via min_by on "
    "bucket_start, high = max of highs, volume = sum of volumes), "
    "while the oracle aggregates directly from raw ticks — equality "
    "proves the reaggregation algebra, which is what lets a "
    "hypertable serve day/week/month queries from the hourly rollup "
    "instead of rescanning raw data (the TimescaleDB continuous-"
    "aggregate pattern). At 100 TB this turns every coarser-grain "
    "query into a scan of the hourly table: ~3600x fewer rows.",
)
def q_ohlcv_daily_from_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir)
    day = F.date_trunc("day", "bucket_start")
    return (
        bars.groupBy("user_id", day.alias("day"))
        .agg(
            _r6(min_by_nn("open", "bucket_start")).alias("open"),
            _r6(F.max("high")).alias("high"),
            _r6(F.min("low")).alias("low"),
            _r6(max_by_nn("close", "bucket_start")).alias("close"),
            F.sum("volume").alias("volume"),
        )
        .orderBy("user_id", "day")
    )


@_register(
    "rolling_outliers",
    oracle="""
    WITH bars AS (
      -- HAVING mirrors _BARS_CTE's no-empty-bar contract
      SELECT user_id, date_trunc('hour', ts) AS bucket_start,
             last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) AS close
      FROM events GROUP BY user_id, date_trunc('hour', ts)
      HAVING last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) IS NOT NULL
    ), z AS (
      SELECT user_id, bucket_start, close,
             CASE WHEN COUNT(*) OVER w >= 20
                   AND stddev_samp(close) OVER w > 0
                  THEN (close - AVG(close) OVER w) / stddev_samp(close) OVER w
             END AS zscore
      FROM bars
      WINDOW w AS (PARTITION BY user_id ORDER BY bucket_start
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, bucket_start, ROUND(close, 6) AS close,
           ROUND(zscore, 6) AS zscore
    FROM z WHERE abs(zscore) > 2.0
    ORDER BY user_id, bucket_start
    """,
    tags=("window", "analytics", "quality"),
    doc="Rolling anomaly detection: hourly closes more than 2 sample "
    "standard deviations from their own trailing-20 mean — the "
    "data-quality triage query behind every 'spike on the chart' "
    "investigation. Same single window exchange as the Bollinger "
    "family (it IS the Bollinger z-score, surfaced as a filter); "
    "the |z|>2 cut compares identical doubles in both engines.",
)
def q_rolling_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir).select("user_id", "bucket_start", "close")
    w = Window.partitionBy("user_id").orderBy("bucket_start").rowsBetween(-19, 0)
    # two-select shape: stddev named once (Catalyst does not dedup
    # identical window expressions — inline it appeared twice)
    b = bars.select(
        "user_id",
        "bucket_start",
        "close",
        F.count(F.lit(1)).over(w).alias("__n"),
        F.avg("close").over(w).alias("__avg"),
        F.stddev_samp("close").over(w).alias("__sd"),
    )
    sd = F.col("__sd")
    z = F.when(
        (F.col("__n") >= 20) & (sd > 0),
        (F.col("close") - F.col("__avg")) / sd,
    )
    return (
        b.select(
            "user_id",
            "bucket_start",
            _r6(F.col("close")).alias("close"),
            _r6(z).alias("zscore"),
        )
        .filter(F.abs(F.col("zscore")) > 2.0)
        .orderBy("user_id", "bucket_start")
    )


@_register(
    "seasonal_profile",
    oracle="""
    WITH ev AS (
      -- NaN measures masked like NULL (engine contract; see
      -- nullsafe.nan_nn) — COUNT(*) still counts every row
      SELECT * REPLACE (CASE WHEN NOT isfinite(value) THEN NULL
                        ELSE value END AS value)
      FROM events
    ), cells AS (
      SELECT event_type, isodow(ts) AS dow, hour(ts) AS hod,
             COUNT(*) AS n, AVG(value) AS cell_mean
      FROM ev GROUP BY 1, 2, 3
    ), tot AS (
      SELECT event_type, AVG(value) AS grand_mean,
             var_pop(value) AS total_var, COUNT(*) AS n_total
      FROM ev GROUP BY 1
    ), between_var AS (
      SELECT c.event_type,
             SUM(c.n * (c.cell_mean - t.grand_mean)
                     * (c.cell_mean - t.grand_mean)) / t.n_total AS bv
      FROM cells c JOIN tot t USING (event_type)
      GROUP BY c.event_type, t.n_total
    ), peak AS (
      SELECT event_type, dow AS peak_dow, hod AS peak_hod,
             cell_mean AS peak_mean
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                  ORDER BY cell_mean DESC, dow, hod) AS rn
        FROM cells
      ) WHERE rn = 1
    )
    SELECT t.event_type,
           ROUND(t.grand_mean, 6) AS grand_mean,
           ROUND(b.bv / t.total_var, 6) AS seasonal_eta2,
           p.peak_dow, p.peak_hod,
           ROUND(p.peak_mean, 6) AS peak_mean
    FROM tot t
    JOIN between_var b USING (event_type)
    JOIN peak p USING (event_type)
    ORDER BY t.event_type
    """,
    tags=("analytics", "agg"),
    doc="Seasonality strength per event type: eta-squared of the "
    "(iso-weekday x hour) cell decomposition — the share of value "
    "variance explained by when-in-the-week — plus the peak cell. "
    "Two partial-agg passes over events (per-type moments, per-cell "
    "means); the cell table is 5x7x24 rows at ANY data scale, so "
    "everything after the two scans is metadata-sized. isodow keeps "
    "the weekday numbering identical across engines (Spark weekday()"
    "+1 == DuckDB isodow).",
)
def q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn("value", nan_nn("value"))
    cells = ev.groupBy(
        "event_type",
        (F.weekday("ts") + 1).alias("dow"),
        F.hour("ts").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("cell_mean"))
    tot = ev.groupBy("event_type").agg(
        F.avg("value").alias("grand_mean"),
        F.var_pop("value").alias("total_var"),
        F.count(F.lit(1)).alias("n_total"),
    )
    dev = F.col("cell_mean") - F.col("grand_mean")
    between = (
        cells.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "n_total")
        .agg((F.sum(F.col("n") * dev * dev) / F.col("n_total")).alias("bv"))
    )
    wp = Window.partitionBy("event_type").orderBy(
        F.col("cell_mean").desc(), "dow", "hod"
    )
    peak = (
        cells.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("dow").alias("peak_dow"),
            F.col("hod").alias("peak_hod"),
            F.col("cell_mean").alias("peak_mean"),
        )
    )
    return (
        tot.join(F.broadcast(between.select("event_type", "bv")), "event_type")
        .join(F.broadcast(peak), "event_type")
        .select(
            "event_type",
            _r6(F.col("grand_mean")).alias("grand_mean"),
            _r6(F.col("bv") / F.col("total_var")).alias("seasonal_eta2"),
            "peak_dow",
            "peak_hod",
            _r6(F.col("peak_mean")).alias("peak_mean"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Fourth analytics wave: rolling beta/alpha against the market,
# peak-concurrency via a distributed prefix sum, and the embedding
# dimension-correlation matrix.
#
# Reference parity: rolling beta is the risk-model companion to
# rolling_corr20 (same window frame, co-moment ratio instead of the
# normalized one); peak_concurrent_sessions_daily shows the PREFIX-SUM
# DECOMPOSITION — the scan-line running count is inherently sequential,
# so the Spark plan computes it as within-day cumsums plus a
# metadata-sized day-offset table, the way a 1000-executor cluster has
# to; embedding_dim_correlation is the feature-redundancy diagnostic run
# before training on a vector column.


@_register(
    "rolling_beta20",
    oracle=_BARS_CTE
    + f"""
    , m AS (
      SELECT user_id, bucket_start, close,
             AVG(close) OVER ({_XS}) AS mkt
      FROM bars
    )
    SELECT user_id, bucket_start,
           ROUND(CASE WHEN COUNT(*) OVER w >= 20
                      THEN covar_pop(close, mkt) OVER w
                           / NULLIF(var_pop(mkt) OVER w, 0) END, 6)
             AS beta20,
           -- alpha from 6dp-rounded pieces: the raw product
           -- beta * avg(mkt) amplifies last-ulp window-aggregate
           -- differences across engines onto rounding boundaries
           ROUND(CASE WHEN COUNT(*) OVER w >= 20
                      THEN ROUND(AVG(close) OVER w, 6)
                           - ROUND(covar_pop(close, mkt) OVER w
                                   / NULLIF(var_pop(mkt) OVER w, 0), 6)
                             * ROUND(AVG(mkt) OVER w, 6) END, 6)
             AS alpha20
    FROM m
    WINDOW w AS ({_W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "indicator", "cross-series"),
    doc="Rolling 20-bar market beta and alpha per series: "
    "covar_pop/var_pop over the trailing frame against the "
    "equal-weight market close (population moments on BOTH sides so "
    "no ddof trap; zero-variance frames NULLed). Same two-exchange "
    "shape as rolling_corr20 — per-bucket market mean, then all four "
    "window aggregates share the per-user frame — and both engines "
    "evaluate the co-moments decomposably, never re-scanning the "
    "frame.",
)
def q_rolling_beta20(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir).select(
        "user_id", "bucket_start", "close"
    )
    mkt = F.avg("close").over(Window.partitionBy("bucket_start"))
    m = bars.select("user_id", "bucket_start", "close", mkt.alias("mkt"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket_start")
        .rowsBetween(-19, 0)
    )
    # two-select shape (see williams_r): the co-moments feed both
    # beta and alpha — naming them computes 5 window aggregates not 8
    mm = m.select(
        "user_id",
        "bucket_start",
        F.count(F.lit(1)).over(w).alias("__n"),
        F.covar_pop("close", "mkt").over(w).alias("__cov"),
        F.var_pop("mkt").over(w).alias("__var"),
        F.avg("close").over(w).alias("__avgc"),
        F.avg("mkt").over(w).alias("__avgm"),
    )
    enough = F.col("__n") >= 20
    beta = F.col("__cov") / F.nullif(F.col("__var"), F.lit(0.0))
    # alpha from 6dp-rounded pieces — see the oracle comment
    alpha = _r6(F.col("__avgc")) - _r6(beta) * _r6(F.col("__avgm"))
    return mm.select(
        "user_id",
        "bucket_start",
        _r6(F.when(enough, beta)).alias("beta20"),
        _r6(F.when(enough, alpha)).alias("alpha20"),
    )


@_register(
    "hourly_count_autocorr",
    oracle="""
    WITH hc AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             COUNT(*) AS n, ROUND(SUM(value), 6) AS total
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type, n,
             lag(n) OVER (PARTITION BY event_type ORDER BY hr) AS n_prev
      FROM hc
    )
    , sums AS (
      -- corr from exact BIGINT power sums: Spark's ANSI corr raises
      -- DIVIDE_BY_ZERO on single-pair groups and float-sum order
      -- differs between engines; integer sums make it total AND
      -- bit-identical (NULL when the variance product is 0)
      SELECT event_type,
             COUNT(*) AS c,
             SUM(n) AS sx, SUM(n_prev) AS sy,
             SUM(n * n) AS sxx, SUM(n_prev * n_prev) AS syy,
             SUM(n * n_prev) AS sxy
      FROM lagged WHERE n_prev IS NOT NULL GROUP BY event_type
    )
    SELECT event_type,
           c AS n_hours,
           ROUND((CAST(c AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / nullif(sqrt(CAST(c AS DOUBLE) * sxx
                               - CAST(sx AS DOUBLE) * sx)
                          * sqrt(CAST(c AS DOUBLE) * syy
                                 - CAST(sy AS DOUBLE) * sy), 0), 6)
             AS autocorr_lag1
    FROM sums ORDER BY event_type
    """,
    tags=("analytics", "window", "agg"),
    doc="Lag-1 autocorrelation of hourly event counts per type — the "
    "burstiness diagnostic (white-noise arrivals ~0; sustained load "
    "waves or feedback loops push it up). Counts first (events "
    "collapse to an HOURS x TYPES table in one partial-agg shuffle), "
    "then lag + corr run on that metadata-sized rollup — never "
    "window the raw events for a rollup statistic.",
)
def q_hourly_count_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hc = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("hr")
    lagged = hc.select(
        "event_type",
        F.col("n"),
        F.lag("n").over(w).alias("n_prev"),
    ).filter(F.col("n_prev").isNotNull())
    # corr from exact BIGINT power sums (see oracle note): total over
    # degenerate groups and bit-identical across engines
    sums = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("n").alias("sx"),
        F.sum("n_prev").alias("sy"),
        F.sum(F.col("n") * F.col("n")).alias("sxx"),
        F.sum(F.col("n_prev") * F.col("n_prev")).alias("syy"),
        F.sum(F.col("n") * F.col("n_prev")).alias("sxy"),
    )
    c = F.col("c").cast("double")
    num = c * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        c * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    ) * F.sqrt(c * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    return sums.select(
        "event_type",
        F.col("c").alias("n_hours"),
        _r6(num / F.nullif(den, F.lit(0.0))).alias("autocorr_lag1"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Portfolio/risk analytics over the per-user EOD series: Sharpe and
# Sortino ratios, exact VaR/CVaR, rolling higher moments (skewness /
# kurtosis), candlestick pattern detection, floor-trader pivot points,
# drawdown durations, and the pairwise return-correlation screen.
#
# These extend the reference's indicator stage (app/dashboard.py:84-145)
# with the risk metrics a quant desk computes from the same bars. All are
# single-pass window/agg plans over the (user_id, date) series — the
# shapes scale exactly like the indicator panel: one shuffle on user_id,
# windows sorted within partitions, map-side partial aggregation for the
# per-user reductions.
#
# Float discipline: every derived metric uses the SAME algebraic form in
# the Spark plan and the DuckDB oracle (shared subexpressions, identical
# operation order) so the 6-decimal rounding hashes identically.


# daily EOD bars from events (shared CTE text for the oracles)
_DAILY_CTE = """
WITH daily AS (
  -- HAVING: a day with no non-NULL price has no bar (arg_max skips
  -- NULLs, so close IS NULL <=> the whole day was NULL); a NULL bar
  -- inside a recursive series (EMA/Heikin-Ashi) would poison every
  -- later row in one engine and not the other
  SELECT user_id, CAST(ts AS DATE) AS date,
         first(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) AS open,
         max(value) FILTER (WHERE isfinite(value))         AS high,
         min(value) FILTER (WHERE isfinite(value))         AS low,
         last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) AS close
  FROM events GROUP BY user_id, CAST(ts AS DATE)
  HAVING last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) IS NOT NULL
)
"""
_WD = "PARTITION BY user_id ORDER BY date"


def _daily_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.to_date("ts").alias("date"))
        .agg(
            min_by_nn(nan_nn("value"), "ts").alias("open"),
            F.max(nan_nn("value")).alias("high"),
            F.min(nan_nn("value")).alias("low"),
            max_by_nn(nan_nn("value"), "ts").alias("close"),
        )
        # mirror the oracle's HAVING: no bar for an all-NULL day
        .filter(F.col("close").isNotNull())
    )


def _daily_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _daily_bars(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("date")
    prev = F.lag("close", 1).over(w)
    return bars.select(
        "user_id",
        "date",
        F.try_divide(F.col("close") - prev, prev).alias("r"),
    ).filter(F.col("r").isNotNull())


_RETURNS_CTE = (
    _DAILY_CTE
    + f"""
, rets AS (
  SELECT user_id, date,
         (close - lag(close) OVER ({_WD})) / lag(close) OVER ({_WD}) AS r
  FROM daily
  QUALIFY r IS NOT NULL
)
"""
)


@_register(
    "sharpe_sortino",
    oracle=_RETURNS_CTE
    + """
    SELECT user_id,
           COUNT(*) AS n_days,
           ROUND(AVG(r) / STDDEV_SAMP(r) * SQRT(252.0), 6) AS sharpe,
           ROUND(AVG(r) / SQRT(SUM(CASE WHEN r < 0 THEN r * r ELSE 0 END)
                               / COUNT(*)) * SQRT(252.0), 6) AS sortino
    FROM rets GROUP BY user_id ORDER BY user_id
    """,
    tags=("agg", "risk"),
    doc="annualized Sharpe (mean/sample-std x sqrt252) and Sortino "
    "(mean/downside-deviation, target 0) per user from daily simple "
    "returns. One window pass for returns, one shuffle-free re-agg "
    "on the same user_id partitioning.",
)
def q_sharpe_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    rets = _daily_returns(spark, sf_dir)
    downside = F.sqrt(
        F.sum(F.when(F.col("r") < 0, F.col("r") * F.col("r")).otherwise(0.0))
        / F.count(F.lit(1))
    )
    return (
        rets.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            _r6(F.avg("r") / F.stddev_samp("r") * F.sqrt(F.lit(252.0))).alias(
                "sharpe"
            ),
            _r6(F.avg("r") / downside * F.sqrt(F.lit(252.0))).alias("sortino"),
        )
        .orderBy("user_id")
    )


@_register(
    "var_cvar_95",
    oracle=_RETURNS_CTE
    + """
    , v AS (
      SELECT user_id, quantile_cont(r, 0.05) AS var95 FROM rets GROUP BY user_id
    )
    SELECT r.user_id,
           ROUND(ANY_VALUE(v.var95), 6) AS var95,
           ROUND(AVG(r.r) FILTER (WHERE r.r <= v.var95), 6) AS cvar95
    FROM rets r JOIN v ON r.user_id = v.user_id
    GROUP BY r.user_id ORDER BY r.user_id
    """,
    tags=("agg", "risk"),
    doc="exact 95% historical VaR (5th percentile of daily returns, "
    "continuous interpolation) and CVaR (mean of the tail at or below "
    "VaR) per user. Two aggs sharing the user_id shuffle; the VaR "
    "side is one row per user so the re-join broadcasts. At 100 TB "
    "swap percentile for approx_percentile (see value_percentiles_approx).",
)
def q_var_cvar_95(spark: SparkSession, sf_dir: str) -> DataFrame:
    rets = _daily_returns(spark, sf_dir)
    v = rets.groupBy("user_id").agg(
        F.percentile("r", F.lit(0.05)).alias("var95")
    )
    return (
        rets.join(F.broadcast(v), "user_id")
        .groupBy("user_id")
        .agg(
            _r6(F.any_value("var95")).alias("var95"),
            _r6(F.avg(F.when(F.col("r") <= F.col("var95"), F.col("r")))).alias(
                "cvar95"
            ),
        )
        .orderBy("user_id")
    )


@_register(
    "rolling_skew_kurt20",
    oracle=_DAILY_CTE
    + f"""
    , m AS (
      SELECT user_id, date, close,
             COUNT(close) OVER w20 AS n,
             AVG(close) OVER w20 AS m1,
             AVG(close * close) OVER w20 AS m2r,
             AVG(close * close * close) OVER w20 AS m3r,
             AVG(close * close * close * close) OVER w20 AS m4r
      FROM daily
      WINDOW w20 AS ({_WD} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, date,
           ROUND(CASE WHEN n >= 20 THEN
             (m3r - 3.0 * m1 * m2r + 2.0 * m1 * m1 * m1)
             / POW(m2r - m1 * m1, 1.5) END, 6) AS skew20,
           ROUND(CASE WHEN n >= 20 THEN
             (m4r - 4.0 * m1 * m3r + 6.0 * m1 * m1 * m2r - 3.0 * m1 * m1 * m1 * m1)
             / POW(m2r - m1 * m1, 2.0) - 3.0 END, 6) AS kurt20
    FROM m
    """,
    tags=("window", "risk"),
    doc="rolling 20-day population skewness and excess kurtosis from "
    "raw-moment averages (single window pass computes E[x..x^4]; the "
    "central moments come out algebraically). Strict min_periods=20. "
    "Identical algebra on both sides keeps the float hash stable.",
)
def q_rolling_skew_kurt20(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _daily_bars(spark, sf_dir)
    w20 = (
        Window.partitionBy("user_id").orderBy("date").rowsBetween(-19, 0)
    )
    x = F.col("close")
    n = F.count(x).over(w20)
    m1 = F.avg(x).over(w20)
    m2r = F.avg(x * x).over(w20)
    m3r = F.avg(x * x * x).over(w20)
    m4r = F.avg(x * x * x * x).over(w20)
    m = bars.select(
        "user_id",
        "date",
        n.alias("n"),
        m1.alias("m1"),
        m2r.alias("m2r"),
        m3r.alias("m3r"),
        m4r.alias("m4r"),
    )
    c1, c2r, c3r, c4r = (F.col(c) for c in ("m1", "m2r", "m3r", "m4r"))
    skew = (c3r - 3.0 * c1 * c2r + 2.0 * c1 * c1 * c1) / F.pow(
        c2r - c1 * c1, F.lit(1.5)
    )
    kurt = (
        c4r
        - 4.0 * c1 * c3r
        + 6.0 * c1 * c1 * c2r
        - 3.0 * c1 * c1 * c1 * c1
    ) / F.pow(c2r - c1 * c1, F.lit(2.0)) - 3.0
    full = F.col("n") >= 20
    return m.select(
        "user_id",
        "date",
        _r6(F.when(full, skew)).alias("skew20"),
        _r6(F.when(full, kurt)).alias("kurt20"),
    )


@_register(
    "candle_patterns",
    oracle=_DAILY_CTE
    + f"""
    , lagged AS (
      SELECT user_id, date, open, high, low, close,
             lag(open) OVER ({_WD}) AS popen,
             lag(close) OVER ({_WD}) AS pclose
      FROM daily
    )
    SELECT user_id,
           COUNT(*) AS n_days,
           CAST(SUM(CASE WHEN high > low
                     AND ABS(close - open) <= 0.1 * (high - low)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_doji,
           CAST(SUM(CASE WHEN pclose < popen AND close > open
                     AND open <= pclose AND close >= popen
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_bull_engulf,
           CAST(SUM(CASE WHEN pclose > popen AND close < open
                     AND open >= pclose AND close <= popen
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_bear_engulf
    FROM lagged GROUP BY user_id ORDER BY user_id
    """,
    tags=("window", "risk", "indicator"),
    doc="candlestick pattern counts per user on daily bars: doji "
    "(body <= 10% of range) and bullish/bearish engulfing (current "
    "body engulfs the previous opposite-colored body). lag + "
    "conditional-sum — one window pass then a partitioning-aligned agg.",
)
def q_candle_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _daily_bars(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("date")
    lagged = bars.select(
        "user_id",
        "date",
        "open",
        "high",
        "low",
        "close",
        F.lag("open").over(w).alias("popen"),
        F.lag("close").over(w).alias("pclose"),
    )
    doji = (F.col("high") > F.col("low")) & (
        F.abs(F.col("close") - F.col("open"))
        <= 0.1 * (F.col("high") - F.col("low"))
    )
    bull = (
        (F.col("pclose") < F.col("popen"))
        & (F.col("close") > F.col("open"))
        & (F.col("open") <= F.col("pclose"))
        & (F.col("close") >= F.col("popen"))
    )
    bear = (
        (F.col("pclose") > F.col("popen"))
        & (F.col("close") < F.col("open"))
        & (F.col("open") >= F.col("pclose"))
        & (F.col("close") <= F.col("popen"))
    )
    return (
        lagged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.when(doji, 1).otherwise(0)).alias("n_doji"),
            F.sum(F.when(bull, 1).otherwise(0)).alias("n_bull_engulf"),
            F.sum(F.when(bear, 1).otherwise(0)).alias("n_bear_engulf"),
        )
        .orderBy("user_id")
    )


@_register(
    "pivot_points_daily",
    oracle=_DAILY_CTE
    + f"""
    , lagged AS (
      SELECT user_id, date,
             lag(high) OVER ({_WD})  AS ph,
             lag(low) OVER ({_WD})   AS pl,
             lag(close) OVER ({_WD}) AS pc
      FROM daily
    )
    SELECT user_id, date,
           ROUND((ph + pl + pc) / 3.0, 6) AS pivot,
           ROUND(2.0 * (ph + pl + pc) / 3.0 - pl, 6) AS r1,
           ROUND(2.0 * (ph + pl + pc) / 3.0 - ph, 6) AS s1,
           ROUND((ph + pl + pc) / 3.0 + (ph - pl), 6) AS r2,
           ROUND((ph + pl + pc) / 3.0 - (ph - pl), 6) AS s2
    FROM lagged WHERE ph IS NOT NULL
    """,
    tags=("window", "risk", "indicator"),
    doc="classic floor-trader pivot levels for each session from the "
    "PREVIOUS day's high/low/close: P=(H+L+C)/3, R1=2P-L, S1=2P-H, "
    "R2=P+(H-L), S2=P-(H-L). Three lags share one window sort.",
)
def q_pivot_points_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _daily_bars(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("date")
    lagged = bars.select(
        "user_id",
        "date",
        F.lag("high").over(w).alias("ph"),
        F.lag("low").over(w).alias("pl"),
        F.lag("close").over(w).alias("pc"),
    ).filter(F.col("ph").isNotNull())
    p = (F.col("ph") + F.col("pl") + F.col("pc")) / 3.0
    return lagged.select(
        "user_id",
        "date",
        _r6(p).alias("pivot"),
        _r6(2.0 * p - F.col("pl")).alias("r1"),
        _r6(2.0 * p - F.col("ph")).alias("s1"),
        _r6(p + (F.col("ph") - F.col("pl"))).alias("r2"),
        _r6(p - (F.col("ph") - F.col("pl"))).alias("s2"),
    )


@_register(
    "drawdown_durations",
    oracle=_DAILY_CTE
    + f"""
    , uw AS (
      SELECT user_id, date, close,
             CASE WHEN close < MAX(close) OVER ({_WD}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             THEN 1 ELSE 0 END AS under,
             ROW_NUMBER() OVER ({_WD}) AS rn
      FROM daily
    ), isl AS (
      SELECT user_id, under,
             rn - ROW_NUMBER() OVER (PARTITION BY user_id, under ORDER BY rn)
               AS grp
      FROM uw
    ), streaks AS (
      SELECT user_id, COUNT(*) AS len
      FROM isl WHERE under = 1 GROUP BY user_id, grp
    )
    SELECT u.user_id,
           CAST(SUM(u.under) AS BIGINT) AS underwater_days,
           COALESCE(ANY_VALUE(s.max_len), 0) AS longest_drawdown_days
    FROM uw u LEFT JOIN (
      SELECT user_id, MAX(len) AS max_len FROM streaks GROUP BY user_id
    ) s ON u.user_id = s.user_id
    GROUP BY u.user_id ORDER BY u.user_id
    """,
    tags=("window", "risk", "islands"),
    doc="drawdown duration per user: days below the running peak close "
    "(underwater) and the longest consecutive underwater streak — the "
    "gaps-and-islands double-row_number pattern on top of a running "
    "max. All windows share the user_id partitioning; the island agg "
    "re-shuffles only (user_id, grp) pairs.",
)
def q_drawdown_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _daily_bars(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("date")
    runmax = F.max("close").over(w.rowsBetween(Window.unboundedPreceding, 0))
    uw = bars.select(
        "user_id",
        "date",
        F.when(F.col("close") < runmax, 1).otherwise(0).alias("under"),
        F.row_number().over(w).alias("rn"),
    )
    isl = uw.withColumn(
        "grp",
        F.col("rn")
        - F.row_number().over(
            Window.partitionBy("user_id", "under").orderBy("rn")
        ),
    )
    streaks = (
        isl.filter(F.col("under") == 1)
        .groupBy("user_id", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
        .groupBy("user_id")
        .agg(F.max("len").alias("max_len"))
    )
    return (
        uw.groupBy("user_id")
        .agg(F.sum("under").alias("underwater_days"))
        .join(F.broadcast(streaks), "user_id", "left")
        .select(
            "user_id",
            "underwater_days",
            F.coalesce(F.col("max_len"), F.lit(0)).alias(
                "longest_drawdown_days"
            ),
        )
        .orderBy("user_id")
    )


_LIQUID_CTE = """
, liquid AS (
  SELECT user_id FROM (
    SELECT user_id, COUNT(*) AS n_days,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id) AS lr
    FROM rets GROUP BY user_id
  ) WHERE lr <= 100
), lrets AS (
  SELECT r.* FROM rets r JOIN liquid l ON r.user_id = l.user_id
)
"""


def _liquid_returns(rets: DataFrame, top_n: int = 100) -> DataFrame:
    """Prune to the top-N most active series before any pair
    expansion — the stage that keeps pair screens bounded at ANY
    series cardinality. Integer sort key (n_days) with a full user_id
    tie-break so both engines elect the identical set."""
    # orderBy().limit(N) plans as TakeOrderedAndProject (per-task
    # top-N heaps, driver merge) — the earlier row_number() window
    # moved every distinct user through ONE task before keeping 100.
    liquid = (
        rets.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_days"))
        .orderBy(F.desc("n_days"), F.asc("user_id"))
        .limit(top_n)
        .select("user_id")
    )
    return rets.join(F.broadcast(liquid), "user_id")


@_register(
    "pairwise_return_corr",
    oracle=_RETURNS_CTE
    + _LIQUID_CTE
    + """
    SELECT a.user_id AS u1, b.user_id AS u2,
           COUNT(*) AS n_days,
           -- total-corr restatement: Spark's ANSI corr raises on a
           -- zero-variance side (a flat 20-day series), this form is
           -- NULL there in both engines (functions/nullsafe.py corr_nn)
           ROUND(covar_pop(a.r, b.r)
                 / nullif(stddev_pop(a.r) * stddev_pop(b.r), 0), 6)
             AS corr
    FROM lrets a JOIN lrets b ON a.date = b.date AND a.user_id < b.user_id
    GROUP BY a.user_id, b.user_id
    HAVING COUNT(*) >= 20
    ORDER BY ABS(ROUND(covar_pop(a.r, b.r)
                       / nullif(stddev_pop(a.r) * stddev_pop(b.r), 0), 6))
             DESC NULLS LAST, u1, u2
    LIMIT 15
    """,
    tags=("join", "risk", "agg"),
    doc="pairwise Pearson correlation of daily returns (u1 < u2, >= 20 "
    "common days), top-15 by |corr| — computed over the top-100 most "
    "active series. The liquidity prune is PART OF THE OPERATOR, not "
    "an optimization note: without it the per-date pair expansion is "
    "quadratic in series count (the 10x scale smoke measured 71x "
    "before the prune); with it the pair stage is a bounded K^2/2 "
    "regardless of how many series exist. Deterministic integer-keyed "
    "top-K so both engines elect the same set.",
)
def q_pairwise_return_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    rets = _liquid_returns(_daily_returns(spark, sf_dir))
    a = rets.alias("a")
    b = rets.alias("b")
    corr = F.round(corr_nn("a.r", "b.r"), 6)
    return (
        a.join(
            b,
            (F.col("a.date") == F.col("b.date"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("u1"), F.col("b.user_id").alias("u2")
        )
        .agg(F.count(F.lit(1)).alias("n_days"), corr.alias("corr"))
        .filter(F.col("n_days") >= 20)
        .orderBy(F.abs(F.col("corr")).desc(), "u1", "u2")
        .limit(15)
    )


_HA_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("date", T.DateType()),
        T.StructField("ha_open", T.DoubleType()),
        T.StructField("ha_high", T.DoubleType()),
        T.StructField("ha_low", T.DoubleType()),
        T.StructField("ha_close", T.DoubleType()),
    ]
)


def _ha_batch_kernel(batches):
    """Optimization r11 (guide §4.2): the grouped-map applyInPandas
    form paid ~4 ms of per-GROUP machinery per series (Arrow batch +
    pandas frame + sort per group), 100x the arithmetic at daily-bar
    series lengths. One mapInPandas pass over JVM-collected per-series
    arrays runs the identical ndarray recurrence per series and
    re-explodes in Python — same rows, same doubles."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        if len(pdf) == 0:
            continue
        uids = pdf["user_id"].to_numpy()
        dates = pdf["__dates"].to_numpy()
        opens = pdf["__opens"].to_numpy()
        highs = pdf["__highs"].to_numpy()
        lows = pdf["__lows"].to_numpy()
        closes = pdf["__closes"].to_numpy()
        out: dict[str, list] = {
            k: []
            for k in (
                "user_id",
                "date",
                "ha_open",
                "ha_high",
                "ha_low",
                "ha_close",
            )
        }
        for i in range(len(pdf)):
            o = np.asarray(opens[i], dtype=np.float64)
            h = np.asarray(highs[i], dtype=np.float64)
            lo = np.asarray(lows[i], dtype=np.float64)
            c = np.asarray(closes[i], dtype=np.float64)
            hc = (o + h + lo + c) / 4.0
            n = len(hc)
            ho = np.empty(n)
            prev_open = (o[0] + c[0]) / 2.0
            for t in range(n):
                ho[t] = prev_open
                prev_open = (prev_open + hc[t]) / 2.0
            out["user_id"].append(np.repeat(uids[i], n))
            out["date"].append(np.asarray(dates[i]))
            out["ha_open"].append(ho)
            out["ha_high"].append(np.maximum(h, np.maximum(ho, hc)))
            out["ha_low"].append(np.minimum(lo, np.minimum(ho, hc)))
            out["ha_close"].append(hc)
        yield pd.DataFrame({k: np.concatenate(v) for k, v in out.items()})


@_register(
    "heikin_ashi_daily",
    oracle=_DAILY_CTE
    + """
    , hc AS (
      SELECT user_id, date, open, high, low,
             (open + high + low + close) / 4.0 AS ha_close,
             first_value((open + close) / 2.0) OVER w0 AS seed,
             list(((open + high + low + close) / 4.0)) OVER (
               PARTITION BY user_id ORDER BY date
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prior_hc
      FROM daily
      WINDOW w0 AS (PARTITION BY user_id ORDER BY date)
    ), ha AS (
      SELECT user_id, date, high, low, ha_close,
             CASE WHEN prior_hc IS NULL OR len(prior_hc) = 0 THEN seed
                  ELSE list_reduce(list_prepend(seed, prior_hc),
                                   (acc, e) -> (acc + e) / 2.0)
             END AS ha_open
      FROM hc
    )
    SELECT user_id, date,
           ROUND(ha_open, 6) AS ha_open,
           ROUND(GREATEST(high, ha_open, ha_close), 6) AS ha_high,
           ROUND(LEAST(low, ha_open, ha_close), 6) AS ha_low,
           ROUND(ha_close, 6) AS ha_close
    FROM ha
    """,
    tags=("window", "indicator", "kernel"),
    doc="Heikin-Ashi smoothed candles on daily bars: ha_close is the "
    "OHLC mean, ha_open the recursion (prev_ha_open+prev_ha_close)/2 "
    "seeded at (open+close)/2. Recursive like EMA, so the Spark side "
    "is the linear one-pass per-series pandas kernel (Arrow batched, "
    "O(n) — the add_ema pattern); the oracle folds the same recursion "
    "with list_reduce, O(n^2) but only ever run at oracle scale.",
)
def q_heikin_ashi_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _daily_bars(spark, sf_dir)
    g = (
        bars.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("date", "open", "high", "low", "close")
                )
            ).alias("__s")
        )
        # tiny-bytes frame: spread before the Python stage or AQE
        # coalesces the kernel to ~1 task
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "user_id",
            F.expr("transform(__s, e -> e.date)").alias("__dates"),
            F.expr("transform(__s, e -> e.open)").alias("__opens"),
            F.expr("transform(__s, e -> e.high)").alias("__highs"),
            F.expr("transform(__s, e -> e.low)").alias("__lows"),
            F.expr("transform(__s, e -> e.close)").alias("__closes"),
        )
    )
    ha = g.mapInPandas(_ha_batch_kernel, schema=_HA_SCHEMA)
    return ha.select(
        "user_id",
        "date",
        _r6(F.col("ha_open")).alias("ha_open"),
        _r6(F.col("ha_high")).alias("ha_high"),
        _r6(F.col("ha_low")).alias("ha_low"),
        _r6(F.col("ha_close")).alias("ha_close"),
    )


# ---------------------------------------------------------------------------
# Corpus LM scoring, change detection, warehouse profiling, and
# lead-lag screening — four operator families rounding out the curation
# and monitoring surface.
#
# - bigram LM fluency (the 2-gram upgrade of doc_unigram_logprob):
#   conditional logprob ln(c(w1,w2)/c(w1)) averaged per document.
# - CUSUM change detection on daily returns: the recursive
#   max(0, acc+e) fold — pandas linear kernel on the Spark side,
#   list_reduce closed form in the oracle (the EMA/Heikin-Ashi pattern).
# - a column profiler over orders (null/distinct/min/max per column) —
#   the warehouse health check every ingest pipeline schedules.
# - lead-lag return correlation: corr(r_a[t], r_b[t-1]) across user
#   pairs — the screen for series that PREDICT each other rather than
#   co-move (pairwise_return_corr covers lag 0).


_CUSUM_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("date", T.DateType()),
        T.StructField("cusum_up", T.DoubleType()),
        T.StructField("cusum_dn", T.DoubleType()),
    ]
)


def _cusum_batch_kernel(batches):
    """Optimization r11 (guide §4.2): one mapInPandas pass over
    JVM-collected per-series arrays instead of grouped-map
    applyInPandas — the per-GROUP machinery (Arrow batch + pandas
    frame + sort per series) was ~100x the recurrence arithmetic at
    these series lengths. Identical ndarray loop, same doubles."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        if len(pdf) == 0:
            continue
        uids = pdf["user_id"].to_numpy()
        dates = pdf["__dates"].to_numpy()
        rss = pdf["__rs"].to_numpy()
        out: dict[str, list] = {
            k: [] for k in ("user_id", "date", "cusum_up", "cusum_dn")
        }
        for i in range(len(pdf)):
            rs = np.asarray(rss[i], dtype=np.float64)
            n = len(rs)
            ups = np.empty(n)
            dns = np.empty(n)
            up, dn = 0.0, 0.0
            for t in range(n):
                up = max(0.0, up + rs[t])
                dn = max(0.0, dn - rs[t])
                ups[t] = up
                dns[t] = dn
            out["user_id"].append(np.repeat(uids[i], n))
            out["date"].append(np.asarray(dates[i]))
            out["cusum_up"].append(ups)
            out["cusum_dn"].append(dns)
        yield pd.DataFrame({k: np.concatenate(v) for k, v in out.items()})


@_register(
    "cusum_returns",
    oracle=_RETURNS_CTE
    + """
    , folded AS (
      SELECT user_id, date,
             list_reduce(
               list_prepend(0.0, list(r) OVER w),
               (acc, e) -> greatest(0.0, acc + e)) AS cusum_up,
             list_reduce(
               list_prepend(0.0, list(-r) OVER w),
               (acc, e) -> greatest(0.0, acc + e)) AS cusum_dn
      FROM rets
      WINDOW w AS (PARTITION BY user_id ORDER BY date
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, date,
           ROUND(cusum_up, 6) AS cusum_up,
           ROUND(cusum_dn, 6) AS cusum_dn
    FROM folded
    """,
    tags=("window", "risk", "kernel"),
    doc="one-sided CUSUM change detectors on daily returns (upward and "
    "downward drift accumulators, zero-floored): S[t]=max(0,S[t-1]+x). "
    "Recursive, so Spark runs the linear per-series pandas kernel; "
    "the oracle folds the identical recursion with a zero-seeded "
    "list_reduce. The streaming twin of this shape belongs in "
    "transformWithState (see streaming/transform_state.py).",
)
def q_cusum_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    rets = _daily_returns(spark, sf_dir)
    g = (
        rets.groupBy("user_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("date", "r"))).alias("__s")
        )
        # tiny-bytes frame: spread before the Python stage or AQE
        # coalesces the kernel to ~1 task
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "user_id",
            F.expr("transform(__s, e -> e.date)").alias("__dates"),
            F.expr("transform(__s, e -> e.r)").alias("__rs"),
        )
    )
    out = g.mapInPandas(_cusum_batch_kernel, schema=_CUSUM_SCHEMA)
    return out.select(
        "user_id",
        "date",
        _r6(F.col("cusum_up")).alias("cusum_up"),
        _r6(F.col("cusum_dn")).alias("cusum_dn"),
    )


@_register(
    "leadlag_return_corr",
    oracle=_RETURNS_CTE
    + _LIQUID_CTE
    + """
    SELECT a.user_id AS leader, b.user_id AS follower,
           COUNT(*) AS n_days,
           -- total-corr restatement (see functions/nullsafe.py corr_nn):
           -- NULL on a zero-variance side instead of Spark's ANSI raise
           ROUND(covar_pop(a.r, b.r)
                 / nullif(stddev_pop(a.r) * stddev_pop(b.r), 0), 6)
             AS leadlag_corr
    FROM lrets a
    JOIN lrets b ON b.date = a.date + INTERVAL 1 DAY
               AND a.user_id != b.user_id
    GROUP BY a.user_id, b.user_id
    HAVING COUNT(*) >= 20
    ORDER BY ABS(ROUND(covar_pop(a.r, b.r)
                       / nullif(stddev_pop(a.r) * stddev_pop(b.r), 0), 6))
             DESC NULLS LAST, leader, follower
    LIMIT 15
    """,
    tags=("join", "risk", "agg"),
    doc="lead-lag screen: correlation of user A's return on day t with "
    "user B's return on day t+1 (does A lead B?). Directional pairs "
    "(A,B) != (B,A); >= 20 overlapping days; top-15 by |corr|. Runs "
    "over the same top-100 liquidity prune as pairwise_return_corr — "
    "the stage that keeps the per-date pair expansion bounded at any "
    "series cardinality.",
)
def q_leadlag_return_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    rets = _liquid_returns(_daily_returns(spark, sf_dir))
    a = rets.alias("a")
    b = rets.alias("b")
    corr = F.round(corr_nn("a.r", "b.r"), 6)
    return (
        a.join(
            b,
            (F.col("b.date") == F.date_add(F.col("a.date"), 1))
            & (F.col("a.user_id") != F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("leader"),
            F.col("b.user_id").alias("follower"),
        )
        .agg(F.count(F.lit(1)).alias("n_days"), corr.alias("leadlag_corr"))
        .filter(F.col("n_days") >= 20)
        .orderBy(F.abs(F.col("leadlag_corr")).desc(), "leader", "follower")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Corpus novelty decay and classical seasonal decomposition — one
# curation-ordering operator and one time-series structure operator.
#
# `doc_ngram_novelty` measures, for each document in arrival (doc_id)
# order, the share of its 5-gram shingles never seen in any earlier
# document — the novelty curve dedup/sampling pipelines use to decide
# when a source is exhausted. The global first-seen table is one shuffle
# on the gram key (the decontamination_overlap shape).
#
# `revenue_seasonal_decompose` is the additive trend/seasonal/residual
# split on monthly revenue: centered 13-month moving average as trend,
# month-of-year mean of the detrended series as the seasonal component.
# Revenue snaps to integer cents before any window (the cohort-LTV
# discipline).


@_register(
    "revenue_seasonal_decompose",
    oracle="""
    WITH monthly AS (
      -- date-less orders have no month on the axis; worse, a NULL m
      -- in the window ORDER BY is placed UNSTABLY by DuckDB's
      -- parallel window sort (flips ends run-to-run) and at the
      -- opposite end by Spark — excluded on both engines
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             CAST(ROUND(SUM((CASE WHEN NOT isfinite(o_totalprice) THEN NULL ELSE o_totalprice END) * 100)) AS BIGINT) AS cents
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ), trended AS (
      SELECT m, cents,
             CASE WHEN COUNT(*) OVER w = 13
                  THEN AVG(cents) OVER w END AS trend_cents
      FROM monthly
      WINDOW w AS (ORDER BY m ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
    ), detrended AS (
      SELECT m, cents, trend_cents,
             cents - trend_cents AS dt
      FROM trended
    ), seasonal AS (
      SELECT EXTRACT(month FROM m) AS moy, AVG(dt) AS s_cents
      FROM detrended WHERE dt IS NOT NULL GROUP BY 1
    )
    SELECT d.m AS month,
           ROUND(d.cents / 100.0, 4) AS revenue,
           ROUND(d.trend_cents / 100.0, 4) AS trend,
           ROUND(s.s_cents / 100.0, 4) AS seasonal,
           ROUND((d.dt - s.s_cents) / 100.0, 4) AS residual
    FROM detrended d
    JOIN seasonal s ON EXTRACT(month FROM d.m) = s.moy
    ORDER BY d.m
    """,
    tags=("window", "agg", "seasonal"),
    doc="additive seasonal decomposition of monthly revenue: trend = "
    "centered 13-month moving average (strict full window), seasonal "
    "= month-of-year mean of the detrended series, residual = the "
    "rest. Monthly revenue snaps to integer cents first, so the "
    "windows fold exact integers; the series itself is months-sized "
    "metadata after one fact shuffle.",
)
def q_revenue_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    monthly = o.groupBy(
        F.trunc("o_orderdate", "month").alias("m")
    ).agg(
        F.round(F.sum(nan_nn("o_totalprice") * 100))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("m").rowsBetween(-6, 6)
    trended = monthly.select(
        "m",
        "cents",
        F.when(F.count(F.lit(1)).over(w) == 13, F.avg("cents").over(w)).alias(
            "trend_cents"
        ),
    )
    detrended = trended.withColumn(
        "dt", F.col("cents") - F.col("trend_cents")
    )
    seasonal = (
        detrended.filter(F.col("dt").isNotNull())
        .groupBy(F.month("m").alias("moy"))
        .agg(F.avg("dt").alias("s_cents"))
    )
    return (
        detrended.join(
            F.broadcast(seasonal), F.month("m") == F.col("moy")
        )
        .select(
            F.col("m").alias("month"),
            _r4(F.col("cents") / 100.0).alias("revenue"),
            _r4(F.col("trend_cents") / 100.0).alias("trend"),
            _r4(F.col("s_cents") / 100.0).alias("seasonal"),
            _r4((F.col("dt") - F.col("s_cents")) / 100.0).alias("residual"),
        )
        .orderBy("month")
    )


_HW_ALPHA, _HW_BETA = 0.5, 0.3


@_register(
    "holt_linear_trend",
    oracle=_BARS_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + f"""
    , bt AS (
      SELECT user_id, bucket_start, close,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY bucket_start) - 1 AS t,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM bars
    ), state AS (
      SELECT b0.user_id, 0 AS t, b0.close AS l,
             b1.close - b0.close AS b
      FROM bt b0 JOIN bt b1
        ON b0.user_id = b1.user_id AND b0.t = 0 AND b1.t = 1
      WHERE b0.n >= 2
      UNION ALL
      SELECT s.user_id, n.t,
             {_HW_ALPHA} * n.close + {1 - _HW_ALPHA} * (s.l + s.b),
             {_HW_BETA} * (({_HW_ALPHA} * n.close
                            + {1 - _HW_ALPHA} * (s.l + s.b)) - s.l)
               + {1 - _HW_BETA} * s.b
      FROM state s JOIN bt n
        ON n.user_id = s.user_id AND n.t = s.t + 1
    )
    SELECT bt.user_id, bt.bucket_start,
           ROUND(s.l, 6) AS level,
           ROUND(s.b, 6) AS trend,
           ROUND(s.l + s.b, 6) AS forecast
    FROM state s JOIN bt USING (user_id, t)
    """,
    tags=("window", "indicator", "forecast"),
    doc="Holt's double exponential smoothing (level + linear trend, "
    "alpha 0.5 / beta 0.3, classic init l0=y0, b0=y1-y0) per series "
    "over hourly bars, with the one-step-ahead forecast. A TWO-state "
    "recursion, so neither a window frame nor a scalar list_reduce "
    "can express it: the Spark side folds a named_struct accumulator "
    "with `aggregate` entirely in codegen (one shuffle, the same "
    "bounded-series contract as the MACD fold), and the oracle runs a "
    "LOCKSTEP RECURSIVE CTE — all series advance one step per "
    "iteration, depth = max series length. Scalar recursion means "
    "identical operation order in both engines, so values match "
    "bit-for-bit before rounding.",
)
def q_holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir).select("user_id", "bucket_start", "close")
    a, b_ = _HW_ALPHA, _HW_BETA
    newl = f"{a!r} * x + {1 - a!r} * (acc.l + acc.b)"
    newb = f"{b_!r} * (({newl}) - acc.l) + {1 - b_!r} * acc.b"
    fold = (
        "aggregate("
        "  slice(s.close, 2, size(s.close) - 1), "
        "  named_struct("
        "    'l', CAST(s.close[0] AS DOUBLE), "
        "    'b', CAST(s.close[1] - s.close[0] AS DOUBLE), "
        "    'lev', array(CAST(s.close[0] AS DOUBLE)), "
        "    'tr', array(CAST(s.close[1] - s.close[0] AS DOUBLE))), "
        "  (acc, x) -> named_struct("
        f"    'l', {newl}, "
        f"    'b', {newb}, "
        f"    'lev', array_append(acc.lev, {newl}), "
        f"    'tr', array_append(acc.tr, {newb})))"
    )
    g = (
        bars.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("bucket_start", "close"))
            ).alias("s")
        )
        .filter(F.size("s") >= 2)
        .withColumn("st", F.expr(fold))
    )
    z = g.select(
        "user_id",
        F.explode(
            F.arrays_zip(
                F.col("s"),
                F.col("st.lev").alias("level"),
                F.col("st.tr").alias("trend"),
            )
        ).alias("z"),
    )
    return z.select(
        "user_id",
        F.col("z.s.bucket_start").alias("bucket_start"),
        _r6(F.col("z.level")).alias("level"),
        _r6(F.col("z.trend")).alias("trend"),
        _r6(F.col("z.level") + F.col("z.trend")).alias("forecast"),
    )


_HW_M = 24          # daily seasonality over hourly bars
_HW_G = 0.2         # gamma (seasonal smoothing)


def _hw_fold_sql(a: float, b_: float, g: float, m: int) -> str:
    """The Spark-side Holt-Winters fold: a named_struct accumulator
    carrying (l, b, seasonal array, step counter, output arrays),
    advanced once per observation past the first season. Expressions
    are inlined (SQL lambdas bind no intermediates), so newl appears
    inside newb and news verbatim — identical scalar operation order
    to the oracle's recursive CTE."""
    sprev = f"element_at(acc.seas, pmod(acc.t, {m}) + 1)"
    newl = f"({a!r} * (x - {sprev}) + {1 - a!r} * (acc.l + acc.b))"
    newb = f"({b_!r} * ({newl} - acc.l) + {1 - b_!r} * acc.b)"
    news = f"({g!r} * (x - {newl}) + {1 - g!r} * {sprev})"
    fitted = f"((acc.l + acc.b) + {sprev})"
    l0 = f"(aggregate(slice(s.close, 1, {m}), CAST(0.0 AS DOUBLE), (a0, x0) -> a0 + x0) / {m})"
    seas0 = f"transform(slice(s.close, 1, {m}), x0 -> CAST(x0 AS DOUBLE) - {l0})"
    return (
        f"aggregate(slice(s.close, {m + 1}, size(s.close) - {m}), "
        f"named_struct("
        f"  'l', CAST({l0} AS DOUBLE), 'b', CAST(0.0 AS DOUBLE), "
        f"  'seas', {seas0}, 't', {m}, "
        f"  'lev', array()::array<double>, 'tr', array()::array<double>, "
        f"  'sv', array()::array<double>, 'fit', array()::array<double>), "
        f"(acc, x) -> named_struct("
        f"  'l', {newl}, 'b', {newb}, "
        f"  'seas', transform(acc.seas, (v2, i2) -> IF(i2 = pmod(acc.t, {m}), {news}, v2)), "
        f"  't', acc.t + 1, "
        f"  'lev', array_append(acc.lev, {newl}), "
        f"  'tr', array_append(acc.tr, {newb}), "
        f"  'sv', array_append(acc.sv, {news}), "
        f"  'fit', array_append(acc.fit, {fitted})))"
    )


def _hw_oracle(a: float, b_: float, g: float, m: int) -> str:
    # the observation being folded is n.t = s.t + 1; its seasonal slot
    # is (s.t + 1) % m — matching the Spark fold's pmod(acc.t, m)
    # (acc.t counts observations already processed, starting at m)
    sprev = f"s.seas[((s.t + 1) % {m}) + 1]"
    newl = f"({a!r} * (n.close - {sprev}) + {1 - a!r} * (s.l + s.b))"
    newb = f"({b_!r} * ({newl} - s.l) + {1 - b_!r} * s.b)"
    news = f"({g!r} * (n.close - {newl}) + {1 - g!r} * {sprev})"
    fitted = f"((s.l + s.b) + {sprev})"
    return (
        "\n    , bt AS ("
        "\n      SELECT user_id, bucket_start, close,"
        "\n             ROW_NUMBER() OVER (PARTITION BY user_id"
        "\n                                ORDER BY bucket_start) - 1 AS t,"
        "\n             COUNT(*) OVER (PARTITION BY user_id) AS n"
        "\n      FROM bars"
        "\n    ), init AS ("
        f"\n      SELECT user_id,"
        f"\n             list_reduce(list(close ORDER BY t), (a0, x0) -> a0 + x0) / {m} AS l0,"
        f"\n             list_transform(list(close ORDER BY t),"
        f"\n               x0 -> x0 - list_reduce(list(close ORDER BY t), (a1, x1) -> a1 + x1) / {m}) AS seas"
        f"\n      FROM bt WHERE t < {m}"
        f"\n      GROUP BY user_id"
        f"\n      HAVING COUNT(*) = {m}"
        "\n    ), state AS ("
        f"\n      SELECT user_id, {m} - 1 AS t, l0 AS l, 0.0::DOUBLE AS b,"
        "\n             seas, NULL::DOUBLE AS fitted, NULL::DOUBLE AS snew"
        "\n      FROM init"
        "\n      UNION ALL"
        f"\n      SELECT s.user_id, n.t, {newl}, {newb},"
        f"\n             list_transform(s.seas,"
        f"\n               (v2, i2) -> CASE WHEN i2 - 1 = (s.t + 1) % {m}"
        f"\n                                THEN {news} ELSE v2 END),"
        f"\n             {fitted}, {news}"
        "\n      FROM state s JOIN bt n"
        "\n        ON n.user_id = s.user_id AND n.t = s.t + 1"
        "\n    )"
    )


@_register(
    "holt_winters_additive",
    oracle=_BARS_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + _hw_oracle(_HW_ALPHA, _HW_BETA, _HW_G, _HW_M)
    + f"""
    SELECT bt.user_id, bt.bucket_start,
           ROUND(s.l, 6) AS level,
           ROUND(s.b, 6) AS trend,
           ROUND(s.snew, 6) AS seasonal,
           ROUND(s.fitted, 6) AS fitted
    FROM state s JOIN bt USING (user_id, t)
    WHERE s.t >= {_HW_M}
    """,
    tags=("window", "indicator", "forecast", "iterative"),
    doc="Holt-Winters ADDITIVE triple smoothing (alpha 0.5, beta 0.3, "
    "gamma 0.2, period 24 = daily seasonality over hourly bars): "
    "level, trend, a 24-slot seasonal state array updated cyclically, "
    "and the in-sample one-step forecast (l+b+s_{t-m}). Init: l0 = "
    "mean of the first season (left-fold, same summation order both "
    "engines), b0 = 0, s_i = y_i - l0. THREE-variable recursion with "
    "ARRAY state: the Spark fold carries the seasonal array inside a "
    "named_struct accumulator and rewrites one slot per step with an "
    "indexed transform — all codegen, one shuffle; the oracle carries "
    "the same list through a lockstep recursive CTE. The hardest "
    "state shape any per-series kernel here uses; if the slot "
    "arithmetic, 0/1-based indexing, or operation order diverged "
    "anywhere, the bit-for-bit hash would fail.",
)
def q_holt_winters_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir).select("user_id", "bucket_start", "close")
    m = _HW_M
    g = (
        bars.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("bucket_start", "close"))
            ).alias("s")
        )
        .filter(F.size("s") > m)
        .withColumn(
            "st", F.expr(_hw_fold_sql(_HW_ALPHA, _HW_BETA, _HW_G, m))
        )
    )
    z = g.select(
        "user_id",
        F.slice(F.col("s"), m + 1, F.size("s") - m).alias("tail"),
        "st",
    ).select(
        "user_id",
        F.explode(
            F.arrays_zip(
                F.col("tail"),
                F.col("st.lev").alias("level"),
                F.col("st.tr").alias("trend"),
                F.col("st.sv").alias("seasonal"),
                F.col("st.fit").alias("fitted"),
            )
        ).alias("z"),
    )
    return z.select(
        "user_id",
        F.col("z.tail.bucket_start").alias("bucket_start"),
        _r6(F.col("z.level")).alias("level"),
        _r6(F.col("z.trend")).alias("trend"),
        _r6(F.col("z.seasonal")).alias("seasonal"),
        _r6(F.col("z.fitted")).alias("fitted"),
    )


# ---------------------------------------------------------------------------
# State-space filtering over the hourly bar series: a local-level
# Kalman filter and RiskMetrics EWMA volatility.
#
# Reference parity: the reference's dashboard smooths price series with
# moving averages (app/dashboard.py chart panels); these are the two
# state-space upgrades of that smoothing a quant pipeline reaches for —
# an optimal-gain level tracker (Kalman) and the exponentially-weighted
# variance estimator (RiskMetrics lambda=0.94) that backs its VaR
# cousins (`var_cvar_95` above).
#
# Both are scalar recursions that neither a window frame nor a plain
# list_reduce can express (the Kalman gain depends on the evolving
# error covariance, the EWMA variance on the previous variance), so the
# Spark side folds a named_struct accumulator with `aggregate` entirely
# in codegen — one shuffle to collect each bounded series, the same
# contract as the MACD/Holt folds — and the oracles run LOCKSTEP
# RECURSIVE CTEs (all series advance one step per iteration). Scalar
# operation order is identical in both engines, so values match
# bit-for-bit before rounding.


# Local-level model: y_t = l_t + eps (var R), l_t = l_{t-1} + eta
# (var Q). Fixed, unit-consistent noise variances; the filter's
# behavior is governed by the ratio Q/R.
_KF_Q, _KF_R = 0.1, 1.0


# The same inlined-expression discipline as the Holt fold: SQL
# lambdas bind no intermediates, so the gain expression appears
# verbatim inside level/covariance updates — mirroring the oracle's
# textual recursion keeps scalar operation order identical.
_KF_PPRED = f"(acc.p + {_KF_Q!r})"
_KF_GAIN = f"({_KF_PPRED} / ({_KF_PPRED} + {_KF_R!r}))"
_KF_NEWL = f"(acc.l + {_KF_GAIN} * (x - acc.l))"
_KF_NEWP = f"((1.0 - {_KF_GAIN}) * {_KF_PPRED})"


@_register(
    "kalman_local_level",
    oracle=_BARS_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + f"""
    , bt AS (
      SELECT user_id, bucket_start, close,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY bucket_start) - 1 AS t,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM bars
    ), state AS (
      SELECT user_id, 0 AS t, CAST(close AS DOUBLE) AS l,
             CAST({_KF_R!r} AS DOUBLE) AS p,
             CAST(NULL AS DOUBLE) AS gain,
             CAST(NULL AS DOUBLE) AS innovation
      FROM bt WHERE t = 0
      UNION ALL
      SELECT s.user_id, b.t,
             (s.l + ((s.p + {_KF_Q!r}) / ((s.p + {_KF_Q!r}) + {_KF_R!r}))
                    * (b.close - s.l)),
             ((1.0 - ((s.p + {_KF_Q!r}) / ((s.p + {_KF_Q!r}) + {_KF_R!r})))
                    * (s.p + {_KF_Q!r})),
             ((s.p + {_KF_Q!r}) / ((s.p + {_KF_Q!r}) + {_KF_R!r})),
             (b.close - s.l)
      FROM state s JOIN bt b
        ON b.user_id = s.user_id AND b.t = s.t + 1
    )
    SELECT b.user_id, b.bucket_start, ROUND(b.close, 6) AS close,
           ROUND(s.l, 6) AS level,
           ROUND(s.p, 6) AS err_var,
           ROUND(s.gain, 6) AS gain,
           ROUND(s.innovation, 6) AS innovation
    FROM state s JOIN bt b USING (user_id, t)
    """,
    tags=("window", "indicator", "statespace"),
    doc="Local-level Kalman filter (random-walk level, Q=0.1, R=1.0, "
    "init l0=y0, P0=R) per series over hourly bars: filtered level, "
    "posterior error variance, gain, and one-step innovation. The "
    "gain adapts per step from the error covariance — a TWO-state "
    "recursion folded JVM-side via `aggregate` with a named_struct "
    "accumulator (one shuffle, bounded-series contract shared with "
    "the MACD/Holt folds); the oracle advances every series in "
    "lockstep through a RECURSIVE CTE. Identical scalar operation "
    "order in both engines -> bit-for-bit agreement before rounding. "
    "At 100 TB the per-series state is two doubles; the collect is "
    "bounded by series length, not corpus size.",
)
def q_kalman_local_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir).select(
        "user_id", "bucket_start", "close"
    )
    fold = (
        "aggregate("
        "  slice(s.close, 2, size(s.close) - 1), "
        "  named_struct("
        "    'l', CAST(s.close[0] AS DOUBLE), "
        f"    'p', CAST({_KF_R!r} AS DOUBLE), "
        "    'lev', array(CAST(s.close[0] AS DOUBLE)), "
        f"    'pv', array(CAST({_KF_R!r} AS DOUBLE)), "
        "    'g', array(CAST(NULL AS DOUBLE)), "
        "    'inn', array(CAST(NULL AS DOUBLE))), "
        "  (acc, x) -> named_struct("
        f"    'l', {_KF_NEWL}, "
        f"    'p', {_KF_NEWP}, "
        f"    'lev', array_append(acc.lev, {_KF_NEWL}), "
        f"    'pv', array_append(acc.pv, {_KF_NEWP}), "
        f"    'g', array_append(acc.g, {_KF_GAIN}), "
        "    'inn', array_append(acc.inn, x - acc.l)))"
    )
    g = (
        bars.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("bucket_start", "close"))
            ).alias("s")
        )
        .withColumn("st", F.expr(fold))
    )
    z = g.select(
        "user_id",
        F.explode(
            F.arrays_zip(
                F.col("s"),
                F.col("st.lev").alias("level"),
                F.col("st.pv").alias("err_var"),
                F.col("st.g").alias("gain"),
                F.col("st.inn").alias("innovation"),
            )
        ).alias("z"),
    )
    return z.select(
        "user_id",
        F.col("z.s.bucket_start").alias("bucket_start"),
        _r6(F.col("z.s.close")).alias("close"),
        _r6(F.col("z.level")).alias("level"),
        _r6(F.col("z.err_var")).alias("err_var"),
        _r6(F.col("z.gain")).alias("gain"),
        _r6(F.col("z.innovation")).alias("innovation"),
    )


_EWMA_LAMBDA = 0.94


@_register(
    "ewma_volatility",
    oracle=_BARS_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + f"""
    , rt AS (
      SELECT user_id, bucket_start, close,
             CASE WHEN close > 0
                   AND lag(close) OVER (PARTITION BY user_id
                                        ORDER BY bucket_start) > 0
                  THEN ln(close / lag(close) OVER (PARTITION BY user_id
                                                   ORDER BY bucket_start))
             END AS r
      FROM bars
    ), bt AS (
      SELECT user_id, bucket_start, r,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY bucket_start) - 1 AS t
      FROM rt WHERE r IS NOT NULL
    ), state AS (
      SELECT user_id, 0 AS t, r * r AS s2 FROM bt WHERE t = 0
      UNION ALL
      SELECT s.user_id, b.t,
             {_EWMA_LAMBDA!r} * s.s2
               + {1 - _EWMA_LAMBDA!r} * (b.r * b.r)
      FROM state s JOIN bt b
        ON b.user_id = s.user_id AND b.t = s.t + 1
    )
    SELECT b.user_id, b.bucket_start,
           ROUND(b.r, 6) AS log_return,
           ROUND(sqrt(s.s2), 6) AS ewma_vol
    FROM state s JOIN bt b USING (user_id, t)
    """,
    tags=("window", "indicator", "statespace", "risk"),
    doc="RiskMetrics EWMA volatility (lambda=0.94, init sigma2_1 = "
    "r1^2) over hourly log returns per series — the exponentially-"
    "weighted variance that backs parametric VaR (var_cvar_95 "
    "computes the historical kind). Returns come from one lag window "
    "sharing the per-series sort with the collect; the variance "
    "recursion folds JVM-side (named_struct accumulator, same "
    "bounded-series contract as the EMA family) against a lockstep "
    "recursive-CTE oracle — bit-for-bit scalar parity. State per "
    "series is one double; nothing driver-side.",
)
def q_ewma_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _hourly_bars(spark, sf_dir).select(
        "user_id", "bucket_start", "close"
    )
    w = Window.partitionBy("user_id").orderBy("bucket_start")
    rt = bars.select(
        "user_id",
        "bucket_start",
        # a zero/negative close breaks the return series rather than
        # the job: sf0.1 bars contain close == 0, and under ANSI the
        # unguarded ratio is a DIVIDE_BY_ZERO error (ln of a
        # non-positive ratio is no better); the CASE guard is mirrored
        # in the oracle so both engines drop the same rows
        F.when(
            (F.col("close") > 0) & (F.lag("close").over(w) > 0),
            F.log(F.col("close") / F.lag("close").over(w)),
        ).alias("r"),
    ).filter(F.col("r").isNotNull())
    lam = _EWMA_LAMBDA
    newv = f"{lam!r} * acc.s2 + {1 - lam!r} * (x * x)"
    fold = (
        "aggregate("
        "  slice(sr, 2, size(sr) - 1), "
        "  named_struct("
        "    's2', CAST(sr[0] * sr[0] AS DOUBLE), "
        "    'out', array(CAST(sr[0] * sr[0] AS DOUBLE))), "
        "  (acc, x) -> named_struct("
        f"    's2', {newv}, "
        f"    'out', array_append(acc.out, {newv})))"
    )
    g = (
        rt.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("bucket_start", "r"))
            ).alias("s")
        )
        .withColumn("sr", F.expr("transform(s, e -> e.r)"))
        .withColumn("st", F.expr(fold))
    )
    z = g.select(
        "user_id",
        F.explode(
            F.arrays_zip(F.col("s"), F.col("st.out").alias("s2"))
        ).alias("z"),
    )
    return z.select(
        "user_id",
        F.col("z.s.bucket_start").alias("bucket_start"),
        _r6(F.col("z.s.r")).alias("log_return"),
        _r6(F.sqrt(F.col("z.s2"))).alias("ewma_vol"),
    )


@_register(
    "kalman_events_batch",
    oracle=f"""
    WITH RECURSIVE bt AS (
      -- finite-tick substream: round-6 sensor-garbage contract,
      -- mirrored in the streaming kernel (_finite_ticks) and the
      -- Spark batch twin so all three agree on degenerate corpora
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS t,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events
      WHERE value IS NOT NULL AND isfinite(value)
    ), state AS (
      SELECT user_id, 0 AS t, n, CAST(value AS DOUBLE) AS l,
             CAST({_KF_R!r} AS DOUBLE) AS p
      FROM bt WHERE t = 0
      UNION ALL
      SELECT s.user_id, b.t, s.n,
             (s.l + ((s.p + {_KF_Q!r}) / ((s.p + {_KF_Q!r}) + {_KF_R!r}))
                    * (b.value - s.l)),
             ((1.0 - ((s.p + {_KF_Q!r}) / ((s.p + {_KF_Q!r}) + {_KF_R!r})))
                    * (s.p + {_KF_Q!r}))
      FROM state s JOIN bt b
        ON b.user_id = s.user_id AND b.t = s.t + 1
    )
    SELECT user_id, n AS n_obs,
           ROUND(l, 6) AS level, ROUND(p, 6) AS err_var
    FROM state WHERE t = n - 1
    ORDER BY user_id
    """,
    tags=("statespace", "streaming"),
    doc="FINAL Kalman state per user over the raw event sequence "
    "(local-level filter, same Q/R as `kalman_local_level` but "
    "per-event observations) — the batch twin of the STREAMING "
    "stateful Kalman operator (streaming/transform_state.py:"
    "running_kalman_filter): the stream folds the identical "
    "recursion across micro-batches with (l, p, n) in keyed state, "
    "and tests assert its final rows equal this query under any "
    "batch split. Spark side: one scalar fold per series (no output "
    "arrays — final state only); oracle: lockstep recursive CTE.",
)
def q_kalman_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_spark.functions.nullsafe import not_finite

    ev = (
        _t(spark, sf_dir, "events")
        .select("user_id", "ts", "value")
        .filter(F.col("value").isNotNull() & ~not_finite("value"))
    )
    fold = (
        "aggregate("
        "  slice(sv, 2, size(sv) - 1), "
        "  named_struct("
        "    'l', CAST(sv[0] AS DOUBLE), "
        f"    'p', CAST({_KF_R!r} AS DOUBLE)), "
        "  (acc, x) -> named_struct("
        f"    'l', {_KF_NEWL}, "
        f"    'p', {_KF_NEWP}))"
    )
    g = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("ts", "value"))).alias("s")
        )
        .withColumn("sv", F.expr("transform(s, e -> e.value)"))
        .withColumn("st", F.expr(fold))
    )
    return g.select(
        "user_id",
        F.size("sv").cast("bigint").alias("n_obs"),
        _r6(F.col("st.l")).alias("level"),
        _r6(F.col("st.p")).alias("err_var"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Robust / diagnostic statistics over the event series: Theil-Sen
# trend, single-changepoint detection, and a multi-lag autocorrelation
# profile.
#
# Reference parity: the reference fits visual trendlines and eyeballs
# regime changes on its dashboard charts (app/dashboard.py); these are the
# estimator-grade versions — a median-of-slopes trend immune to the
# outlier spikes the quality filters (operators/quality.py) otherwise
# have to catch, an exact least-squares changepoint, and the ACF
# profile that generalizes `hourly_count_autocorr` from lag 1 to a
# 1..12 correlogram.
#
# All three are pure Column algebra (no Python), shaped for scale:
# pair expansion happens in-row over per-entity collected arrays
# (bounded by series length, never a corpus self-join), the
# changepoint scan is two integer prefix-sum windows, and the ACF runs
# on the HOURS x TYPES rollup, never the raw events.


@_register(
    "theil_sen_trend",
    oracle="""
    WITH daily AS (
      -- HAVING: an all-NULL day has no close and contributes neither
      -- a pair slope nor a residual (mirrored on the Spark side)
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
             last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) AS close
      FROM events GROUP BY 1, 2
      HAVING last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) IS NOT NULL
    ), dn AS (
      SELECT user_id, close,
             date_diff('day', DATE '1970-01-01', d) AS t
      FROM daily
    ), slopes AS (
      SELECT a.user_id,
             (b.close - a.close) / CAST(b.t - a.t AS DOUBLE) AS slope
      FROM dn a JOIN dn b
        ON a.user_id = b.user_id AND a.t < b.t
    ), fit AS (
      SELECT user_id, COUNT(*) AS n_pairs,
             quantile_cont(slope, 0.5) AS ts_slope
      FROM slopes GROUP BY user_id
    )
    SELECT d.user_id,
           COUNT(*) AS n_days,
           MAX(f.n_pairs) AS n_pairs,
           -- + 0.0 canonicalizes IEEE negative zero: DuckDB's ROUND
           -- of a tiny negative returns -0.0 where Spark's BigDecimal
           -- round returns +0.0 — equal values, different hash
           ROUND(MAX(f.ts_slope), 6) + 0.0 AS ts_slope,
           ROUND(quantile_cont(d.close - f.ts_slope * d.t, 0.5), 6) + 0.0
             AS ts_intercept
    FROM dn d JOIN fit f USING (user_id)
    GROUP BY d.user_id
    ORDER BY d.user_id
    """,
    tags=("robust", "trend", "agg"),
    doc="Theil-Sen robust trend per series over daily closes: slope = "
    "median of all pairwise slopes, intercept = median of (y - "
    "slope*t) — breakdown point 29%, unmoved by the price spikes "
    "that wreck OLS. ONE shuffle total: the O(days^2) pair set, its "
    "median, and the residual median all evaluate IN-ROW over each "
    "series' sorted (day, close) array (flatten/transform + "
    "array_sort medians) — the first cut exploded the slope multiset "
    "back through a second shuffle and went 16x at 10x data; this "
    "form measured 10x -> ~1x because per-series work never touches "
    "another exchange. The oracle states the same multiset as a "
    "within-user self-join with quantile_cont; the in-row median "
    "applies the identical (n-1)*0.5 interpolation to the identical "
    "multiset, so values agree bit-for-bit.",
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
        )
        .agg(max_by_nn(nan_nn("value"), "ts").alias("close"))
        .filter(F.col("close").isNotNull())
    )
    dn = daily.select(
        "user_id",
        F.datediff("d", F.lit("1970-01-01")).alias("t"),
        "close",
    )
    g = dn.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("t", "close"))).alias("s")
    )

    # exact interpolated median of a DOUBLE array, entirely in-row:
    # identical definition to percentile(x, 0.5)/quantile_cont
    def med(arr: str) -> str:
        srt = f"array_sort({arr})"
        n = f"size({arr})"
        return (
            f"IF({n} % 2 = 1, "
            f"element_at({srt}, CAST(({n} + 1) DIV 2 AS INT)), "
            f"(element_at({srt}, CAST({n} DIV 2 AS INT)) "
            f" + element_at({srt}, CAST({n} DIV 2 + 1 AS INT))) / 2.0)"
        )

    slopes = (
        "flatten(transform(s, (x, i) -> "
        "transform(slice(s, i + 2, size(s)), "
        "y -> (y.close - x.close) / CAST(y.t - x.t AS DOUBLE))))"
    )
    fit = (
        g.filter(F.size("s") >= 2)
        .withColumn("sl", F.expr(slopes))
        .withColumn("slope", F.expr(med("sl")))
        .withColumn(
            "res",
            F.expr("transform(s, e -> e.close - slope * e.t)"),
        )
    )
    return fit.select(
        "user_id",
        F.size("s").alias("n_days"),
        F.size("sl").cast("bigint").alias("n_pairs"),
        _r6(F.col("slope")).alias("ts_slope"),
        _r6(F.expr(med("res"))).alias("ts_intercept"),
    ).orderBy("user_id")


@_register(
    "changepoint_binseg",
    oracle="""
    WITH bars AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket_start,
             CAST(round(last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) * 100) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), pre AS (
      SELECT user_id, bucket_start,
             ROW_NUMBER() OVER w AS t,
             SUM(cents) OVER w AS s,
             SUM(cents * cents) OVER w AS s2,
             COUNT(*) OVER (PARTITION BY user_id) AS n,
             SUM(cents) OVER (PARTITION BY user_id) AS sn,
             SUM(cents * cents) OVER (PARTITION BY user_id) AS s2n
      FROM bars
      WINDOW w AS (PARTITION BY user_id ORDER BY bucket_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), cost AS (
      SELECT user_id, bucket_start, t, n,
             (CAST(s2 AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / t)
             + (CAST(s2n - s2 AS DOUBLE)
                - CAST(sn - s AS DOUBLE) * CAST(sn - s AS DOUBLE)
                  / (n - t)) AS split_cost,
             CAST(s2n AS DOUBLE)
               - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / n
               AS base_cost
      FROM pre WHERE t < n
    ), best AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY split_cost, t) AS rk
      FROM cost
    )
    SELECT user_id, n AS n_obs, t AS split_t,
           bucket_start AS split_end,
           ROUND(base_cost / 10000.0, 6) AS sse_before,
           ROUND(split_cost / 10000.0, 6) AS sse_after,
           ROUND((base_cost - split_cost) / 10000.0, 6) AS sse_reduction
    FROM best WHERE rk = 1
    ORDER BY user_id
    """,
    tags=("robust", "changepoint", "window"),
    doc="Exact single-changepoint detection (binary segmentation, "
    "first split) per series: the split minimizing left+right SSE of "
    "the hourly close series, found from two integer prefix-sum "
    "windows — O(n) per series, NOT the O(n^2) per-candidate rescan. "
    "Closes are integer cents so every cumulative sum is exact in "
    "both engines; costs then use the identical double expression "
    "(sum-of-squares minus mean correction), so the argmin order "
    "matches bit-for-bit and the (cost, t) tiebreak is deterministic. "
    "At 100 TB this is one window shuffle on the series key; repeated "
    "splits (full binary segmentation) recurse on the two halves "
    "with the same windows filtered to each segment.",
)
def q_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bars = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("bucket_start")
    ).agg(
        F.round(max_by_nn(nan_nn("value"), "ts") * 100)
        .cast("bigint")
        .alias("cents")
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wa = Window.partitionBy("user_id")
    pre = bars.select(
        "user_id",
        "bucket_start",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("bucket_start"))
        .alias("t"),
        F.sum("cents").over(wc).alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(wc).alias("s2"),
        F.count(F.lit(1)).over(wa).alias("n"),
        F.sum("cents").over(wa).alias("sn"),
        F.sum(F.col("cents") * F.col("cents")).over(wa).alias("s2n"),
    ).filter(F.col("t") < F.col("n"))
    sd = F.col("s").cast("double")
    s2d = F.col("s2").cast("double")
    cost = pre.select(
        "user_id",
        "bucket_start",
        "t",
        "n",
        (
            (s2d - sd * sd / F.col("t"))
            + (
                (F.col("s2n") - F.col("s2")).cast("double")
                - (F.col("sn") - F.col("s")).cast("double")
                * (F.col("sn") - F.col("s")).cast("double")
                / (F.col("n") - F.col("t"))
            )
        ).alias("split_cost"),
        (
            F.col("s2n").cast("double")
            - F.col("sn").cast("double")
            * F.col("sn").cast("double")
            / F.col("n")
        ).alias("base_cost"),
    )
    best = cost.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(
                F.col("split_cost").asc_nulls_last(), "t"
            )
        ),
    ).filter(F.col("rk") == 1)
    return best.select(
        "user_id",
        F.col("n").alias("n_obs"),
        F.col("t").alias("split_t"),
        F.col("bucket_start").alias("split_end"),
        _r6(F.col("base_cost") / 10000.0).alias("sse_before"),
        _r6(F.col("split_cost") / 10000.0).alias("sse_after"),
        _r6((F.col("base_cost") - F.col("split_cost")) / 10000.0).alias(
            "sse_reduction"
        ),
    ).orderBy("user_id")


@_register(
    "acf_multilag",
    oracle="""
    WITH hc AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, CAST(n AS DOUBLE) AS n,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY hr) AS rn
      FROM hc
    ), probe AS (
      SELECT i.event_type, i.rn + k.k AS rn, k.k,
             i.n AS n_prev
      FROM idx i CROSS JOIN (SELECT unnest(range(1, 13)) AS k) k
    )
    SELECT a.event_type, p.k AS lag,
           COUNT(*) AS n_pairs,
           -- total-corr restatement (functions/nullsafe.py corr_nn):
           -- a constant-count lag window (or a 1-pair group at the
           -- long lags) is NULL, not Spark's ANSI DIVIDE_BY_ZERO
           ROUND(covar_pop(a.n, p.n_prev)
                 / nullif(stddev_pop(a.n) * stddev_pop(p.n_prev), 0), 6)
             AS acf
    FROM idx a JOIN probe p
      ON a.event_type = p.event_type AND a.rn = p.rn
    GROUP BY a.event_type, p.k
    ORDER BY a.event_type, p.k
    """,
    tags=("robust", "timeseries", "agg"),
    doc="Autocorrelation profile (lags 1..12) of hourly event counts "
    "per type — the full correlogram behind `hourly_count_autocorr`'s "
    "single lag; a spike at lag 24 would betray daily seasonality, "
    "geometric decay an AR(1) load process. Counts collapse to the "
    "HOURS x TYPES rollup first (one partial-agg shuffle); every lag "
    "then comes from ONE equi-join — each row re-emits itself at "
    "rn+k for k in 1..12 (bounded 12x fanout on the metadata-sized "
    "rollup) instead of 12 window passes or a range join. Positional "
    "lag over observed hours, matching the lag-1 query's convention.",
)
def q_acf_multilag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hc = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    idx = hc.select(
        "event_type",
        F.col("n").cast("double").alias("n"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("hr"))
        .alias("rn"),
    )
    probe = idx.select(
        "event_type",
        F.explode(F.sequence(F.lit(1), F.lit(12))).alias("lag"),
        F.col("rn"),
        F.col("n").alias("n_prev"),
    ).select(
        "event_type",
        (F.col("rn") + F.col("lag")).alias("rn"),
        "lag",
        "n_prev",
    )
    return (
        idx.join(probe, ["event_type", "rn"])
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            _r6(corr_nn("n", "n_prev")).alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


@_register(
    "isotonic_trend",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(round(last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) * 100) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), ua AS (
      SELECT user_id,
             list(d ORDER BY d) AS ds,
             list(cents ORDER BY d) AS a,
             COUNT(*) AS na
      FROM daily GROUP BY user_id
    ), st AS (
      SELECT user_id, na, a, ds, 0 AS i,
             CAST([] AS STRUCT(s BIGINT, w BIGINT)[]) AS stack
      FROM ua
      UNION ALL
      SELECT user_id, na, a, ds,
             CASE WHEN viol THEN i ELSE i + 1 END AS i,
             CASE WHEN viol THEN
               list_append(stack[1:len(stack) - 2],
                 {'s': stack[len(stack) - 1].s + stack[len(stack)].s,
                  'w': stack[len(stack) - 1].w + stack[len(stack)].w})
             ELSE
               list_append(stack, {'s': a[i + 1], 'w': CAST(1 AS BIGINT)})
             END AS stack
      FROM (
        SELECT *,
               (len(stack) >= 2 AND
                stack[len(stack) - 1].s * stack[len(stack)].w
                  > stack[len(stack)].s * stack[len(stack) - 1].w) AS viol
        FROM st
      )
      WHERE viol OR i < na
    ), fin AS (
      SELECT user_id, ds,
             flatten(list_transform(stack, b ->
               list_transform(range(b.w),
                              x -> CAST(b.s AS DOUBLE) / b.w))) AS f,
             a
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY i DESC,
                                     len(stack)) AS rk
        FROM st WHERE i = na
      ) WHERE rk = 1
    )
    SELECT user_id,
           unnest(ds) AS d,
           ROUND(unnest(a) / 100.0, 6) AS close,
           ROUND(unnest(f) / 100.0, 6) AS iso_fit
    FROM fin
    ORDER BY user_id, d
    """,
    tags=("robust", "isotonic", "statespace"),
    doc="Isotonic (monotone non-decreasing) regression of daily "
    "closes per series via POOL-ADJACENT-VIOLATORS — the calibration "
    "fit Spark has no operator for (its ML variant is RDD-bound and "
    "approximate across partitions). The block stack folds IN-ROW: "
    "each push runs a bounded inner fold that merges violating "
    "adjacent blocks; violations compare s_prev*w_new > s_new*w_prev "
    "in INTEGER cents (cross-multiplied means), so the entire fit is "
    "exact integer arithmetic in both engines and only the final "
    "block-mean expansion divides. The oracle drives the identical "
    "push/merge state machine one transition per recursive-CTE step "
    "(merge steps don't consume a point; series finish at different "
    "depths like the DTW fold). Properties pinned by tests: output "
    "monotone, block-mean preservation, exact pooling of a planted "
    "V-shape.",
)
def q_isotonic_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(
        F.round(max_by_nn(nan_nn("value"), "ts") * 100).cast("bigint").alias("cents")
    )
    g = daily.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("d", "cents"))).alias("s")
    )
    last = "element_at(st, size(st))"
    prev = "element_at(st, size(st) - 1)"
    merged = (
        f"array_append(slice(st, 1, size(st) - 2), "
        f"named_struct('s', {prev}.s + {last}.s, "
        f"'w', {prev}.w + {last}.w))"
    )
    inner = (
        "aggregate(sequence(1, size(push)), push, (st, k) -> "
        f"IF(size(st) >= 2 AND {prev}.s * {last}.w > {last}.s * {prev}.w, "
        f"{merged}, st))"
    )
    outer = (
        "aggregate(a, CAST(array() AS ARRAY<STRUCT<s: BIGINT, w: BIGINT>>), "
        "(acc, x) -> "
        + inner.replace(
            "push", "array_append(acc, named_struct('s', x, 'w', CAST(1 AS BIGINT)))"
        )
        + ")"
    )
    fit = (
        g.withColumn("a", F.expr("transform(s, e -> e.cents)"))
        .withColumn("stack", F.expr(outer))
        .withColumn(
            "f",
            F.expr(
                "flatten(transform(stack, b -> "
                "array_repeat(CAST(b.s AS DOUBLE) / b.w, CAST(b.w AS INT))))"
            ),
        )
    )
    z = fit.select(
        "user_id",
        F.explode(F.arrays_zip("s", "f")).alias("z"),
    )
    return z.select(
        "user_id",
        F.col("z.s.d").alias("d"),
        _r6(F.col("z.s.cents") / 100.0).alias("close"),
        _r6(F.col("z.f") / 100.0).alias("iso_fit"),
    ).orderBy("user_id", "d")


# ---------------------------------------------------------------------------
# Dynamic Time Warping — the alignment-tolerant series distance
# Spark has no operator for.
#
# Reference parity: the reference eyeballs 'which symbols move alike'
# from overlaid dashboard charts (app/dashboard.py compare view);
# `pairwise_return_corr` answers it for synchronized series, but
# correlation collapses when two series trace the same shape shifted
# or stretched in time. DTW is the standard remedy: the minimum-cost
# monotone alignment between two series.
#
# Shape: each user's daily-close series is aligned against ONE
# reference series (the cross-sectional daily median) — the
# classify-against-centroid form whose cost is linear in users, not
# the all-pairs quadratic. The DP (na x nb <= ~900 cells here) runs
# IN-ROW as a single linear-index fold over the collected series
# array; per-user memory is two DP rows, never the matrix. At 100 TB
# the refinement is the Sakoe-Chiba band (cap |i-j| <= r, dropping
# cells to O(n*r)) — noted, not needed at this series length.
#
# Determinism: costs are |integer - integer| in DOUBLE-CENTS (the
# median of integer cents is a multiple of 0.5, so 2x makes it
# integer), hence every DP cell is an exact BIGINT in both engines —
# min/plus over integers cannot diverge, and the oracle's lockstep
# recursive CTE replays the identical cell order.


_INF = 10**15


@_register(
    "dtw_to_reference",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(round(last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) * 100) AS BIGINT) * 2 AS c2
      FROM events GROUP BY 1, 2
    ), med AS (
      SELECT d, CAST(round(quantile_cont(c2, 0.5)) AS BIGINT) AS m2
      FROM daily GROUP BY d
    ), ua AS (
      SELECT user_id, list(c2 ORDER BY d) AS a,
             COUNT(*) AS na
      FROM daily GROUP BY user_id
    ), rb AS (
      SELECT list(m2 ORDER BY d) AS b, COUNT(*) AS nb FROM med
    ), st AS (
      SELECT user_id, na, -1 AS k,
             list_transform(range(nb),
                            x -> CAST({_INF} AS BIGINT)) AS prev,
             CAST([] AS BIGINT[]) AS cur
      FROM ua, rb
      UNION ALL
      SELECT user_id, na, k, p AS prev,
             list_append(c0, cost + m) AS cur
      FROM (
        SELECT *, CASE WHEN i = 0 AND j = 0 THEN 0 ELSE least(
                 CASE WHEN i = 0 THEN {_INF} ELSE p[j + 1] END,
                 CASE WHEN j = 0 THEN {_INF} ELSE c0[j] END,
                 CASE WHEN i = 0 OR j = 0 THEN {_INF} ELSE p[j] END)
               END AS m
        FROM (
          SELECT *,
                 CASE WHEN j = 0 AND i > 0 THEN cur ELSE prev END AS p,
                 CASE WHEN j = 0 THEN CAST([] AS BIGINT[])
                      ELSE cur END AS c0,
                 abs(a[i + 1] - b[j + 1]) AS cost
          FROM (
            SELECT s.user_id, s.na, s.k + 1 AS k, u.a, r.b, r.nb,
                   CAST((s.k + 1) // r.nb AS INT) AS i,
                   CAST((s.k + 1) % r.nb AS INT) AS j,
                   s.prev, s.cur
            FROM st s JOIN ua u USING (user_id), rb r
            WHERE s.k + 1 < s.na * r.nb
          )
        )
      )
    )
    SELECT s.user_id, s.na AS n_user, r.nb AS n_ref,
           ROUND(s.cur[r.nb] / 200.0, 6) AS dtw_distance,
           ROUND(s.cur[r.nb] / 200.0 / (s.na + r.nb), 6)
             AS dtw_normalized
    FROM st s, rb r
    WHERE s.k = s.na * r.nb - 1
    ORDER BY s.user_id
    """,
    tags=("timeseries", "dtw", "statespace"),
    doc="DTW distance from every user's daily-close series to the "
    "cross-sectional daily-median reference series. The full DP "
    "evaluates as ONE in-row fold over a linear cell index (two-row "
    "frontier carried in a named_struct accumulator, the same "
    "bounded-series contract as the MACD/Holt folds); the oracle "
    "replays the identical cell order through a lockstep recursive "
    "CTE. All costs and cells are exact BIGINTs (double-cents make "
    "the median integral), so the two engines agree bit-for-bit. "
    "One shuffle to collect per-user series + one broadcast of the "
    "33-element reference; Sakoe-Chiba banding is the documented "
    "long-series refinement.",
)
def q_dtw_to_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(
        (F.round(max_by_nn(nan_nn("value"), "ts") * 100).cast("bigint") * 2).alias(
            "c2"
        )
    )
    med = daily.groupBy("d").agg(
        F.round(F.percentile("c2", F.lit(0.5))).cast("bigint").alias("m2")
    )
    ua = daily.groupBy("user_id").agg(
        F.expr("transform(array_sort(collect_list(struct(d, c2))), e -> e.c2)").alias(
            "a"
        )
    )
    rb = med.agg(
        F.expr("transform(array_sort(collect_list(struct(d, m2))), e -> e.m2)").alias(
            "b"
        )
    )
    # the lockstep fold: k walks na*nb cells row-major; the
    # accumulator carries the previous DP row and the current prefix
    i = "CAST(k DIV size(b) AS INT)"
    j = "CAST(k % size(b) AS INT)"
    p = f"IF({j} = 0 AND {i} > 0, acc.cur, acc.prev)"
    c0 = f"IF({j} = 0, CAST(array() AS ARRAY<BIGINT>), acc.cur)"
    cost = f"abs(element_at(a, {i} + 1) - element_at(b, {j} + 1))"
    m = (
        f"IF({i} = 0 AND {j} = 0, CAST(0 AS BIGINT), least("
        f"IF({i} = 0, {_INF}, element_at({p}, {j} + 1)), "
        f"IF({j} = 0, {_INF}, element_at({c0}, {j})), "
        f"IF({i} = 0 OR {j} = 0, {_INF}, element_at({p}, {j}))))"
    )
    fold = (
        "aggregate("
        "  sequence(0, size(a) * size(b) - 1), "
        "  named_struct("
        f"    'prev', transform(b, x -> CAST({_INF} AS BIGINT)), "
        "    'cur', CAST(array() AS ARRAY<BIGINT>)), "
        "  (acc, k) -> named_struct("
        f"    'prev', {p}, "
        f"    'cur', array_append({c0}, {cost} + {m})), "
        "  acc -> element_at(acc.cur, size(b)))"
    )
    # Spread the per-user DP before the fold projection (optimization
    # r11, the PQ/matryoshka class): the grouped series table is tiny
    # in BYTES, so AQE coalesces it to ~1 partition and the interpreted
    # na*nb fold — the actual cost, ~1k cells per user — runs in a
    # single task. Round-robin over defaultParallelism spreads the DP;
    # per-user results are row-local, so output is unchanged.
    out = (
        ua.repartition(spark.sparkContext.defaultParallelism)
        .join(F.broadcast(rb))
        .withColumn("dtw", F.expr(fold))
    )
    return out.select(
        "user_id",
        F.size("a").cast("bigint").alias("n_user"),
        F.size("b").cast("bigint").alias("n_ref"),
        _r6(F.col("dtw") / 200.0).alias("dtw_distance"),
        _r6(F.col("dtw") / 200.0 / (F.size("a") + F.size("b"))).alias(
            "dtw_normalized"
        ),
    ).orderBy("user_id")


# SAX breakpoints for alphabet size 4 (standard normal quartiles)
_SAX_BP = (-0.6745, 0.0, 0.6745)


@_register(
    "sax_motifs",
    oracle=f"""
    WITH bars AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             CAST(round(last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) * 100) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), stats AS (
      SELECT user_id, COUNT(*) AS n, SUM(cents) AS s,
             SUM(cents * cents) AS s2
      FROM bars GROUP BY user_id
      HAVING COUNT(*) >= 2
    ), frames AS (
      SELECT b.user_id, CAST(date_trunc('day', b.h) AS DATE) AS d,
             CAST(hour(b.h) // 8 AS INT) AS frame,
             SUM(b.cents) AS fs, COUNT(*) AS fn
      FROM bars b GROUP BY 1, 2, 3
    ), z AS (
      SELECT f.user_id, f.d, f.frame,
             (CAST(f.fs AS DOUBLE) / f.fn - CAST(t.s AS DOUBLE) / t.n)
             / sqrt((CAST(t.s2 AS DOUBLE) - CAST(t.s AS DOUBLE)
                     * CAST(t.s AS DOUBLE) / t.n) / (t.n - 1)) AS zz
      FROM frames f JOIN stats t USING (user_id)
      WHERE (CAST(t.s2 AS DOUBLE) - CAST(t.s AS DOUBLE)
             * CAST(t.s AS DOUBLE) / t.n) > 0
    ), words AS (
      SELECT user_id, d,
             string_agg(CASE WHEN zz < {_SAX_BP[0]} THEN 'a'
                             WHEN zz < {_SAX_BP[1]} THEN 'b'
                             WHEN zz < {_SAX_BP[2]} THEN 'c'
                             ELSE 'd' END, '' ORDER BY frame) AS word
      FROM z GROUP BY user_id, d
    )
    SELECT word, COUNT(*) AS n_days,
           COUNT(DISTINCT user_id) AS n_users
    FROM words GROUP BY word
    ORDER BY n_days DESC, word LIMIT 20
    """,
    tags=("timeseries", "sax", "text"),
    doc="SAX (Symbolic Aggregate approXimation) motif mining: each "
    "user-day's hourly closes compress to a 3-symbol word (8-hour "
    "PAA frames, z-normalized per series, quantized at the standard-"
    "normal quartile breakpoints a|b|c|d), and the corpus-wide motif "
    "histogram surfaces the recurring intraday shapes ('abd' = "
    "morning-low/evening-high). This is the discretization that "
    "turns similarity search over raw series into string ops at 100 "
    "TB. Determinism: frame sums and per-series moments are exact "
    "integer cents, so every z-score is the same double in both "
    "engines and quantization cannot disagree; two partial-agg "
    "shuffles (bars -> frames; words), user stats broadcast back.",
)
def q_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bars = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.round(max_by_nn(nan_nn("value"), "ts") * 100).cast("bigint").alias("cents")
    )
    stats = (
        bars.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("s"),
            F.sum(F.col("cents") * F.col("cents")).alias("s2"),
        )
        .filter(F.col("n") >= 2)
    )
    frames = bars.groupBy(
        "user_id",
        F.date_trunc("day", "h").cast("date").alias("d"),
        (F.hour("h").cast("int") / 8).cast("int").alias("frame"),
    ).agg(F.sum("cents").alias("fs"), F.count(F.lit(1)).alias("fn"))
    sd = F.col("s").cast("double")
    var_num = F.col("s2").cast("double") - sd * sd / F.col("n")
    z = (
        frames.join(F.broadcast(stats), "user_id")
        .filter(var_num > 0)
        .select(
            "user_id",
            "d",
            "frame",
            (
                (F.col("fs").cast("double") / F.col("fn") - sd / F.col("n"))
                / F.sqrt(var_num / (F.col("n") - 1))
            ).alias("zz"),
        )
    )
    sym = (
        F.when(F.col("zz") < _SAX_BP[0], "a")
        .when(F.col("zz") < _SAX_BP[1], "b")
        .when(F.col("zz") < _SAX_BP[2], "c")
        .otherwise("d")
    )
    words = (
        z.select("user_id", "d", "frame", sym.alias("sym"))
        .groupBy("user_id", "d")
        .agg(
            F.expr(
                "array_join(transform(array_sort("
                "collect_list(struct(frame, sym))), e -> e.sym), '')"
            ).alias("word")
        )
    )
    return (
        words.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_days"), "word")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Burst detection: a two-state Poisson HMM decoded with Viterbi —
# the Kleinberg burst-detection shape over hourly event arrivals.
#
# Reference parity: the reference's dashboard shows raw hourly volume
# (app/dashboard.py volume panel) and `hourly_count_autocorr` diagnoses
# burstiness as one number; this operator LABELS the bursts — an
# optimal (min-cost) segmentation of each type's hourly count series
# into baseline vs burst states, with a switching penalty that
# suppresses one-hour flickers. State 0 emits Poisson(lambda), state 1
# Poisson(2*lambda), switch cost gamma = 1 nat.
#
# Determinism: emission costs drop the k!-term (shared by both states)
# and integerize to MICRO-NATS, so the entire forward DP and the
# backward decode are exact BIGINT/boolean arithmetic — the argmin
# path cannot flip on float order in either engine. The oracle replays
# the identical forward recursion and backward walk through two
# lockstep recursive CTEs.
#
# Scale: counts collapse to the HOURS x TYPES rollup first; the
# Viterbi folds IN-ROW per type (two integer costs + two boolean
# backpointer arrays — O(series) memory), the same bounded-series
# contract as the MACD/Holt/DTW folds.


_SWITCH_COST = 1_000_000  # switch cost: 1 nat in micro-nats


@_register(
    "burst_detection_viterbi",
    oracle=f"""
    WITH RECURSIVE hc AS (
      -- typed burst detection: untyped (NULL) events carry no series
      -- key; filtered identically on the Spark side
      SELECT event_type, date_trunc('hour', ts) AS hr,
             COUNT(*) AS k
      FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
    ), ser AS (
      SELECT event_type,
             list(hr ORDER BY hr) AS hrs,
             list(k ORDER BY hr) AS ks,
             COUNT(*) AS n,
             CAST(SUM(k) AS DOUBLE) / COUNT(*) AS lam,
             CAST(round(CAST(SUM(k) AS DOUBLE) / COUNT(*) * 1000000)
                  AS BIGINT) AS lam_u,
             CAST(round(ln(CAST(SUM(k) AS DOUBLE) / COUNT(*)) * 1000000)
                  AS BIGINT) AS llam,
             CAST(round(ln(2 * CAST(SUM(k) AS DOUBLE) / COUNT(*)) * 1000000)
                  AS BIGINT) AS l2lam
      FROM hc GROUP BY event_type
    ), fwd AS (
      SELECT event_type, n, ks, lam, lam_u, llam, l2lam, 0 AS t,
             lam_u - ks[1] * llam AS c0,
             2 * lam_u - ks[1] * l2lam + {_SWITCH_COST} AS c1,
             CAST([] AS BOOLEAN[]) AS b0,
             CAST([] AS BOOLEAN[]) AS b1
      FROM ser
      UNION ALL
      SELECT event_type, n, ks, lam, lam_u, llam, l2lam, t + 1,
             lam_u - ks[t + 2] * llam
               + CASE WHEN c1 + {_SWITCH_COST} < c0 THEN c1 + {_SWITCH_COST} ELSE c0 END,
             2 * lam_u - ks[t + 2] * l2lam
               + CASE WHEN c0 + {_SWITCH_COST} < c1 THEN c0 + {_SWITCH_COST} ELSE c1 END,
             list_append(b0, c1 + {_SWITCH_COST} < c0),
             list_append(b1, c0 + {_SWITCH_COST} < c1)
      FROM fwd WHERE t + 1 < n
    ), fin AS (
      SELECT event_type, n, b0, b1,
             CASE WHEN c1 < c0 THEN 1 ELSE 0 END AS s_final
      FROM fwd WHERE t = n - 1
    ), bwd AS (
      SELECT event_type, n, b0, b1, n - 1 AS t, s_final AS s,
             [s_final] AS path
      FROM fin
      UNION ALL
      SELECT event_type, n, b0, b1, t - 1,
             CASE WHEN s = 1 THEN (CASE WHEN b1[t] THEN 0 ELSE 1 END)
                  ELSE (CASE WHEN b0[t] THEN 1 ELSE 0 END) END,
             list_prepend(
               CASE WHEN s = 1 THEN (CASE WHEN b1[t] THEN 0 ELSE 1 END)
                    ELSE (CASE WHEN b0[t] THEN 1 ELSE 0 END) END,
               path)
      FROM bwd WHERE t > 0
    )
    SELECT s.event_type,
           unnest(s.hrs) AS hr,
           unnest(s.ks) AS n_events,
           ROUND(s.lam, 6) AS base_rate,
           unnest(b.path) AS burst_state
    FROM ser s JOIN (SELECT * FROM bwd WHERE t = 0) b
      USING (event_type)
    ORDER BY s.event_type, hr
    """,
    tags=("timeseries", "hmm", "statespace"),
    doc="Two-state Poisson-HMM burst labeling of hourly event counts "
    "per type (Kleinberg's burst-detection shape): state 0 emits "
    "Poisson(lambda = the type's mean hourly rate), state 1 "
    "Poisson(2*lambda), switching costs 1 nat — Viterbi returns the "
    "min-cost state sequence, so isolated spikes don't flicker the "
    "label. Emission costs drop the shared k! term and integerize "
    "to micro-nats; the forward DP (two BIGINT costs + boolean "
    "backpointers per step) and the backward walk are exact integer "
    "arithmetic folded IN-ROW, mirrored by two lockstep recursive "
    "CTEs in the oracle. The rollup is the only shuffle; the fold "
    "is bounded by series length.",
)
def q_burst_detection_viterbi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    hc = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("k"))
    ser = (
        hc.groupBy("event_type")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(hr, k))), e -> e.hr)"
            ).alias("hrs"),
            F.expr(
                "transform(array_sort(collect_list(struct(hr, k))), e -> e.k)"
            ).alias("ks"),
            F.count(F.lit(1)).alias("n"),
            (F.sum("k").cast("double") / F.count(F.lit(1))).alias("lam"),
        )
        # The per-type constants lam, ln(lam), ln(2*lam) are quantized
        # to micro-nats ONCE here (and identically in the oracle CTE),
        # so the DP below is exact BIGINT arithmetic over shared
        # constants: a last-ulp libm divergence between DuckDB's and
        # the JVM's ln() can only matter if it moves ln(lam)*1e6
        # across a .5 boundary — it is never amplified by k or by the
        # per-step rounding the previous formulation applied.
        .withColumn("lam_u", F.expr("CAST(round(lam * 1000000) AS BIGINT)"))
        .withColumn("llam", F.expr("CAST(round(ln(lam) * 1000000) AS BIGINT)"))
        .withColumn(
            "l2lam", F.expr("CAST(round(ln(2 * lam) * 1000000) AS BIGINT)")
        )
    )
    c0em = "(lam_u - x * llam)"
    c1em = "(2 * lam_u - x * l2lam)"
    fwd = (
        "aggregate("
        "  slice(ks, 2, size(ks) - 1), "
        "  named_struct("
        f"    'c0', {c0em.replace('x', 'ks[0]')}, "
        f"    'c1', {c1em.replace('x', 'ks[0]')} + {_SWITCH_COST}, "
        "    'b0', CAST(array() AS ARRAY<BOOLEAN>), "
        "    'b1', CAST(array() AS ARRAY<BOOLEAN>)), "
        "  (acc, x) -> named_struct("
        f"    'c0', {c0em} + IF(acc.c1 + {_SWITCH_COST} < acc.c0, "
        f"                      acc.c1 + {_SWITCH_COST}, acc.c0), "
        f"    'c1', {c1em} + IF(acc.c0 + {_SWITCH_COST} < acc.c1, "
        f"                      acc.c0 + {_SWITCH_COST}, acc.c1), "
        f"    'b0', array_append(acc.b0, acc.c1 + {_SWITCH_COST} < acc.c0), "
        f"    'b1', array_append(acc.b1, acc.c0 + {_SWITCH_COST} < acc.c1)))"
    )
    prevs = (
        "IF(acc.s = 1, "
        "IF(element_at(f.b1, CAST(t AS INT)), 0, 1), "
        "IF(element_at(f.b0, CAST(t AS INT)), 1, 0))"
    )
    bwd = (
        # single-element series have no backward steps (and Spark's
        # sequence(0, 1, -1) would error), hence the size guard
        "IF(size(ks) < 2, array(IF(f.c1 < f.c0, 1, 0)), "
        "aggregate("
        "  sequence(size(ks) - 1, 1, -1), "
        "  named_struct("
        "    's', IF(f.c1 < f.c0, 1, 0), "
        "    'path', array(IF(f.c1 < f.c0, 1, 0))), "
        "  (acc, t) -> named_struct("
        f"    's', {prevs}, "
        f"    'path', concat(array({prevs}), acc.path)), "
        "  acc -> acc.path))"
    )
    dec = ser.withColumn("f", F.expr(fwd)).withColumn(
        "path", F.expr(bwd)
    )
    z = dec.select(
        "event_type",
        _r6(F.col("lam")).alias("base_rate"),
        F.explode(
            F.arrays_zip(
                F.col("hrs").alias("hr"),
                F.col("ks").alias("n_events"),
                F.col("path").alias("burst_state"),
            )
        ).alias("z"),
    )
    return z.select(
        "event_type",
        F.col("z.hr").alias("hr"),
        F.col("z.n_events").alias("n_events"),
        "base_rate",
        F.col("z.burst_state").alias("burst_state"),
    ).orderBy("event_type", "hr")

"""Point-in-time queries: as-of joins (backward, forward, nearest, with
tolerance, streaming), range joins, the trading calendar (market
hours, missing slots, fills, interpolation), snapshot-diff CDC and
the leakage-free feature-store join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stockpulse_spark.functions.nullsafe import max_by_nn, min_by_nn, nan_nn
from stockpulse_spark.operators.asof import asof_join
from stockpulse_spark.operators.calendar import (
    market_hours_filter,
    us_federal_holiday_dates,
    us_federal_holidays,
)
from stockpulse_spark.operators.quality import bounded_ffill, ffill_bfill
from stockpulse_spark.plans.registry import _r2, _r4, _r6, _register, _t
from stockpulse_spark.sources.tables import read_events_stream


# ---------------------------------------------------------------------------
# Calendar / imputation query registrations (reference P6, P10, W14, J2).


_HOLIDAY_YEARS = list(range(2020, 2031))
_HOLIDAY_LITERALS = ", ".join(
    f"DATE '{d.isoformat()}'" for d, _ in us_federal_holiday_dates(_HOLIDAY_YEARS)
)


@_register(
    "ffill_bfill",
    oracle="""
    WITH m AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
      FROM events
    )
    SELECT event_id, user_id, ts,
           ROUND(COALESCE(
             last_value(value IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             first_value(value IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           ), 6) AS value_filled
    FROM m
    """,
    tags=("window", "imputation"),
    doc="reference P6 (app/dashboard.py:75,135-139): ffill().bfill() "
    "per series — windowed last/first(ignorenulls), never leaking "
    "across series. 'error' rows are masked NULL to exercise the fill.",
)
def q_ffill_bfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    filled = ffill_bfill(ev, ["value"], ["user_id"], ["ts"])
    return filled.select(
        "event_id", "user_id", "ts", _r6(F.col("value")).alias("value_filled")
    )


@_register(
    "bounded_ffill",
    oracle="""
    WITH m AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type IN ('error', 'signup') THEN NULL ELSE value END AS value
      FROM events
    )
    SELECT event_id, user_id, ts,
           ROUND(COALESCE(value, last_value(value IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 12 PRECEDING AND CURRENT ROW)), 6)
             AS value_filled
    FROM m
    """,
    tags=("window", "imputation"),
    doc="reference W14 (docs/preprocessing.md:38-41): bounded forward "
    "fill (limit=12) — fills at most the first 12 nulls of a gap, "
    "keeping window state O(limit).",
)
def q_bounded_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type").isin("error", "signup"), F.lit(None))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    filled = bounded_ffill(ev, ["value"], ["user_id"], ["ts"], limit=12)
    return filled.select(
        "event_id", "user_id", "ts", _r6(F.col("value")).alias("value_filled")
    )


@_register(
    "market_hours",
    oracle=f"""
    SELECT event_id, ts, user_id, value
    FROM events
    WHERE isodow(ts) BETWEEN 1 AND 5
      AND (hour(ts) * 60 + minute(ts)) >= 570
      AND (hour(ts) * 60 + minute(ts)) < 960
      AND CAST(ts AS DATE) NOT IN ({_HOLIDAY_LITERALS})
    """,
    tags=("filter", "calendar"),
    doc="reference P10 (preprocessing_pipeline.py:80-103): Mon-Fri "
    "09:30-16:00 minus US federal holidays. Codegen'd predicate + "
    "broadcast anti-join against the generated holiday dimension — no "
    "per-row Python like the reference.",
)
def q_market_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hol = us_federal_holidays(spark, _HOLIDAY_YEARS)
    out = market_hours_filter(ev, holidays=hol, ts_col="ts")
    return out.select("event_id", "ts", "user_id", "value")


@_register(
    "missing_slots",
    oracle=f"""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
      FROM events
      WHERE isodow(ts) BETWEEN 1 AND 5
        AND CAST(ts AS DATE) NOT IN ({_HOLIDAY_LITERALS})
    ), grid AS (
      SELECT user_id, d,
             CAST(d AS TIMESTAMP) + to_minutes(570 + i * 5) AS slot_ts
      FROM days, range(78) t(i)
    ), observed AS (
      SELECT DISTINCT user_id,
             to_timestamp((epoch_us(ts) // 300000000) * 300) AS slot_ts
      FROM events
    )
    SELECT g.user_id, g.d AS date,
           COUNT(*) AS n_missing,
           string_agg(strftime(g.slot_ts, '%H:%M:%S'), ',' ORDER BY g.slot_ts) AS missing_times
    FROM grid g
    ANTI JOIN observed o ON g.user_id = o.user_id AND g.slot_ts = o.slot_ts
    GROUP BY g.user_id, g.d
    ORDER BY g.user_id, date
    """,
    tags=("join", "calendar"),
    doc="reference J2 (preprocessing_pipeline.py:213-255): expected "
    "5-min market grid minus observed slots → missing-data report. "
    "Grid is sequence+explode (distributed), observed slots are "
    "floor-bucketed, LEFT ANTI join, per-day collect.",
)
def q_missing_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Optimization r11: the grid/anti-join formulation exploded
    # days x 78 slots (~2M rows at sf0.1) through two distinct
    # shuffles and a left-anti shuffle before re-grouping. The same
    # report is ONE partial-aggregating groupBy over the raw events:
    # an event's observed slot index is arithmetic on unix_micros
    # (5-min epoch bucket 114..191 of its UTC day), the per-day
    # missing set is filter(sequence(0,77), not in observed), and the
    # day/holiday gates apply to the ~78x-smaller grouped result.
    # Days with a full grid drop out via size(mi) > 0 exactly as they
    # produced no anti-join survivors before. Slot-time strings are
    # built by minute arithmetic per element (no captured-expression
    # higher-order lambda), ascending by construction — identical to
    # the sorted date_format output.
    ev = _t(spark, sf_dir, "events")
    hol = us_federal_holidays(spark, _HOLIDAY_YEARS)
    slot = F.expr("(unix_micros(ts) div 300000000) % 288")
    grouped = (
        ev.select(
            "user_id",
            F.to_date("ts").alias("d"),
            F.when(
                slot.between(114, 191), (slot - 114).cast("int")
            ).alias("i"),
        )
        .groupBy("user_id", "d")
        .agg(F.collect_set("i").alias("obs"))
        .filter(F.dayofweek("d").isin(2, 3, 4, 5, 6))
        .join(
            F.broadcast(hol), on=F.col("d") == F.col("holiday_date"), how="left_anti"
        )
    )
    # array_except, not filter(..., x -> NOT array_contains(obs, x)):
    # the lambda form is an interpreted HOF doing O(78 x |obs|) work
    # per group (array_contains re-scans obs per grid slot); the
    # native set-difference builds one hash set per group and keeps
    # the ascending grid order — identical elements (optimization
    # r11: missing_slots noop 5.8 -> see OPTIMIZATION_r11.md). The
    # slot-time strings are one 78-element literal lookup instead of
    # per-element div/mod/lpad/concat arithmetic — identical strings.
    mi = F.expr("array_except(sequence(0, 77), obs)")
    slot_strs = [
        f"{(570 + 5 * x) // 60:02d}:{(570 + 5 * x) % 60:02d}:00"
        for x in range(78)
    ]
    times = F.expr(
        f"transform(mi, x -> element_at(array({', '.join(map(repr, slot_strs))}), x + 1))"
    )
    return (
        grouped.select("user_id", F.col("d").alias("date"), mi.alias("mi"))
        .filter(F.size("mi") > 0)
        .select(
            "user_id",
            "date",
            F.size("mi").cast("long").alias("n_missing"),
            F.concat_ws(",", times).alias("missing_times"),
        )
        .orderBy("user_id", "date")
    )


# ---------------------------------------------------------------------------
# As-of and range joins — the tick-data join extensions (SURVEY §2.5
# notes the reference implements neither; they're the natural next
# operators for a market-data engine, and DuckDB's native ASOF JOIN
# provides an exact oracle).


@_register(
    "asof_prev_close",
    oracle="""
    WITH eod AS (
      SELECT user_id, CAST(ts AS DATE) AS d, last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) AS prev_close,
             CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 1 DAY AS avail_ts
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT e.event_id, e.user_id, e.ts, e.value,
           ROUND(d.prev_close, 6) AS prev_close
    FROM events e
    ASOF LEFT JOIN eod d ON e.user_id = d.user_id AND e.ts >= d.avail_ts
    """,
    headline=True,
    tags=("join", "asof"),
    doc="point-in-time join: every event gets the most recent PRIOR "
    "day's closing value for its series (EOD closes become available "
    "at next midnight). Spark side: union-and-fill as-of join "
    "(operators/asof.py) — one shuffle of |L|+|R|, no range cross "
    "product; oracle: DuckDB's native ASOF JOIN.",
)
def q_asof_prev_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    eod = (
        # NaN mask hoisted to one projection (see _hourly_bars note)
        ev.withColumn("__v", nan_nn("value"))
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(max_by_nn("__v", "ts").alias("prev_close"))
        .select(
            "user_id",
            "prev_close",
            (F.to_timestamp("d") + F.expr("INTERVAL 1 DAY")).alias("avail_ts"),
        )
    )
    joined = asof_join(
        ev.select("event_id", "user_id", "ts", "value"),
        eod,
        on=["user_id"],
        left_ts="ts",
        right_ts="avail_ts",
        payload_cols=["prev_close"],
    )
    return joined.select(
        "event_id", "user_id", "ts", "value", _r6(F.col("prev_close")).alias("prev_close")
    )


@_register(
    "asof_tolerance_hour_close",
    oracle="""
    WITH hb AS (
      SELECT user_id,
             date_trunc('hour', ts) + INTERVAL 1 HOUR AS avail_ts,
             last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) AS hour_close
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY user_id, date_trunc('hour', ts)
    )
    SELECT e.event_id, e.user_id, e.ts, e.value,
           ROUND(CASE WHEN epoch_us(e.ts) - epoch_us(h.avail_ts) <= 7200000000
                      THEN h.hour_close END, 6) AS prev_hour_close
    FROM events e
    ASOF LEFT JOIN hb h ON e.user_id = h.user_id AND e.ts >= h.avail_ts
    """,
    tags=("join", "asof"),
    doc="as-of join WITH TOLERANCE (pandas merge_asof tolerance "
    "semantics): every event gets the previous completed hour's close "
    "for its series, but only if that hourly bar closed within 2 "
    "hours — stale marks across session gaps (nights, weekends) "
    "surface as NULL instead of silently carrying days-old state. "
    "Spark side: union-and-fill with the matched bar timestamp "
    "riding in the fill struct; the distance check is exact integer "
    "microseconds (unix_micros ↔ epoch_us) on both engines.",
)
def q_asof_tolerance_hour_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hb = (
        ev.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(max_by_nn(nan_nn("value"), "ts").alias("hour_close"))
        .select(
            "user_id",
            "hour_close",
            (F.col("h") + F.expr("INTERVAL 1 HOUR")).alias("avail_ts"),
        )
    )
    joined = asof_join(
        ev.select("event_id", "user_id", "ts", "value"),
        hb,
        on=["user_id"],
        left_ts="ts",
        right_ts="avail_ts",
        payload_cols=["hour_close"],
        tolerance=7200.0,
    )
    return joined.select(
        "event_id", "user_id", "ts", "value",
        _r6(F.col("hour_close")).alias("prev_hour_close"),
    )


@_register(
    "asof_forward_next_open",
    oracle="""
    WITH db AS (
      SELECT user_id,
             CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day_start,
             first(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) AS day_open
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT e.event_id, e.user_id, e.ts, e.value,
           d.day_start AS open_day_start,
           ROUND(d.day_open, 6) AS next_open
    FROM events e
    ASOF LEFT JOIN db d ON e.user_id = d.user_id AND e.ts <= d.day_start
    """,
    tags=("join", "asof"),
    doc="FORWARD as-of join (pandas merge_asof direction='forward', "
    "DuckDB ASOF with the inequality flipped): every event gets the "
    "next session's opening value — the earliest daily open stamped "
    "at or after the event (an event exactly at midnight matches its "
    "own day, matching DuckDB's inclusive <=). The look-ahead "
    "attribution join of event-study pipelines. Spark side: same "
    "single union-and-fill sort as backward, `first` over the "
    "following frame instead of `last` over the preceding one.",
)
def q_asof_forward_next_open(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    db = (
        ev.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(min_by_nn(nan_nn("value"), "ts").alias("day_open"))
        .select("user_id", "day_open", F.to_timestamp("d").alias("day_start"))
    )
    joined = asof_join(
        ev.select("event_id", "user_id", "ts", "value"),
        db,
        on=["user_id"],
        left_ts="ts",
        right_ts="day_start",
        payload_cols=["day_start", "day_open"],
        direction="forward",
    )
    return joined.select(
        "event_id", "user_id", "ts", "value",
        F.col("day_start").alias("open_day_start"),
        _r6(F.col("day_open")).alias("next_open"),
    )


@_register(
    "asof_nearest_week_anchor",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day_ts,
             last(value ORDER BY ts, value) FILTER (WHERE value IS NOT NULL AND isfinite(value)) AS day_close
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY user_id, CAST(ts AS DATE)
    ),
    wk AS (
      SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start,
             ROUND(avg(value), 6) AS week_avg
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY user_id, date_trunc('week', ts)
    ),
    b AS (
      SELECT d.user_id, d.day_ts, d.day_close, w.week_start AS b_ts, w.week_avg AS b_avg
      FROM daily d ASOF LEFT JOIN wk w
        ON d.user_id = w.user_id AND d.day_ts >= w.week_start
    ),
    f AS (
      SELECT d.user_id, d.day_ts, w.week_start AS f_ts, w.week_avg AS f_avg
      FROM daily d ASOF LEFT JOIN wk w
        ON d.user_id = w.user_id AND d.day_ts <= w.week_start
    )
    SELECT b.user_id, b.day_ts, ROUND(b.day_close, 6) AS day_close,
           CASE WHEN b.b_ts IS NOT NULL AND (f.f_ts IS NULL OR
                     abs(epoch_us(b.day_ts) - epoch_us(b.b_ts)) <=
                     abs(epoch_us(b.day_ts) - epoch_us(f.f_ts)))
                THEN b.b_ts ELSE f.f_ts END AS anchor_week,
           ROUND(CASE WHEN b.b_ts IS NOT NULL AND (f.f_ts IS NULL OR
                     abs(epoch_us(b.day_ts) - epoch_us(b.b_ts)) <=
                     abs(epoch_us(b.day_ts) - epoch_us(f.f_ts)))
                THEN b.b_avg ELSE f.f_avg END, 6) AS anchor_week_avg
    FROM b JOIN f ON b.user_id = f.user_id AND b.day_ts = f.day_ts
    """,
    tags=("join", "asof"),
    doc="NEAREST as-of join (pandas merge_asof direction='nearest'): "
    "each per-series daily bar is matched to its closest weekly "
    "anchor — backward or forward, whichever is nearer in absolute "
    "time, backward winning exact ties. Spark side evaluates BOTH "
    "fill directions over ONE window sort (last-over-preceding and "
    "first-over-following share the exchange) and picks by exact "
    "integer-microsecond distance; the oracle composes two native "
    "ASOF joins and re-joins on the (user_id, day) grouped key — "
    "unique by construction, so the recombination cannot fan out "
    "even on a fuzzed corpus with duplicate source rows.",
)
def q_asof_nearest_week_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    clean = ev.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    daily = (
        clean.groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(max_by_nn(nan_nn("value"), "ts").alias("day_close"))
        .select("user_id", F.to_timestamp("d").alias("day_ts"), "day_close")
    )
    wk = (
        clean.groupBy("user_id", F.date_trunc("week", F.col("ts")).alias("week_start"))
        .agg(_r6(F.avg("value")).alias("week_avg"))
    )
    joined = asof_join(
        daily,
        wk,
        on=["user_id"],
        left_ts="day_ts",
        right_ts="week_start",
        payload_cols=["week_start", "week_avg"],
        direction="nearest",
    )
    return joined.select(
        "user_id",
        "day_ts",
        _r6(F.col("day_close")).alias("day_close"),
        F.col("week_start").alias("anchor_week"),
        _r6(F.col("week_avg")).alias("anchor_week_avg"),
    )


@_register(
    "range_join_hour_stats",
    oracle="""
    WITH stats AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             max(value) AS hour_high, min(value) AS hour_low, count(*) AS hour_n
      FROM events GROUP BY user_id, date_trunc('hour', ts)
    )
    SELECT e.event_id, e.user_id, e.ts, e.value,
           ROUND(s.hour_high, 6) AS hour_high,
           ROUND(s.hour_low, 6)  AS hour_low,
           s.hour_n
    FROM events e
    JOIN stats s ON e.user_id = s.user_id AND date_trunc('hour', e.ts) = s.h
    """,
    tags=("join", "range"),
    doc="interval/range join done the scale-smart way: 'event within "
    "[bucket_start, bucket_end)' is rewritten as an EQUI-join on the "
    "truncated bucket key — a hash shuffle on dense keys instead of a "
    "non-equi range join's per-key cross product. The general recipe "
    "for fixed-width ranges; variable ranges bucket to a grid first.",
)
def q_range_join_hour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.max("value").alias("hour_high"),
        F.min("value").alias("hour_low"),
        F.count(F.lit(1)).alias("hour_n"),
    )
    joined = ev.withColumn("h", F.date_trunc("hour", F.col("ts"))).join(
        stats, on=["user_id", "h"]
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        _r6(F.col("hour_high")).alias("hour_high"),
        _r6(F.col("hour_low")).alias("hour_low"),
        "hour_n",
    )


def _eod_dim(ev: DataFrame) -> DataFrame:
    """The as-of dimension both asof_prev_close and its streaming twin
    share: per-series daily closes, available from next midnight."""
    return (
        ev.groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(max_by_nn(nan_nn("value"), "ts").alias("prev_close"))
        .select(
            "user_id",
            "prev_close",
            (F.to_timestamp("d") + F.expr("INTERVAL 1 DAY")).alias("avail_ts"),
        )
    )


@_register(
    "stream_asof_enrich",
    oracle=None,  # stream-static temporal enrichment — rows-only
    # check; oracle-anchored transitively via asof_prev_close (driver-
    # green r01): row-for-row equality asserted in
    # tests/test_asof_generic.py, and it holds for ANY micro-batch
    # split because the dimension is static and each left row's fill
    # is independent of its batch-mates.
    tags=("streaming", "asof", "join"),
    doc="streaming as-of enrichment: events replay as a file stream "
    "and each micro-batch is point-in-time joined (foreachBatch -> "
    "union-and-fill asof_join) against the static EOD-close dimension "
    "— the canonical stream-static temporal join Structured Streaming "
    "has no native operator for. Unlike watermark-dependent ops the "
    "output is bit-identical to the batch twin under ANY batch "
    "boundaries (static right side, per-row independent fill), so "
    "the streaming form inherits asof_prev_close's driver-green "
    "oracle. At scale the per-batch cost is |batch|+|dim| rows "
    "through one hash shuffle; a broadcast of the dim's per-key tail "
    "(latest row per key at stream start) shrinks it further.",
)
def q_stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    import uuid

    ev_static = _t(spark, sf_dir, "events")  # pins TZ/nanos confs
    eod = _eod_dim(ev_static)
    s = read_events_stream(spark, sf_dir)

    out_dir = tempfile.mkdtemp(prefix="sp_asof_stream_")

    def enrich(batch_df: DataFrame, _batch_id: int) -> None:
        res = asof_join(
            batch_df.select("event_id", "user_id", "ts", "value"),
            eod,
            on=["user_id"],
            left_ts="ts",
            right_ts="avail_ts",
            payload_cols=["prev_close"],
        ).select(
            "event_id", "user_id", "ts", "value",
            _r6(F.col("prev_close")).alias("prev_close"),
        )
        res.write.mode("append").parquet(out_dir)

    q = (
        s.writeStream.foreachBatch(enrich)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            tempfile.mkdtemp(prefix=f"sp_ckpt_{uuid.uuid4().hex[:8]}_"),
        )
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream_asof_enrich: availableNow run exceeded 300s")
    return spark.read.parquet(out_dir)


# ---------------------------------------------------------------------------
# Change-data-capture snapshot diff and time-weighted linear
# interpolation — the warehouse maintenance pair: detect what changed
# between two table versions, and repair gaps a feed left behind.
#
# `snapshot_diff_cdc` derives two deterministic snapshot versions from
# the orders table (same derivation on both engines: a later cutoff
# inserts rows, orderkey % 7 rows get a price revision, orderkey % 11
# rows are deleted) and computes the insert/update/delete changefeed via
# one FULL OUTER join on the key — the diff a CDC publisher emits when a
# table has no native changelog.
#
# `interpolate_linear_gaps` repairs synthesized missing points (every
# 5th event) with time-weighted linear interpolation between the
# surrounding observations — the step up from ffill/bounded-ffill
# (operators/quality.py) when the series is numeric and gaps must not
# flatten.


@_register(
    "snapshot_diff_cdc",
    oracle="""
    WITH snap_a AS (
      SELECT o_orderkey,
             CAST(ROUND((CASE WHEN NOT isfinite(o_totalprice) THEN NULL ELSE o_totalprice END) * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
    ), snap_b AS (
      SELECT o_orderkey,
             cents + CASE WHEN o_orderkey % 7 = 0
                          THEN cents // 20 ELSE 0 END AS cents
      FROM (
        SELECT o_orderkey,
               CAST(ROUND((CASE WHEN NOT isfinite(o_totalprice) THEN NULL ELSE o_totalprice END) * 100) AS BIGINT) AS cents
        FROM orders
        WHERE o_orderdate < TIMESTAMP '2001-01-01'
          AND o_orderkey % 11 != 0
      )
    ), diff AS (
      SELECT CASE WHEN a.o_orderkey IS NULL THEN 'insert'
                  WHEN b.o_orderkey IS NULL THEN 'delete'
                  WHEN a.cents != b.cents THEN 'update'
                  ELSE 'unchanged' END AS change_type,
             COALESCE(b.cents, 0) - COALESCE(a.cents, 0) AS delta_cents
      FROM snap_a a FULL OUTER JOIN snap_b b
        ON a.o_orderkey = b.o_orderkey
    )
    SELECT change_type, COUNT(*) AS n_rows,
           ROUND(SUM(delta_cents) / 100.0, 4) AS total_delta
    FROM diff GROUP BY change_type ORDER BY change_type
    """,
    tags=("join", "warehouse", "cdc"),
    doc="snapshot-diff changefeed: FULL OUTER join of two table "
    "versions on the primary key classifies every row as insert / "
    "update / delete / unchanged and totals the price delta "
    "(prices snap to integer cents BEFORE the revision, and the 5% "
    "markup is integer division — no float rounding can diverge "
    "between engines). At scale both snapshots shuffle once "
    "on the key — or zero times if the table is bucketed by it "
    "(sinks.py's bucketed layout); this is the publisher side of the "
    "orders_merge_upsert consumer already registered.",
)
def q_snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cents = F.round(nan_nn("o_totalprice") * 100).cast("bigint")
    snap_a = o.filter(
        F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp")
    ).select("o_orderkey", cents.alias("cents"))
    snap_b = (
        o.filter(
            (F.col("o_orderdate") < F.lit("2001-01-01").cast("timestamp"))
            & (F.col("o_orderkey") % 11 != 0)
        )
        .select("o_orderkey", cents.alias("cents"))
        .select(
            "o_orderkey",
            (
                F.col("cents")
                + F.when(
                    F.col("o_orderkey") % 7 == 0,
                    F.expr("cents div 20"),
                ).otherwise(F.lit(0))
            ).alias("cents"),
        )
    )
    a = snap_a.alias("a")
    b = snap_b.alias("b")
    joined = a.join(
        b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    )
    change = (
        F.when(F.col("a.o_orderkey").isNull(), "insert")
        .when(F.col("b.o_orderkey").isNull(), "delete")
        .when(F.col("a.cents") != F.col("b.cents"), "update")
        .otherwise("unchanged")
    )
    delta = F.coalesce(F.col("b.cents"), F.lit(0)) - F.coalesce(
        F.col("a.cents"), F.lit(0)
    )
    return (
        joined.select(change.alias("change_type"), delta.alias("delta_cents"))
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _r4(F.sum("delta_cents") / 100.0).alias("total_delta"),
        )
        .orderBy("change_type")
    )


@_register(
    "interpolate_linear_gaps",
    oracle="""
    WITH masked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
      FROM events
    ), bounded AS (
      SELECT user_id, ts, event_id, v,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pts,
             first_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nts
      FROM masked
    )
    SELECT user_id, ts, event_id,
           ROUND(pv + (nv - pv)
                 * (CAST(epoch_us(ts) - epoch_us(pts) AS DOUBLE)
                    / (epoch_us(nts) - epoch_us(pts))), 6) AS v_interp
    FROM bounded
    WHERE v IS NULL AND pv IS NOT NULL AND nv IS NOT NULL
    """,
    tags=("window", "quality"),
    doc="time-weighted linear interpolation of missing points (every "
    "5th event masked on both engines): previous/next observed value "
    "and timestamp via IGNORE NULLS window frames, interpolation "
    "factor from exact epoch-microsecond arithmetic. The numeric "
    "upgrade of ffill/bounded-ffill for gaps that must not flatten; "
    "all four windows share the one per-series sort.",
)
def q_interpolate_linear_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    masked = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_id") % 5 == 0, None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    prev_f = w.rowsBetween(Window.unboundedPreceding, -1)
    next_f = w.rowsBetween(1, Window.unboundedFollowing)
    obs_ts = F.when(F.col("v").isNotNull(), F.col("ts"))
    bounded = masked.select(
        "user_id",
        "ts",
        "event_id",
        "v",
        F.last("v", ignorenulls=True).over(prev_f).alias("pv"),
        F.last(obs_ts, ignorenulls=True).over(prev_f).alias("pts"),
        F.first("v", ignorenulls=True).over(next_f).alias("nv"),
        F.first(obs_ts, ignorenulls=True).over(next_f).alias("nts"),
    )
    frac = (
        F.unix_micros("ts") - F.unix_micros("pts")
    ).cast("double") / (F.unix_micros("nts") - F.unix_micros("pts"))
    return (
        bounded.filter(
            F.col("v").isNull()
            & F.col("pv").isNotNull()
            & F.col("nv").isNotNull()
        )
        .select(
            "user_id",
            "ts",
            "event_id",
            _r6(F.col("pv") + (F.col("nv") - F.col("pv")) * frac).alias(
                "v_interp"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Point-in-time-correct training-set assembly — the feature-store
# operation that decides whether an ML pipeline leaks the future:
# every feature attached to a label row must be computable from STRICTLY
# BEFORE the label timestamp.
#
# Spark-first shape: no join at all. Labels (purchase events) and the
# feature stream are the same partitioned series, so one pass of
# per-user RANGE-frame windows (microsecond integer key, upper bound
# 1 microsecond PRECEDING — the rolling_1h_time_window pattern) attaches
# the trailing-7-day counts/sums and the as-of previous event, then the
# label filter keeps purchase rows. At 100 TB this is one shuffle on
# user_id — the same exchange every per-user feature shares.
#
# Determinism: money is integer cents BEFORE the window sum (the
# SCALE.md fold-order contract); the strictly-before frame makes the
# label row and any exact-duplicate row invisible to its own features
# in both engines identically.


_7D_US = 7 * 24 * 3600 * 1_000_000


@_register(
    "leakage_free_training_set",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, user_id, ts, event_type,
             epoch_us(ts) AS us,
             CASE WHEN value IS NULL OR NOT isfinite(value) THEN NULL
                  ELSE CAST(round(value * 100) AS BIGINT) END AS cents
      FROM events WHERE ts IS NOT NULL
    ), feat AS (
      SELECT event_id, user_id, ts, event_type,
             COUNT(*) OVER w7 AS n_prev_7d,
             SUM(cents) OVER w7 AS cents_prev_7d,
             COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
               OVER w7 AS n_prev_purchases,
             -- total order: adversarial corpora collide (us,
             -- event_id) with different payloads; type/value
             -- tiebreaks (NULLS LAST both engines) leave only
             -- full-duplicate ties, where lag's answer is identical
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id,
                                            event_type NULLS LAST,
                                            cents NULLS LAST)
               AS prev_event_type
      FROM ev
      WINDOW w7 AS (PARTITION BY user_id ORDER BY us
                    RANGE BETWEEN {_7D_US} PRECEDING
                          AND 1 PRECEDING)
    )
    SELECT event_id AS label_id, user_id, ts,
           CAST(COALESCE(n_prev_7d, 0) AS BIGINT) AS n_prev_7d,
           ROUND(COALESCE(cents_prev_7d, 0) / 100.0, 2)
             AS value_prev_7d,
           CAST(COALESCE(n_prev_purchases, 0) AS BIGINT)
             AS n_prev_purchases,
           prev_event_type
    FROM feat
    WHERE event_type = 'purchase'
    ORDER BY user_id, ts, label_id
    """,
    tags=("ml", "window", "feature"),
    doc="Leakage-free training-set assembly: label rows (purchases) "
    "carry trailing-7-day activity count, spend, and purchase count "
    "plus the as-of previous event — all through per-user RANGE "
    "frames on the microsecond key with an upper bound of 1 "
    "microsecond PRECEDING, so the label row (and any exact "
    "duplicate of it) can never see itself. No join: labels and "
    "features share one user_id exchange — the point-in-time "
    "correctness the scd2_point_in_time_join gives dimension "
    "attributes, delivered for windowed behavioral features. Spend "
    "sums integer cents inside the frame (fold-order exact).",
)
def q_leakage_free_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            F.expr("unix_micros(ts)").alias("us"),
            # nan_nn: a NaN spend is garbage, not money — and the
            # cents snap would raise CAST_OVERFLOW on it (ANSI)
            F.when(
                nan_nn("value").isNotNull(),
                F.round(nan_nn("value") * 100).cast("bigint"),
            ).alias("cents"),
        )
    )
    w7 = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-_7D_US, -1)
    )
    wl = Window.partitionBy("user_id").orderBy(
        F.col("us").asc(),
        F.col("event_id").asc(),
        F.col("event_type").asc_nulls_last(),
        F.col("cents").asc_nulls_last(),
    )
    feat = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.count(F.lit(1)).over(w7).alias("n_prev_7d"),
        F.sum("cents").over(w7).alias("cents_prev_7d"),
        F.count(
            F.when(F.col("event_type") == "purchase", 1)
        ).over(w7).alias("n_prev_purchases"),
        F.lag("event_type").over(wl).alias("prev_event_type"),
    )
    return (
        feat.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("label_id"),
            "user_id",
            "ts",
            F.coalesce("n_prev_7d", F.lit(0))
            .cast("long")
            .alias("n_prev_7d"),
            _r2(
                F.coalesce("cents_prev_7d", F.lit(0)) / 100.0
            ).alias("value_prev_7d"),
            F.coalesce("n_prev_purchases", F.lit(0))
            .cast("long")
            .alias("n_prev_purchases"),
            "prev_event_type",
        )
        .orderBy("user_id", "ts", "label_id")
    )

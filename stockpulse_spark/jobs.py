"""End-to-end jobs — the reference's three processes, re-shaped.

reference process            → job here
----------------------------   ------------------------------------
stocks_pipeline.main()         ingest_job: payloads → bars → gate →
(REST poll → clean → derive    clean → derived columns → bronze +
 → GCS + Pub/Sub)              silver parquet + wire messages
bigquery_loader.main()         load_job: message stream → dedup →
(subscriber → dup check →      dual sink (raw/processed), checkpointed
 buffered inserts)
app/dashboard.py load+calc     analytics_job: silver scan → indicator
                               panel DataFrame (collect-free)

Each job is a pure function over DataFrames + paths: no scheduler
state, no retries, no buffers — Spark's triggers/checkpoints own those
(SURVEY §3). The reference's 820 lines of ingestion/loader plumbing
reduce to ~60 declarative lines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stockpulse_spark.functions.indicators import (
    IndicatorContext,
    atr,
    bollinger,
    rsi,
    sma,
    vwap,
)
from stockpulse_spark.operators.quality import clean_bars
from stockpulse_spark.schemas import BARS_RAW
from stockpulse_spark.sources.rest_replay import incremental_gate, parse_api_payload
from stockpulse_spark.sources.sinks import write_bronze, write_silver
from stockpulse_spark.streaming.pipeline import encode_stream_messages


def derive_processed(bars: DataFrame) -> DataFrame:
    """Producer-side derived columns (reference data_preprocessor.py:
    37-84): date/time fields + per-(symbol, day) ma5 and cumulative
    average."""
    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy("timestamp")
    return bars.select(
        "*",
        F.to_date("timestamp").alias("date"),
        F.date_format("timestamp", "HH:mm:ss").alias("time"),
        F.avg("close").over(w.rowsBetween(-4, 0)).alias("moving_average"),
        F.avg("close")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cumulative_average"),
    )


def ingest_job(
    payloads: DataFrame,
    last_seen: DataFrame | None,
    bronze_path: str,
    silver_path: str,
    retention_days: int = 30,
) -> DataFrame:
    """REST payloads (symbol, payload json string) → parsed, gated,
    cleaned, derived; bronze + silver written; returns the wire
    messages the reference would publish (one JSON per bar).

    The fetch fans out to three actions (bronze write, silver write,
    the caller's collect of the messages), so the processed bars are
    computed once with an eager `localCheckpoint()` and every branch
    reads that. Without it each action re-runs parse → explode → gate
    → dedup, and the gate's `current_timestamp()` and `last_seen` read
    (often of the bronze path written here) are evaluated per action,
    so the three outputs could disagree at the retention boundary.
    `localCheckpoint` rather than `persist()`: the returned messages
    are lazy and collected by the caller, so no one here could
    `unpersist()`; the ContextCleaner frees the blocks once the frame
    is dropped. Trade-off: the blocks live on executors only, so an
    executor loss fails the job instead of recomputing from lineage."""
    bars = parse_api_payload(payloads)
    if last_seen is not None:
        bars = incremental_gate(bars, last_seen, retention_days=retention_days)
    bars = clean_bars(bars, key_cols=["symbol", "timestamp"])
    processed = derive_processed(bars).localCheckpoint()
    write_bronze(processed.select(BARS_RAW.fieldNames()), bronze_path)
    write_silver(processed, silver_path)
    return encode_stream_messages(processed)


def analytics_job(
    spark: SparkSession,
    silver_path: str,
    symbol: str | None = None,
    days: int | None = None,
) -> DataFrame:
    """Dashboard data load + indicator computation (reference
    app/dashboard.py:29-145) as one lazy plan: partition-pruned scan,
    optional trailing time-range, full indicator panel. The caller
    renders; nothing is collected here."""
    df = spark.read.parquet(silver_path)
    if symbol is not None:
        df = df.filter(F.col("symbol") == symbol)  # partition pruning
    if days is not None:
        mx = df.agg(F.max("timestamp").alias("__mx"))
        df = (
            df.crossJoin(F.broadcast(mx))
            .filter(
                F.col("timestamp")
                >= F.col("__mx") - F.make_interval(days=F.lit(days))
            )
            .drop("__mx")
        )
    ctx = IndicatorContext(("symbol",), ("timestamp",), "close")
    mid, up, lo = bollinger(ctx, 20)
    return df.select(
        "*",
        sma(ctx, 5).alias("sma5"),
        mid.alias("bb_mid"),
        up.alias("bb_upper"),
        lo.alias("bb_lower"),
        rsi(ctx, 14).alias("rsi14"),
        atr(ctx, 14).alias("atr14"),
        vwap(ctx).alias("vwap"),
    )

"""Structured Streaming parity with the reference's ingestion/load path.

Reference architecture (SURVEY §3.1-3.2): REST poll → Pub/Sub topic →
threaded subscriber → per-record EXISTS dup check → 100-row/60-s
buffered BigQuery inserts → periodic ROW_NUMBER dedup rewrite. Five
hand-rolled mechanisms, each replaced by ONE Structured Streaming
primitive:

| reference mechanism                      | here                          |
|------------------------------------------|-------------------------------|
| Pub/Sub topic + subscriber (S7/S8)       | file/kafka readStream source  |
| 100 rows / 60 s buffer flush (S10, T1)   | trigger(processingTime=…)     |
| per-record EXISTS + dedup sweep (A2/W1)  | watermark + dropDuplicates    |
| 30-day retention filter (S4, T3)         | the same watermark            |
| ack/nack + restart loop (T4/T5)          | checkpointLocation replay     |

State stays bounded: the watermark bounds the dropDuplicates state to
the retention window — the reference needs a full-table rewrite every
300 s (dedup_pipeline.py:114-130) for the same guarantee.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stockpulse_spark.functions.nullsafe import max_by_nn, min_by_nn
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from stockpulse_spark.schemas import BARS_RAW, STREAM_MESSAGE


def encode_stream_messages(df: DataFrame) -> DataFrame:
    """Bars → wire-format messages (reference S7, stocks_pipeline.py:
    62-87: one flat JSON object per bar, timestamp as a formatted
    string). Output is a single `value` string column — the shape every
    message-bus sink (Kafka/Pub/Sub-Lite) accepts."""
    cols = [
        F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss").alias("timestamp"),
        *[F.col(c) for c in df.columns if c != "timestamp"],
    ]
    return df.select(F.to_json(F.struct(*cols)).alias("value"))


def decode_stream_messages(
    df: DataFrame, schema: T.StructType = STREAM_MESSAGE
) -> DataFrame:
    """Wire messages → typed rows (reference S8 callback JSON decode,
    bigquery_loader.py:211-262). Malformed payloads decode to a NULL
    struct and are routed out as a dead-letter stream by the caller
    (reference nack path T4) — here: filter on `__ok`."""
    parsed = df.select(
        F.from_json(F.col("value"), schema).alias("m"), F.col("value")
    )
    # PERMISSIVE from_json yields an all-null struct for malformed
    # input; the reference also nacks messages with no routable symbol
    # (bigquery_loader.py:217-220) — both gate on symbol presence.
    ok = F.col("m").isNotNull() & F.col("m.symbol").isNotNull()
    return parsed.select(
        F.col("m.*"), ok.alias("__ok"), "value"
    ).withColumn("timestamp", F.to_timestamp("timestamp", "yyyy-MM-dd HH:mm:ss"))


def replay_json_stream(
    spark: SparkSession,
    src_dir: str,
    schema: T.StructType = STREAM_MESSAGE,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-replay source for flat stream messages (FIXTURES.md F3) —
    one JSON object per line, `timestamp` as wire-format string parsed
    to TimestampType (reference stocks_pipeline.py:62-78).

    For the swappable-binding seam (file / rate / kafka / pubsublite
    behind one interface) use sources/connectors.py:open_stream, which
    routes every bus through the same decode_stream_messages contract."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(src_dir)
    return raw.withColumn(
        "timestamp", F.to_timestamp("timestamp", "yyyy-MM-dd HH:mm:ss")
    )


def dedup_stream(
    df: DataFrame,
    keys: list[str] = ("symbol", "timestamp"),
    watermark_col: str = "timestamp",
    watermark: str = "30 days",
) -> DataFrame:
    """Exactly-once-per-key semantics (reference T2: three dedup layers
    → one operator). The watermark simultaneously drops late rows
    beyond the retention window (T3, stocks_pipeline.py:146-155) and
    bounds the dedup state store."""
    return df.withWatermark(watermark_col, watermark).dropDuplicates(list(keys))


def dual_sink_writer(raw_path: str, processed_path: str):
    """foreachBatch fan-out: every micro-batch lands in the raw archive
    AND the processed table (reference S11, bigquery_loader.py:264-266;
    raw/processed schemas :62-85). The processed side recomputes the
    producer's derived columns (ma5/cma per symbol-day) INSIDE the
    batch — same semantics as the reference, which computes them at the
    producer per fetch (data_preprocessor.py:63-70).

    foreachBatch + checkpoint gives at-least-once into idempotent
    parquet appends; with a MERGE-capable sink (Delta/Iceberg) the same
    hook is exactly-once.

    The batch is persisted around the two writes: unpersisted, each
    write re-runs the micro-batch plan, stateful dedup included, which
    doubles the state rows and dropped-duplicate counts the query
    reports. Unpersisted in `finally`, so a failed write frees it too.
    """
    from pyspark.sql import Window

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy("timestamp")
        batch.persist()
        try:
            batch.select(
                *[c for c in BARS_RAW.fieldNames() if c in batch.columns]
            ).write.mode("append").parquet(raw_path)
            processed = batch.select(
                "*",
                F.avg("close").over(w.rowsBetween(-4, 0)).alias("ma5_batch"),
                F.avg("close")
                .over(w.rowsBetween(Window.unboundedPreceding, 0))
                .alias("cma_batch"),
            )
            processed.write.mode("append").parquet(processed_path)
        finally:
            batch.unpersist()

    return write_batch


def start_dual_sink(
    df: DataFrame,
    raw_path: str,
    processed_path: str,
    checkpoint: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Wire the dual sink with checkpointing (reference T1 buffering ≙
    trigger; T4/T5 redelivery/restart ≙ checkpoint replay)."""
    writer = df.writeStream.foreachBatch(
        dual_sink_writer(raw_path, processed_path)
    ).option("checkpointLocation", checkpoint)
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()


def streaming_resample(
    df: DataFrame,
    freq: str = "1 hour",
    ts_col: str = "timestamp",
    partition_cols: list[str] = ("symbol",),
    value_col: str = "close",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window OHLC resample under a watermark (reference T6,
    docs/preprocessing.md:19-33) — the same expression shape as the
    batch resample_ohlcv, so batch and stream results coincide once the
    window closes (asserted in tests/test_streaming.py)."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(*partition_cols, F.window(F.col(ts_col), freq).alias("w"))
        .agg(
            min_by_nn(value_col, ts_col).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            max_by_nn(value_col, ts_col).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
        .select(F.col("w.start").alias("bucket_start"), *partition_cols,
                "open", "high", "low", "close", "volume")
    )


def read_upsert_snapshot(spark: SparkSession, snapshot_base: str) -> DataFrame | None:
    """Latest version of an upsert-sink snapshot, or None before the
    first commit. Versions are plain `v<batch_id>` parquet dirs; a
    production deployment swaps this for a transactional table format
    (Delta/Iceberg) — the sink contract is identical."""
    import os

    if not os.path.isdir(snapshot_base):
        return None
    versions = sorted(
        d for d in os.listdir(snapshot_base)
        if d.startswith("v") and os.path.isdir(os.path.join(snapshot_base, d))
    )
    if not versions:
        return None
    return spark.read.parquet(os.path.join(snapshot_base, versions[-1]))


def upsert_sink_writer(snapshot_base: str, keys: list[str], order_by: str):
    """foreachBatch streaming MERGE: each micro-batch upserts into a
    versioned snapshot via operators/merge.merge_upsert (newer
    `order_by` wins). This is the streaming face of the batch MERGE
    operator — the reference's subscriber achieves the same net state
    with per-record EXISTS checks plus a periodic dedup rewrite
    (bigquery_loader.py:264-307, dedup_pipeline.py:114-130); here one
    declarative reconciliation per batch does it.

    Idempotent under checkpoint replay: the batch collapses to one row
    per key first, and a replayed batch_id overwrites its own version
    dir, so at-least-once delivery still yields exactly-once state.
    """
    from pyspark.sql import Window

    from stockpulse_spark.operators.merge import merge_upsert

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy(*keys).orderBy(F.col(order_by).desc())
        collapsed = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        cur = read_upsert_snapshot(batch.sparkSession, snapshot_base)
        if cur is None:
            merged = collapsed
        else:
            merged = merge_upsert(
                cur.select(*collapsed.columns), collapsed, keys, order_by
            ).drop("__merge_action").select(*collapsed.columns)
        merged.write.mode("overwrite").parquet(
            f"{snapshot_base}/v{batch_id:09d}"
        )

    return write_batch


def start_upsert_sink(
    df: DataFrame,
    snapshot_base: str,
    checkpoint: str,
    keys: list[str] = ("symbol",),
    order_by: str = "timestamp",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Wire the streaming MERGE sink with checkpointing."""
    writer = df.writeStream.foreachBatch(
        upsert_sink_writer(snapshot_base, list(keys), order_by)
    ).option("checkpointLocation", checkpoint)
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()

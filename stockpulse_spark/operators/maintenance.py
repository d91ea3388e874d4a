"""Table-maintenance jobs (reference T7 analog).

The reference rewrites every table every 300 s just to dedup
(dedup_pipeline.py:114-130). Here dedup is a streaming operator, so
maintenance reduces to the jobs a lakehouse actually needs at scale:

- `compact`: small-file compaction — streaming appends produce one
  file per micro-batch per partition; periodically coalescing them to
  target-sized files keeps scan task counts sane (100 TB with 1 MB
  files = 10⁸ tasks; with 512 MB files = 2×10⁵).
- `dedup_rewrite`: the reference's keep-latest rewrite as a one-shot
  batch job, for healing historical data that predates the streaming
  dedup (e.g. backfills).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from stockpulse_spark.operators.dedup import dedup_keep_latest

TARGET_FILE_BYTES = 128 * 1024 * 1024


def compact(
    spark: SparkSession,
    path: str,
    partition_cols: list[str] = ("symbol",),
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> int:
    """Rewrite a parquet dataset into ~target-sized files, written to
    `path + "__compacted"` (atomic swap is the deployment's mv/rename).
    Returns the target output file count. The input is sized from the
    relation's plan statistics (the file index's byte total), so any
    Hadoop filesystem works, not just local paths."""
    df = spark.read.parquet(path)
    est_bytes = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    n_files = max(1, round(est_bytes / target_file_bytes))
    (
        df.repartition(n_files, *partition_cols)
        .sortWithinPartitions("timestamp")
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(path + "__compacted")
    )
    return n_files


def dedup_rewrite(
    spark: SparkSession,
    path: str,
    out_path: str,
    keys: list[str] = ("symbol", "timestamp"),
    order_cols: list[str] = ("timestamp",),
    partition_cols: list[str] = ("symbol",),
) -> None:
    """One-shot keep-latest rewrite (reference W1 as a batch job)."""
    df = spark.read.parquet(path)
    deduped = dedup_keep_latest(df, list(keys), list(order_cols))
    (
        deduped.repartition(*partition_cols)
        .sortWithinPartitions("timestamp")
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(out_path)
    )

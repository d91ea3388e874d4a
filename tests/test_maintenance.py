"""Maintenance-job tests: compaction file targeting + dedup rewrite."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stockpulse_spark.operators.maintenance import compact, dedup_rewrite


@pytest.fixture()
def fragmented(spark, tmp_path):
    """Simulate streaming append fragmentation: many tiny files."""
    path = str(tmp_path / "bronze")
    for batch in range(5):
        rows = [
            (f"2024-01-02 09:{5 * batch:02d}:00", s, 1.0 * batch, 10)
            for s in ("AAPL", "MSFT")
        ]
        df = spark.createDataFrame(
            rows, "timestamp string, symbol string, close double, volume long"
        ).withColumn("timestamp", F.to_timestamp("timestamp"))
        df.repartition(4).write.mode("append").partitionBy("symbol").parquet(path)
    return path


def test_compact_reduces_files(spark, fragmented):
    before = len(spark.read.parquet(fragmented).inputFiles())
    compact(spark, fragmented, target_file_bytes=10**9)
    out = spark.read.parquet(fragmented + "__compacted")
    after = len(out.inputFiles())
    assert out.count() == spark.read.parquet(fragmented).count()
    assert after < before


def test_compact_file_count_matches_local_file_sizes(spark, fragmented):
    """On a local dataset the plan-statistics size equals the summed
    file sizes, so the target count is the one they give."""
    target = 1024
    files = spark.read.parquet(fragmented).inputFiles()
    local_bytes = sum(os.path.getsize(f.removeprefix("file:")) for f in files)
    expected = max(1, round(local_bytes / target))
    assert expected > 1
    assert compact(spark, fragmented, target_file_bytes=target) == expected


def test_dedup_rewrite(spark, tmp_path, fragmented):
    # append the same data twice → duplicates on (symbol, timestamp)
    df = spark.read.parquet(fragmented)
    df.write.mode("append").partitionBy("symbol").parquet(fragmented)
    out_path = str(tmp_path / "healed")
    dedup_rewrite(spark, fragmented, out_path)
    healed = spark.read.parquet(out_path)
    keys = healed.select("symbol", "timestamp").collect()
    assert len(keys) == len(set(map(tuple, keys)))
    assert healed.count() == df.count()

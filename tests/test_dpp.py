"""Dynamic partition pruning: a fact table laid out with
partitionBy(year) must be pruned at RUNTIME when joined against a
filtered dimension — the scan's partition filter is injected from the
dim's broadcast result, so only the matching year directories are
read. At 100 TB this is the difference between scanning the whole
fact table and scanning one partition per qualifying dim row."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from stockpulse_spark.sources.tables import load_table
from tests.conftest import SF_DIR, executed_plan


def test_dpp_kicks_in_on_partitioned_fact(spark, tmp_path):
    fact_path = str(tmp_path / "orders_by_year")
    orders = load_table(spark, SF_DIR, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    orders.write.mode("overwrite").partitionBy("o_year").parquet(fact_path)

    fact = spark.read.parquet(fact_path)
    years = sorted(
        r["o_year"] for r in fact.select("o_year").distinct().collect()
    )
    assert len(years) >= 3  # the prune must have something to prune

    dim = spark.createDataFrame(
        [(y, "keep" if y == years[0] else "drop") for y in years],
        ["d_year", "d_flag"],
    )
    joined = (
        fact.join(
            F.broadcast(dim),
            fact.o_year == dim.d_year,
        )
        .filter(F.col("d_flag") == "keep")
        .groupBy("o_year")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = executed_plan(spark, joined)
    assert "dynamicpruning" in plan.lower(), plan[:2000]

    rows = joined.collect()
    assert [r["o_year"] for r in rows] == [years[0]]
    expected = fact.filter(F.col("o_year") == years[0]).count()
    assert rows[0]["n"] == expected


def test_static_partition_pruning_on_filter(spark, tmp_path):
    """Literal predicates on the partition column must prune at plan
    time (PartitionFilters in the scan, no dim needed)."""
    fact_path = str(tmp_path / "orders_by_year2")
    orders = load_table(spark, SF_DIR, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    orders.write.mode("overwrite").partitionBy("o_year").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    y = fact.select(F.min("o_year")).first()[0]
    q = fact.filter(F.col("o_year") == y)
    plan = executed_plan(spark, q)
    # the o_year equality must appear inside the scan's PartitionFilters
    # clause specifically — matching the literal anywhere in the plan
    # would be vacuous (the Filter node always carries it)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert re.search(rf"o_year#\d+L?\)? = {y}", m.group(1)), m.group(1)
    assert q.count() == orders.filter(F.col("o_year") == y).count()

"""salted_grouped_topk == single-window top-k for any total ordering,
and its plan carries the two-stage shape (two partitioned windows, no
unpartitioned window)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from stockpulse_spark.llmdata.hashing import word32_sql
from stockpulse_spark.operators.topk import salted_grouped_topk
from stockpulse_spark.sources.tables import load_table
from tests.conftest import SF_DIR, executed_plan


def _events(spark):
    return load_table(spark, SF_DIR, "events").select(
        "event_id", "event_type", "value"
    )


def test_matches_single_window_form(spark):
    df = _events(spark)
    ordering = [
        F.desc_nulls_last("value"),
        F.asc("event_id"),
    ]
    got = (
        salted_grouped_topk(
            df,
            ["event_type"],
            ordering,
            7,
            F.expr(word32_sql("CAST(event_id AS STRING)")),
        )
        .select("event_type", "event_id", "rk")
        .collect()
    )
    w = Window.partitionBy("event_type").orderBy(*ordering)
    want = (
        df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 7)
        .select("event_type", "event_id", "rk")
        .collect()
    )
    assert sorted(got) == sorted(want)


def test_bucket_count_respected_and_exact_at_group_edge(spark):
    """k larger than some groups: every row of a small group must
    survive both stages (rank is exact, not truncated by salting)."""
    df = _events(spark).filter(F.col("event_id") < 40)
    got = salted_grouped_topk(
        df,
        ["event_type"],
        [F.asc("event_id")],
        1000,
        F.expr(word32_sql("CAST(event_id AS STRING)")),
        buckets=4,
    )
    assert got.count() == df.count()


def test_plan_has_no_unpartitioned_window(spark):
    df = _events(spark)
    out = salted_grouped_topk(
        df,
        ["event_type"],
        [F.desc_nulls_last("value"), F.asc("event_id")],
        5,
        F.expr(word32_sql("CAST(event_id AS STRING)")),
    )
    plan = executed_plan(spark, out)
    assert "CartesianProduct" not in plan
    # two window stages, stage 1 keyed by (group, __salt)
    assert plan.count("windowspecdefinition") >= 2
    assert "__salt" in plan

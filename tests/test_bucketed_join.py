"""Bucketed co-located join: identically-bucketed fact tables join
WITHOUT a shuffle — the storage-layout optimization that removes the
star join's dominant exchange at 100 TB (SCALE.md)."""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpulse_spark.sources.sinks import bucket_fact_tables
from tests.conftest import SF_DIR, executed_plan


def test_bucketed_join_is_shuffle_free(spark):
    bucket_fact_tables(spark, SF_DIR, db="sp_bucket_test", n_buckets=4)
    l = spark.table("sp_bucket_test.lineitem")
    o = spark.table("sp_bucket_test.orders")
    joined = l.join(o, l.l_orderkey == o.o_orderkey).groupBy("o_orderstatus").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 1e4)
        .alias("r")
    )
    # at test scale Spark would just broadcast the small side; disable
    # broadcast to exercise the path that matters at 100 TB, where
    # neither fact side fits in memory and bucketing is what removes
    # the exchange
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = executed_plan(spark, joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # the join inputs read co-located buckets directly — no
        # exchange on either join key (only the final tiny agg shuffles)
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        got = sorted(map(tuple, joined.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # correctness: same result as the plain parquet join
    from stockpulse_spark.sources.tables import load_table

    lp = load_table(spark, SF_DIR, "lineitem")
    op = load_table(spark, SF_DIR, "orders")
    plain = (
        lp.join(op, lp.l_orderkey == op.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 1e4
            ).alias("r")
        )
    )
    assert got == sorted(map(tuple, plain.collect()))

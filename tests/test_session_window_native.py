"""Spark's native session_window must produce the same sessions as the
declarative lag+cumsum sessionization used in the oracle-checked
`sessionize_events` query — pins the two formulations together."""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpulse_spark.plans.relational import q_sessionize_events
from stockpulse_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def test_native_session_window_matches_declarative(spark):
    ev = load_table(spark, SF_DIR, "events")
    native = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )
    declarative = q_sessionize_events(spark, SF_DIR).select(
        "user_id", "session_start", "session_end", "n_events"
    )
    n = sorted(map(tuple, native.collect()))
    d = sorted(map(tuple, declarative.collect()))
    assert n == d

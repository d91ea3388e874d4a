"""The local parity gate must mirror the driver's canonicalizer
EXACTLY — round 4 shipped 30 'green' queries the driver failed because
the old tool stringified floats at 6dp and ints via str(), hiding the
DuckDB HUGEINT→float64 dtype divergence and ArrayType outputs.

These tests pin the two driver-fatal shapes against a deliberately
broken spec each, so a parity.py regression can't silently reopen the
gap between builder-green and driver-green.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from stockpulse_spark.plans.registry import QuerySpec
from stockpulse_spark.sources.tables import load_table
from tests.conftest import SF_DIR
from tools.parity import compare


def _run(spec, spark):
    con = duckdb.connect()
    p = f"{SF_DIR}/events.parquet"
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{p}')")
    from tools import parity

    parity.REGISTRY[spec.name] = spec
    try:
        status, *_ = compare(spec.name, spark, con, SF_DIR, verbose=False)
    finally:
        del parity.REGISTRY[spec.name]
    return status


def test_uncast_hugeint_oracle_fails(spark):
    """SUM(BIGINT) in DuckDB is HUGEINT → pandas float64; equal values,
    different hash. parity.py must fail it, as the driver would."""
    spec = QuerySpec(
        name="__test_uncast",
        builder=lambda s, d: load_table(s, d, "events")
        .groupBy("event_type")
        .agg(F.sum(F.lit(1)).alias("n"))
        .orderBy("event_type"),
        oracle="SELECT event_type, SUM(1) AS n FROM events "
        "GROUP BY event_type ORDER BY event_type",
    )
    status = _run(spec, spark)
    assert status.startswith("MISMATCH"), status
    assert "DTYPE" in status, status
    # and the cast form must pass
    fixed = QuerySpec(
        name="__test_cast",
        builder=spec.builder,
        oracle="SELECT event_type, CAST(SUM(1) AS BIGINT) AS n "
        "FROM events GROUP BY event_type ORDER BY event_type",
    )
    assert _run(fixed, spark) == "OK"


def test_arraytype_output_fails(spark):
    """ArrayType output crashes the driver's sort_values canonicalizer;
    parity.py must flag it instead of comparing happily."""
    spec = QuerySpec(
        name="__test_array",
        builder=lambda s, d: load_table(s, d, "events")
        .groupBy("event_type")
        .agg(F.collect_list(F.lit(1)).alias("xs"))
        .orderBy("event_type"),
        oracle="SELECT event_type, [1] AS xs FROM events "
        "GROUP BY event_type ORDER BY event_type",
    )
    status = _run(spec, spark)
    assert status.startswith("MISMATCH"), status
    assert "DRIVER-ERR" in status, status


def test_date_vs_datetime_is_not_a_failure(spark):
    """DateType (object datetime.date) vs DuckDB datetime64 midnight
    renders identically in the driver's string canon — the mimic must
    NOT flag it (driver-green queries like project_cast depend on it)."""
    spec = QuerySpec(
        name="__test_date",
        builder=lambda s, d: load_table(s, d, "events")
        .select(F.date_trunc("day", "ts").cast("date").alias("day"))
        .distinct()
        .orderBy("day"),
        oracle="SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day "
        "FROM events ORDER BY day",
    )
    assert _run(spec, spark) == "OK"


def test_negative_zero_slope_hash_matches(spark, tmp_path):
    """Regression for the sf0.1 IEEE −0.0 divergence: a tiny negative
    trend rounds to −0.0 in DuckDB's ROUND but +0.0 in Spark's — the
    oracle's `+ 0.0` canonicalization must keep the hash equal."""
    import datetime

    import duckdb

    from stockpulse_spark.plans import REGISTRY

    rows = [
        (1, datetime.datetime(2024, 1, d, 12), 1.0 - d * 1e-10, "click")
        for d in (1, 2, 3, 4)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double, event_type string"
    )
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    # sanity: the slope really is a rounded zero (the hazard case)
    sp = REGISTRY["theil_sen_trend"].builder(spark, str(tmp_path)).collect()
    assert sp[0]["ts_slope"] == 0.0
    status, *_ = compare(
        "theil_sen_trend", spark, con, str(tmp_path), verbose=False
    )
    assert status == "OK", status


def test_cli_accepts_both_jobs_forms():
    """`--jobs 8` (space form) must parse identically to `--jobs=8` —
    the old prefix-stripping parser silently dropped the space form and
    misread the '8' as sf_dir, sweeping a nonexistent directory."""
    import pytest

    from tools.parity import parse_args

    eq = parse_args(["--jobs=8", "/tmp/sf", "q1", "q2"])
    sp = parse_args(["--jobs", "8", "/tmp/sf", "q1", "q2"])
    assert eq.jobs == sp.jobs == 8
    assert eq.sf_dir == sp.sf_dir == "/tmp/sf"
    assert eq.names == sp.names == ["q1", "q2"]
    assert parse_args([]).jobs == 4
    # --reps repeats each compare; the default single rep is the plain sweep
    assert parse_args([]).reps == 1
    assert parse_args(["--reps", "5", "/tmp/sf", "q1"]).reps == 5
    # unknown flags must error, not be filtered
    with pytest.raises(SystemExit):
        parse_args(["--jbos=8"])

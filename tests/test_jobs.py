"""End-to-end job tests: REST payload → bronze/silver → analytics,
mirroring the reference's full pipeline on an F4-shaped fixture."""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from stockpulse_spark.jobs import analytics_job, ingest_job
from tests.conftest import executed_plan


def _payload(bars: dict[str, float]) -> str:
    series = {
        ts: {
            "1. open": f"{c - 0.5:.4f}",
            "2. high": f"{c + 1:.4f}",
            "3. low": f"{c - 1:.4f}",
            "4. close": f"{c:.4f}",
            "5. volume": "1000",
        }
        for ts, c in bars.items()
    }
    return json.dumps({"Time Series (5min)": series})


def test_ingest_to_analytics(spark, tmp_path):
    bars = {
        f"2024-01-0{d} 09:{m:02d}:00": 100.0 + d + m / 100
        for d in (2, 3)
        for m in range(30, 60, 5)
    }
    payloads = spark.createDataFrame(
        [("AAPL", _payload(bars)), ("MSFT", _payload({k: v + 50 for k, v in bars.items()}))],
        "symbol string, payload string",
    )
    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    messages = ingest_job(payloads, None, bronze, silver)

    msgs = [json.loads(r["value"]) for r in messages.collect()]
    assert len(msgs) == 2 * len(bars)
    assert {m["symbol"] for m in msgs} == {"AAPL", "MSFT"}
    assert all("moving_average" in m for m in msgs)

    silver_df = spark.read.parquet(silver)
    assert silver_df.count() == 2 * len(bars)
    assert {"date", "time", "moving_average", "cumulative_average"} <= set(
        silver_df.columns
    )

    panel = analytics_job(spark, silver, symbol="AAPL", days=30)
    rows = panel.orderBy("timestamp").collect()
    assert len(rows) == len(bars)
    assert all(r["symbol"] == "AAPL" for r in rows)
    # ma5 of the first row is its own close (min_periods=1)
    assert rows[0]["sma5"] == pytest.approx(rows[0]["close"])
    # vwap stays within [min, max] close
    closes = [r["close"] for r in rows]
    assert min(closes) <= rows[-1]["vwap"] <= max(closes)


def test_ingest_gate_skips_stale(spark, tmp_path):
    bars = {"2024-01-02 09:30:00": 100.0, "2024-01-02 09:35:00": 101.0}
    payloads = spark.createDataFrame(
        [("AAPL", _payload(bars))], "symbol string, payload string"
    )
    last_seen = spark.createDataFrame(
        [("AAPL", "2024-01-02 09:30:00")], "symbol string, max_ts string"
    ).withColumn("max_ts", F.to_timestamp("max_ts"))
    out = ingest_job(
        payloads, last_seen, str(tmp_path / "b"), str(tmp_path / "s"),
        retention_days=100000,
    )
    msgs = [json.loads(r["value"]) for r in out.collect()]
    assert len(msgs) == 1 and msgs[0]["timestamp"] == "2024-01-02 09:35:00"


def test_ingest_two_cycles_computes_once(spark, tmp_path):
    """A fetch, then an overlapping sweep gated on the bronze path the
    job appends to: each output carries exactly the new bars, and the
    returned messages read the materialized frame, not the parse."""
    t0 = datetime.now(timezone.utc).replace(tzinfo=None, microsecond=0) - timedelta(days=2)
    stamps = [(t0 + timedelta(minutes=5 * i)).strftime("%Y-%m-%d %H:%M:%S") for i in range(8)]
    old, new = stamps[:6], stamps[6:]
    symbols = ("AAPL", "MSFT")
    bronze, silver = str(tmp_path / "bronze"), str(tmp_path / "silver")

    def fetch(ts: list[str]):
        return spark.createDataFrame(
            [(s, _payload({t: 100.0 + i for i, t in enumerate(ts)})) for s in symbols],
            "symbol string, payload string",
        )

    def keys(df) -> list[tuple[str, str]]:
        return sorted(
            (r[0], r[1]) for r in df.select(
                "symbol", F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss")
            ).collect()
        )

    ingest_job(fetch(old), None, bronze, silver).collect()
    before = {p: keys(spark.read.parquet(p)) for p in (bronze, silver)}
    last_seen = (
        spark.read.parquet(bronze).groupBy("symbol").agg(F.max("timestamp").alias("max_ts"))
    )
    out = ingest_job(fetch(old[2:] + new), last_seen, bronze, silver)

    expected = sorted((s, t) for s in symbols for t in new)
    msgs = [json.loads(r["value"]) for r in out.collect()]
    assert sorted((m["symbol"], m["timestamp"]) for m in msgs) == expected
    for p in (bronze, silver):
        assert keys(spark.read.parquet(p)) == sorted(before[p] + expected)
    plan = executed_plan(spark, out)
    assert "from_json" not in plan and "Generate" not in plan

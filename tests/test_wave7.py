"""Planted-data semantic tests for the inference / feature-
engineering / composition wave."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq

from stockpulse_spark.plans import REGISTRY
from tests.conftest import query_rows


def _write_events(path, rows):
    """rows: (ts, user_id, event_type, value)."""
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows]),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "props": pa.array(['{"k": 1}'] * len(rows)),
        }
    )
    pq.write_table(tbl, str(path / "events.parquet"))


def test_loo_encoding_excludes_own_row(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    # one group, values 10, 20, 30: LOO of row i = mean of the others
    rows = [
        (t0 + dt.timedelta(minutes=i), 1, "view", v)
        for i, v in enumerate([10.0, 20.0, 30.0])
    ]
    _write_events(tmp_path, rows)
    out = sorted(
        query_rows(spark, "loo_target_encoding", str(tmp_path)),
        key=lambda r: r["event_id"],
    )
    assert [r["loo_enc"] for r in out] == [25.0, 20.0, 15.0]


def test_woe_separating_feature(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # 20 low-value views, 20 high-value purchases: the top bins must
    # carry positive WOE, the bottom bins negative
    for i in range(20):
        rows.append((t0 + dt.timedelta(minutes=i), 1, "view", 1.0 + i * 0.01))
    for i in range(20):
        rows.append(
            (t0 + dt.timedelta(minutes=40 + i), 2, "purchase", 100.0 + i)
        )
    _write_events(tmp_path, rows)
    out = sorted(query_rows(spark, "woe_binning", str(tmp_path)), key=lambda r: r["bin"])
    assert len(out) == 10
    assert all(r["n"] == 4 for r in out)  # equal-count deciles
    assert all(r["woe"] is None or r["woe"] < 0 for r in out[:5])
    assert all(r["woe"] is None or r["woe"] > 0 for r in out[5:])


def test_psi_zero_when_halves_identical(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    vals = [float(v) for v in range(1, 41)]
    for i, v in enumerate(vals):  # first half
        rows.append((t0 + dt.timedelta(minutes=i), 1, "view", v))
    for i, v in enumerate(vals):  # second half: identical distribution
        rows.append((t0 + dt.timedelta(minutes=100 + i), 1, "view", v))
    _write_events(tmp_path, rows)
    out = query_rows(spark, "psi_value_drift", str(tmp_path))
    assert len(out) == 1
    assert out[0]["psi"] == 0.0


def test_psi_detects_planted_shift(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(40):  # reference: values ~ 1..40
        rows.append((t0 + dt.timedelta(minutes=i), 1, "view", float(i + 1)))
    for i in range(40):  # current: shifted up 10x
        rows.append(
            (t0 + dt.timedelta(minutes=100 + i), 1, "view", float((i + 1) * 10))
        )
    _write_events(tmp_path, rows)
    out = query_rows(spark, "psi_value_drift", str(tmp_path))
    assert out[0]["psi"] > 0.2  # the standard retrain alarm fires


def test_nb_classifier_disjoint_vocab_is_perfect(spark, tmp_path):
    docs = []
    for i in range(10):
        docs.append((i, "alpha beta gamma delta", "en", "s0", 20))
    for i in range(10):
        docs.append((10 + i, "uno dos tres cuatro", "es", "s1", 18))
    tbl = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs]),
            "lang": pa.array([d[2] for d in docs]),
            "source": pa.array([d[3] for d in docs]),
            "n_chars": pa.array([d[4] for d in docs], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = query_rows(spark, "nb_lang_classifier", str(tmp_path))
    m = {(r["true_lang"], r["pred_lang"]): r["n_docs"] for r in out}
    assert m == {("en", "en"): 10, ("es", "es"): 10}


def test_user_feature_matrix_known_values(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (t0, 1, "view", 10.0),
        (t0 + dt.timedelta(hours=1), 1, "purchase", 20.0),
        (t0 + dt.timedelta(days=2), 1, "view", 30.0),
        (t0 + dt.timedelta(days=2, hours=5), 2, "view", 5.0),
    ]
    _write_events(tmp_path, rows)
    out = {r["user_id"]: r for r in query_rows(spark, "user_feature_matrix", str(tmp_path))}
    u1 = out[1]
    assert u1["n_events"] == 3
    assert u1["n_active_days"] == 2
    assert u1["n_types"] == 2
    assert u1["total_value"] == 60.0
    assert abs(u1["purchase_rate"] - 1 / 3) < 1e-6
    assert u1["tenure_days"] == 2
    # horizon is user 2's event, 5h after user 1's last
    assert u1["recency_hours"] == 5
    assert out[2]["n_events"] == 1


def test_bootstrap_ci_brackets_mean(spark):
    for r in query_rows(spark, "poisson_bootstrap_ci"):
        assert r["boot_se"] > 0
        assert r["ci_lo"] <= r["mean_value"] <= r["ci_hi"]
        # CI width should be a few SEs, not degenerate or huge
        assert (r["ci_hi"] - r["ci_lo"]) < 10 * r["boot_se"]


def test_seasonal_anomaly_flags_planted_spike(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for day in range(10):
        for hr in (3, 12):
            base = 100.0 if hr == 12 else 5.0
            rows.append(
                (
                    t0 + dt.timedelta(days=day, hours=hr),
                    1,
                    "view",
                    base + 0.1 * day,
                )
            )
    # a 3am event with a PEAK-HOURS value: globally unremarkable,
    # seasonally absurd
    rows.append((t0 + dt.timedelta(days=10, hours=3), 1, "view", 100.0))
    _write_events(tmp_path, rows)
    out = {
        (r["event_type"], r["hr"]): r
        for r in query_rows(spark, "seasonal_anomaly_rates", str(tmp_path))
    }
    assert out[("view", 3)]["n_anomalies"] == 1
    assert out[("view", 12)]["n_anomalies"] == 0


def test_isotonic_pools_planted_v_shape(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1, 12)
    # 10, 30, 20: PAVA must pool the violating (30, 20) into 25, 25
    vals = [10.0, 30.0, 20.0]
    _write_events(
        tmp_path,
        [
            (t0 + dt.timedelta(days=i), 1, "view", v)
            for i, v in enumerate(vals)
        ],
    )
    out = sorted(
        query_rows(spark, "isotonic_trend", str(tmp_path)), key=lambda r: r["d"]
    )
    assert [r["iso_fit"] for r in out] == [10.0, 25.0, 25.0]


def test_isotonic_monotone_and_mean_preserving(spark):
    rows = query_rows(spark, "isotonic_trend")
    assert rows
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r["d"])
        fits = [r["iso_fit"] for r in rs]
        assert fits == sorted(fits), uid  # monotone non-decreasing
        # PAVA preserves the total (block means are block averages)
        assert abs(sum(fits) - sum(r["close"] for r in rs)) < 1e-3, uid


def test_isotonic_identity_on_monotone_series(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1, 12)
    vals = [1.0, 2.0, 5.0, 5.0, 9.0]
    _write_events(
        tmp_path,
        [
            (t0 + dt.timedelta(days=i), 2, "view", v)
            for i, v in enumerate(vals)
        ],
    )
    out = sorted(
        query_rows(spark, "isotonic_trend", str(tmp_path)), key=lambda r: r["d"]
    )
    assert [r["iso_fit"] for r in out] == vals


def _burst_series(tmp_path, counts):
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for h, k in enumerate(counts):
        for j in range(k):
            rows.append(
                (t0 + dt.timedelta(hours=h, minutes=j), 1, "view", 1.0)
            )
    _write_events(tmp_path, rows)


def test_viterbi_labels_sustained_burst_exactly(spark, tmp_path):
    # 20 quiet hours (k=2), 10 burst hours (k=12), 20 quiet hours:
    # per-hour evidence ~4.3 nats for the burst state vs a 1-nat
    # switch cost -> the decoded burst must be exactly hours 20..29
    counts = [2] * 20 + [12] * 10 + [2] * 20
    _burst_series(tmp_path, counts)
    out = sorted(
        query_rows(spark, "burst_detection_viterbi", str(tmp_path)),
        key=lambda r: r["hr"],
    )
    assert len(out) == 50
    states = [r["burst_state"] for r in out]
    assert states == [0] * 20 + [1] * 10 + [0] * 20
    assert out[0]["base_rate"] == 4.0


def test_viterbi_suppresses_single_mild_spike(spark, tmp_path):
    # one k=5 hour in a k=2 sea: ~1.4 nats of evidence cannot pay the
    # 2-nat round trip, so the label must NOT flicker
    counts = [2] * 25 + [5] + [2] * 24
    _burst_series(tmp_path, counts)
    out = query_rows(spark, "burst_detection_viterbi", str(tmp_path))
    assert all(r["burst_state"] == 0 for r in out)


def test_ewma_volatility_survives_zero_close(spark, tmp_path):
    """Regression for the sf0.1 DIVIDE_BY_ZERO: a bar closing at
    exactly 0 must break that return (and the one into it) rather
    than the job, and every other return must still be produced."""
    import datetime

    from stockpulse_spark.plans import REGISTRY

    rows = [
        (1, datetime.datetime(2024, 1, 1, h), float(v), "click")
        for h, v in [(0, 10.0), (1, 0.0), (2, 12.0), (3, 13.0), (4, 14.0)]
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double, event_type string"
    )
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = (
        REGISTRY["ewma_volatility"]
        .builder(spark, str(tmp_path))
        .collect()
    )
    # returns exist only across strictly positive consecutive closes:
    # 12->13 and 13->14 (10->0 and 0->12 are both dropped)
    assert len(out) == 2, out
    assert all(r["ewma_vol"] is not None for r in out)

"""Semantic invariants for the round-4 third wave (state-space,
robust stats, survival, bitmap, graph) — planted-data checks that pin
each operator's definition to what it claims to compute, beyond the
hash-parity gate (which both engines could pass with an agreed-upon
wrong definition)."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import query_rows


def _write_events(path, rows):
    """rows: list of (ts, user_id, value). Fills the rest of the
    events schema with deterministic stand-ins."""
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array(["view"] * len(rows)),
            "value": pa.array([r[2] for r in rows], pa.float64()),
            "props": pa.array(['{"k": 1}'] * len(rows)),
        }
    )
    pq.write_table(tbl, str(path / "events.parquet"))


def _write_lineitem(path, order_parts):
    """order_parts: dict orderkey -> list of partkeys."""
    ok, pk = [], []
    for o, parts in order_parts.items():
        for p in parts:
            ok.append(o)
            pk.append(p)
    tbl = pa.table(
        {
            "l_orderkey": pa.array(ok, pa.int64()),
            "l_partkey": pa.array(pk, pa.int64()),
        }
    )
    pq.write_table(tbl, str(path / "lineitem.parquet"))


# --------------------------------------------------------------------------
# changepoint: recovers a planted level shift exactly


def test_changepoint_finds_planted_shift(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(40):
        level = 10.0 if i < 24 else 30.0
        rows.append((t0 + dt.timedelta(hours=i), 1, level))
    _write_events(tmp_path, rows)
    out = query_rows(spark, "changepoint_binseg", str(tmp_path))
    assert len(out) == 1
    r = out[0]
    assert r["n_obs"] == 40
    # the optimal single split is exactly at the boundary (left
    # segment = rows 1..24), and splitting there removes ALL variance
    assert r["split_t"] == 24
    assert r["sse_after"] == 0.0
    assert r["sse_before"] > 0
    assert r["sse_reduction"] == r["sse_before"]


def test_changepoint_flat_series_reduction_zero(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    _write_events(
        tmp_path, [(t0 + dt.timedelta(hours=i), 7, 5.0) for i in range(10)]
    )
    out = query_rows(spark, "changepoint_binseg", str(tmp_path))
    assert len(out) == 1
    assert out[0]["sse_before"] == 0.0
    assert out[0]["sse_reduction"] == 0.0


# --------------------------------------------------------------------------
# Theil-Sen: immune to a planted outlier that would wreck OLS


def test_theil_sen_ignores_outlier(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1, 12)
    rows = []
    for day in range(11):
        y = 2.0 * day + 1.0
        if day == 5:
            y = 1000.0  # gross spike
        rows.append((t0 + dt.timedelta(days=day), 3, y))
    _write_events(tmp_path, rows)
    out = query_rows(spark, "theil_sen_trend", str(tmp_path))
    assert len(out) == 1
    r = out[0]
    assert r["n_days"] == 11
    assert r["n_pairs"] == 55
    # 10 of 11 points sit exactly on y = 2x + 1; the pair majority
    # keeps the median slope at 2 despite the 1000.0 spike
    assert abs(r["ts_slope"] - 2.0) < 1e-9
    # intercept is at epoch day 0 (t = days since 1970-01-01):
    # residual y - 2t = 1 - 2*epoch(2024-01-01) for the ten clean
    # points; the spike's lone residual can't move the median
    epoch0 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days
    assert abs(r["ts_intercept"] - (1.0 - 2.0 * epoch0)) < 1e-9


# --------------------------------------------------------------------------
# bitmap rollup: known mask, popcount, streak


def test_activity_bitmap_planted_days(spark, tmp_path):
    active_days = [1, 2, 3, 7, 8, 20]
    rows = [
        (dt.datetime(2024, 3, d, 9, 30), 5, 1.0) for d in active_days
    ]
    # two events on one day must not double-set the bit
    rows.append((dt.datetime(2024, 3, 2, 18, 0), 5, 2.0))
    _write_events(tmp_path, rows)
    out = query_rows(spark, "activity_bitmap_rollup", str(tmp_path))
    assert len(out) == 1
    r = out[0]
    expect_mask = sum(1 << (d - 1) for d in active_days)
    assert r["mask"] == expect_mask
    assert r["active_days"] == 6
    assert r["longest_streak"] == 3


# --------------------------------------------------------------------------
# triangles: exact counts on a planted 2-triangle graph


def test_triangles_planted_graph(spark, tmp_path):
    # orders: {A,B,C} and {B,C,D} -> edges AB AC BC BD CD
    # triangles: ABC and BCD; B and C are in both
    _write_lineitem(tmp_path, {1: [10, 20, 30], 2: [20, 30, 40]})
    out = {r["node"]: r for r in query_rows(spark, "copurchase_triangles", str(tmp_path))}
    assert {n: out[n]["triangles"] for n in sorted(out)} == {
        10: 1,
        20: 2,
        30: 2,
        40: 1,
    }
    assert out[10]["degree"] == 2 and out[20]["degree"] == 3
    # clustering: deg-2 nodes are fully closed (1.0); B/C have
    # 2 triangles over C(3,2)=3 possible -> 2/3
    assert abs(out[10]["clustering_coef"] - 1.0) < 1e-9
    assert abs(out[20]["clustering_coef"] - 2.0 / 3.0) < 1e-6


# --------------------------------------------------------------------------
# Kalman: gain/variance converge to the steady state of the ratio Q/R


def test_kalman_gain_converges(spark):
    rows = [r for r in query_rows(spark, "kalman_local_level") if r["user_id"] == 0]
    rows.sort(key=lambda r: r["bucket_start"])
    gains = [r["gain"] for r in rows if r["gain"] is not None]
    assert len(gains) > 20
    assert all(0.0 < g < 1.0 for g in gains)
    # Riccati recursion for constant Q,R converges monotonically;
    # steady-state gain for Q=0.1, R=1 is ~0.27
    assert abs(gains[-1] - gains[-2]) < 1e-9
    assert 0.2 < gains[-1] < 0.35
    # filtered level always lies between previous level and the obs
    for prev, cur in zip(rows, rows[1:]):
        lo, hi = sorted((prev["level"], cur["close"]))
        assert lo - 1e-6 <= cur["level"] <= hi + 1e-6


# --------------------------------------------------------------------------
# ACF: lag-1 of the profile must equal the standalone lag-1 query


def test_acf_lag1_matches_single_lag_query(spark):
    multi = {
        r["event_type"]: r["acf"]
        for r in query_rows(spark, "acf_multilag")
        if r["lag"] == 1
    }
    single = {
        r["event_type"]: r["autocorr_lag1"]
        for r in query_rows(spark, "hourly_count_autocorr")
    }
    assert multi.keys() == single.keys()
    for k in multi:
        assert abs(multi[k] - single[k]) < 1e-9, k


# --------------------------------------------------------------------------
# Kaplan-Meier: survival is a proper, censoring-aware step function


def test_km_curve_invariants(spark):
    rows = query_rows(spark, "kaplan_meier_churn")
    assert rows
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort"], []).append(r)
    for cohort, rs in by_cohort.items():
        rs.sort(key=lambda r: r["month"])
        surv = [r["survival"] for r in rs]
        assert all(0.0 < s <= 1.0 for s in surv)
        assert surv == sorted(surv, reverse=True), cohort
        risks = [r["n_risk"] for r in rs]
        assert risks == sorted(risks, reverse=True), cohort
        assert all(r["churned"] >= 1 for r in rs)
        # first step: S = 1 - d/n exactly
        assert abs(surv[0] - (1 - rs[0]["churned"] / rs[0]["n_risk"])) < 1e-6


# --------------------------------------------------------------------------
# AUC: perfectly separating score gives exactly 1.0 / 0.0


def test_auc_perfect_separation(spark, tmp_path):
    vecs = [
        (0, [0.9, 0.0], 1),
        (1, [0.8, 0.0], 1),
        (2, [0.2, 0.0], 0),
        (3, [0.1, 0.0], 0),
    ]
    tbl = pa.table(
        {
            "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
            "embedding": pa.array(
                [v[1] for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([v[2] for v in vecs], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    out = {r["label"]: r for r in query_rows(spark, "score_auc_rank", str(tmp_path))}
    assert out[1]["auc"] == 1.0
    assert out[0]["auc"] == 0.0
    assert out[1]["n_pos"] == 2 and out[1]["n_neg"] == 2


# --------------------------------------------------------------------------
# Gini: planted perfect equality -> 0, one-customer-takes-all -> high


def test_gini_bounds_and_equality(spark, tmp_path):
    ok, ck, price, date_ = [], [], [], []
    # year 1995: 4 customers with equal revenue -> Gini 0
    for i in range(4):
        ok.append(i)
        ck.append(100 + i)
        price.append(50.0)
        date_.append(dt.date(1995, 3, 1))
    # year 1996: one whale among 4 -> strongly unequal
    for i in range(4):
        ok.append(10 + i)
        ck.append(200 + i)
        price.append(1000.0 if i == 0 else 1.0)
        date_.append(dt.date(1996, 3, 1))
    tbl = pa.table(
        {
            "o_orderkey": pa.array(ok, pa.int64()),
            "o_custkey": pa.array(ck, pa.int64()),
            "o_totalprice": pa.array(price, pa.float64()),
            "o_orderdate": pa.array(date_, pa.date32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "orders.parquet"))
    out = {r["o_year"]: r for r in query_rows(spark, "gini_revenue_yearly", str(tmp_path))}
    assert out[1995]["gini"] == 0.0
    assert out[1996]["gini"] > 0.7
    assert out[1995]["total_revenue"] == 200.0


# --------------------------------------------------------------------------
# DTW: zero self-distance, exact constant-offset distance


def test_dtw_planted_offset(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1, 12)
    rows = []
    n_days = 8
    for day in range(n_days):
        base = 10.0 + 3.0 * ((day * 7) % 5)  # wiggly but shared shape
        for u in (1, 2, 3):       # three identical users -> median = series
            rows.append((t0 + dt.timedelta(days=day), u, base))
        rows.append((t0 + dt.timedelta(days=day), 4, base + 1.0))
    _write_events(tmp_path, rows)
    out = {r["user_id"]: r for r in query_rows(spark, "dtw_to_reference", str(tmp_path))}
    # the median reference equals users 1-3's series exactly
    for u in (1, 2, 3):
        assert out[u]["dtw_distance"] == 0.0
    # constant +1.0 offset: every cell costs 1.0, the optimal path is
    # the diagonal -> distance = n_days * 1.0
    assert out[4]["dtw_distance"] == float(n_days)
    assert out[4]["n_user"] == n_days and out[4]["n_ref"] == n_days

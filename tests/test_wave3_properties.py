"""Semantic invariants for the third round-2 wave — properties the
DuckDB hash-parity gate can't express (both engines could agree on a
wrong definition; these pin the definitions to what the operators
CLAIM to compute)."""

from __future__ import annotations

from tests.conftest import SF_DIR, query_rows


def test_growth_accounting_reconciles_wau(spark):
    """WAU(w) = new + retained + resurrected, and retained(w) =
    WAU(w-1) - churned(w): the four flows must reconcile the weekly
    active counts exactly."""
    rows = sorted(query_rows(spark, "growth_accounting_weekly"), key=lambda r: r["wk"])
    wau = {
        r["wk"]: r["n_new"] + r["n_retained"] + r["n_resurrected"]
        for r in rows
    }
    assert all(v > 0 for v in wau.values())
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_retained"] == wau[prev["wk"]] - cur["n_churned"], (
            f"week {cur['wk']}: retained {cur['n_retained']} != "
            f"prev WAU {wau[prev['wk']]} - churned {cur['n_churned']}"
        )


def test_sliding_wau_bounds_dau(spark):
    """WAU >= same-day DAU everywhere, and stickiness in (0, 1]."""
    rows = query_rows(spark, "sliding_7d_active_users")
    assert rows
    for r in rows:
        assert r["active_7d"] >= r["active_1d"] > 0
        assert 0 < r["stickiness"] <= 1


def test_weighted_median_is_bounded_order_statistic(spark):
    """The weighted median must lie within the group's price range
    and the half-weight crossing must actually hold."""
    import duckdb

    rows = query_rows(spark, "weighted_median_price")
    con = duckdb.connect()
    for r in rows:
        lo, hi = con.execute(
            f"SELECT MIN(l_extendedprice), MAX(l_extendedprice) "
            f"FROM '{SF_DIR}/lineitem.parquet' "
            f"WHERE l_returnflag = '{r['l_returnflag']}'"
        ).fetchone()
        assert lo <= r["weighted_median"] <= hi
        below = con.execute(
            f"SELECT COALESCE(SUM(CAST(l_quantity AS BIGINT)), 0) "
            f"FROM '{SF_DIR}/lineitem.parquet' "
            f"WHERE l_returnflag = '{r['l_returnflag']}' "
            f"AND l_extendedprice <= {r['weighted_median']!r}"
        ).fetchone()[0]
        assert 2 * below >= r["total_weight"]


def test_zorder_tightens_secondary_dimension(spark):
    """The point of Z-ordering: versus user-only bucketing, the
    interleaved layout must hold a (much) tighter hour span per
    bucket while staying reasonable on users."""
    rows = {r["layout"]: r for r in query_rows(spark, "zorder_clustering_stats")}
    z, lin = rows["zorder"], rows["linear"]
    # linear (user-only) buckets see ~the full hour range; zorder
    # buckets must prune the time dimension too
    assert z["avg_hour_span"] < lin["avg_hour_span"] * 0.5


def test_mmr_picks_are_distinct_and_lead_with_relevance(spark):
    rows = sorted(query_rows(spark, "mmr_diversified_topk"), key=lambda r: r["pick_order"])
    assert len(rows) == 3
    assert len({r["vec_id"] for r in rows}) == 3
    # first pick is pure-relevance argmax: no penalty applied
    assert rows[0]["max_sim_prev"] == 0.0
    assert rows[0]["mmr_score"] == rows[0]["relevance"]
    # later picks pay a positive redundancy penalty
    for r in rows[1:]:
        assert r["mmr_score"] <= r["relevance"]


def test_token_budget_sample_respects_quota(spark):
    rows = query_rows(spark, "doc_token_budget_sample")
    assert rows
    for r in rows:
        assert r["tokens_sampled"] <= r["quota"]
        assert 0 <= r["utilization"] <= 1


def test_transition_matrix_rows_sum_to_one(spark):
    from collections import defaultdict

    rows = query_rows(spark, "event_transition_matrix")
    by_cur = defaultdict(float)
    for r in rows:
        assert 0 < r["p"] <= 1
        by_cur[r["cur"]] += r["p"]
    for cur, total in by_cur.items():
        assert abs(total - 1.0) < 1e-4, (cur, total)


def test_peak_concurrency_bounded_by_session_count(spark):
    """Peak concurrent sessions on a day can't exceed that day's
    total session-interval count (and must be positive)."""
    peaks = query_rows(spark, "peak_concurrent_sessions_daily")
    assert peaks
    assert all(r["peak_concurrent"] > 0 for r in peaks)


def test_decontamination_counts_are_consistent(spark):
    rows = query_rows(spark, "decontamination_overlap")
    assert rows
    for r in rows:
        assert 0 <= r["n_contaminated"] <= r["n_train_docs"]
        if r["n_contaminated"] == 0:
            assert r["total_gram_hits"] == 0
        else:
            assert r["total_gram_hits"] >= r["n_contaminated"]


def test_scd2_pit_join_is_lossless(spark):
    """Every event must land in exactly one SCD2 interval: the PIT
    join's total event count equals the raw event count."""
    import duckdb

    rows = query_rows(spark, "scd2_point_in_time_join")
    total = sum(r["n_events"] for r in rows)
    raw = duckdb.connect().execute(
        f"SELECT COUNT(*) FROM '{SF_DIR}/events.parquet'"
    ).fetchone()[0]
    assert total == raw

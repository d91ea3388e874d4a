"""Planted-data semantic tests for the recommender wave (user-user
CF neighbors, popularity hit-rate) and the hash-partition skew
report — closed-form answers on planted tables, so a parity-green-
but-wrong formula still fails."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import query_rows


def _write_market(path, orders, lineitem) -> None:
    """orders: (okey, custkey, orderdate) ; lineitem: (okey, partkey)."""
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([o[0] for o in orders], pa.int64()),
                "o_custkey": pa.array([o[1] for o in orders], pa.int64()),
                "o_orderdate": pa.array(
                    [o[2] for o in orders], pa.timestamp("us")
                ),
            }
        ),
        str(path / "orders.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in lineitem], pa.int64()),
                "l_partkey": pa.array([r[1] for r in lineitem], pa.int64()),
            }
        ),
        str(path / "lineitem.parquet"),
    )


_D = dt.datetime(2024, 1, 1)


# ------------------------------------------------------------------ #
# customer CF neighbors
# ------------------------------------------------------------------ #


def test_cf_neighbors_closed_form(spark, tmp_path):
    """A={1,2,3,4}, B={1,2,3}, C={4}: only (A,B) clears min-support 2;
    jaccard = 3 / (4 + 3 - 3) = 0.75, symmetric, rank 1 both ways."""
    orders = [(1, 100, _D), (2, 200, _D), (3, 300, _D)]
    lineitem = [(1, p) for p in (1, 2, 3, 4)]
    lineitem += [(2, p) for p in (1, 2, 3)]
    lineitem += [(3, 4)]
    _write_market(tmp_path, orders, lineitem)
    out = query_rows(spark, "customer_cf_neighbors", str(tmp_path))
    got = {(r["customer"], r["neighbor"]): r for r in out}
    assert set(got) == {(100, 200), (200, 100)}
    for r in got.values():
        assert r["rank"] == 1
        assert r["n_common"] == 3
        assert r["jaccard"] == 0.75


def test_cf_hot_part_is_df_capped(spark, tmp_path):
    """A part bought by more customers than the df cap (64) carries
    no signal and is dropped: 70 single-part customers sharing one
    bestseller produce ZERO neighbor pairs (the join never expands
    the hot key)."""
    orders = [(i, 1000 + i, _D) for i in range(70)]
    lineitem = [(i, 99) for i in range(70)]
    _write_market(tmp_path, orders, lineitem)
    assert query_rows(spark, "customer_cf_neighbors", str(tmp_path)) == []


def test_cf_rank_orders_by_jaccard_then_neighbor(spark, tmp_path):
    """A shares 3-of-3 with B (j=1.0) and 2-of-4 with C (j=0.4):
    B ranks first for A."""
    orders = [(1, 100, _D), (2, 200, _D), (3, 300, _D)]
    lineitem = [(1, p) for p in (1, 2, 3)]
    lineitem += [(2, p) for p in (1, 2, 3)]
    lineitem += [(3, p) for p in (1, 2, 8, 9)]
    _write_market(tmp_path, orders, lineitem)
    mine = [r for r in query_rows(spark, "customer_cf_neighbors", str(tmp_path)) if r["customer"] == 100]
    assert [r["neighbor"] for r in mine] == [200, 300]
    assert mine[0]["jaccard"] == 1.0
    assert mine[1]["jaccard"] == 0.4


# ------------------------------------------------------------------ #
# popularity recommender hit-rate
# ------------------------------------------------------------------ #


def test_popularity_hitrate_closed_form(spark, tmp_path):
    """Train: part 1 is the bestseller.  Test window (last 90 days):
    one customer re-buys part 1 (hit), one buys a never-seen part 50
    (miss) → hitrate 0.5, avg_hits 0.5."""
    train_day = dt.datetime(2024, 1, 1)
    test_day = dt.datetime(2024, 12, 1)
    max_day = dt.datetime(2024, 12, 31)
    orders = [
        (1, 100, train_day),
        (2, 200, train_day),
        (3, 300, train_day),
        # test window (cutoff = 2024-10-02)
        (4, 400, test_day),
        (5, 500, test_day),
        (6, 600, max_day),  # pins max(o_orderdate)
    ]
    lineitem = [(1, 1), (2, 1), (3, 1), (4, 1), (5, 50), (6, 1)]
    _write_market(tmp_path, orders, lineitem)
    (r,) = query_rows(spark, "popularity_rec_hitrate", str(tmp_path))
    assert r["n_test_customers"] == 3  # 400, 500, 600
    assert r["n_hit_customers"] == 2  # 400 and 600 bought part 1
    assert abs(r["hitrate_at_20"] - 2.0 / 3.0) < 1e-6
    assert abs(r["avg_hits"] - 2.0 / 3.0) < 1e-6


def test_popularity_model_sees_only_train_rows(spark, tmp_path):
    """A part bought ONLY in the test window is never recommended —
    point-in-time discipline: everyone buying it still scores zero
    hits."""
    train_day = dt.datetime(2024, 1, 1)
    test_day = dt.datetime(2024, 12, 1)
    orders = [(1, 100, train_day)] + [
        (10 + i, 1000 + i, test_day) for i in range(5)
    ]
    lineitem = [(1, 1)] + [(10 + i, 777) for i in range(5)]
    _write_market(tmp_path, orders, lineitem)
    (r,) = query_rows(spark, "popularity_rec_hitrate", str(tmp_path))
    assert r["n_test_customers"] == 5
    assert r["n_hit_customers"] == 0
    assert r["hitrate_at_20"] == 0.0


# ------------------------------------------------------------------ #
# hash-partition skew report
# ------------------------------------------------------------------ #


def test_skew_report_flags_low_cardinality_key(spark, tmp_path):
    """documents with ONE source: every row hashes to one bucket →
    skew ratio exactly 32, hot share 1.0, unbalanced.  events with
    10k distinct users spread flat → balanced."""
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(100), pa.int64()),
                "text": pa.array(["w"] * 100),
                "lang": pa.array(["en"] * 100),
                "source": pa.array(["only"] * 100),
                "n_chars": pa.array([1] * 100, pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(10000), pa.int64()),
                "ts": pa.array([_D] * 10000, pa.timestamp("us")),
                "user_id": pa.array(range(10000), pa.int64()),
                "event_type": pa.array(["view"] * 10000),
                "value": pa.array([1.0] * 10000, pa.float64()),
                "props": pa.array(["{}"] * 10000),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(range(5000), pa.int64()),
                "l_partkey": pa.array([1] * 5000, pa.int64()),
            }
        ),
        str(tmp_path / "lineitem.parquet"),
    )
    out = {r["partition_key"]: r for r in query_rows(spark, "hash_partition_skew_report", str(tmp_path))}
    src = out["documents.source"]
    assert src["n_buckets_used"] == 1
    assert src["skew_ratio"] == 32.0
    assert src["hot_bucket_share"] == 1.0
    assert not src["balanced"]
    ev = out["events.user_id"]
    assert ev["n_buckets_used"] == 32
    assert ev["balanced"], ev
    lo = out["lineitem.l_orderkey"]
    assert lo["balanced"], lo


def test_skew_report_on_testdata_orderkey_flat_source_skewed(spark):
    out = {r["partition_key"]: r for r in query_rows(spark, "hash_partition_skew_report")}
    assert out["lineitem.l_orderkey"]["balanced"]
    assert not out["documents.source"]["balanced"]

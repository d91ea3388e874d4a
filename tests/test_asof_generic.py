"""Differential tests: the generalized as-of join (direction /
tolerance / allow_exact_matches) must match pandas.merge_asof —
the de-facto semantics reference — cell-for-cell, including the
equal-timestamp tie rules and tolerance cutoffs."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stockpulse_spark.operators.asof import asof_join
from tests.conftest import executed_plan


@pytest.fixture(scope="module")
def asof_frames(spark):
    rng = np.random.default_rng(7)
    lt = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 60),
            "lts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 86400 * 3, 60), unit="s"),
            "lx": np.arange(60),
        }
    )
    rt = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 25),
            "rts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 86400 * 3, 25), unit="s"),
            "v": rng.normal(size=25).round(3),
        }
    ).drop_duplicates(["k", "rts"]).reset_index(drop=True)
    # plant an exact left-ts == right-ts tie so the side-order rules
    # (inclusive vs strict, nearest's backward-wins) are exercised
    rt.loc[0, "rts"] = lt.loc[0, "lts"]
    rt.loc[0, "k"] = lt.loc[0, "k"]
    ldf = spark.createDataFrame(lt.rename(columns={"lts": "ts"}))
    rdf = spark.createDataFrame(rt.rename(columns={"rts": "ts2"}))
    return lt, rt, ldf, rdf


CASES = [
    (d, tol, exact)
    for d in ("backward", "forward", "nearest")
    for tol in (None, 3600.0)
    for exact in ((True, False) if d != "nearest" else (True,))
]


@pytest.mark.parametrize("direction,tol,exact", CASES)
def test_matches_pandas_merge_asof(asof_frames, direction, tol, exact):
    lt, rt, ldf, rdf = asof_frames
    got = (
        asof_join(
            ldf, rdf, on=["k"], left_ts="ts", right_ts="ts2",
            payload_cols=["v"], direction=direction,
            tolerance=tol, allow_exact_matches=exact,
        )
        .toPandas()
        .sort_values("lx")
        .reset_index(drop=True)["v"]
    )
    exp = pd.merge_asof(
        lt.sort_values("lts"),
        rt.sort_values("rts").rename(columns={"rts": "rts_"}),
        left_on="lts", right_on="rts_", by="k", direction=direction,
        tolerance=pd.Timedelta(seconds=tol) if tol else None,
        allow_exact_matches=exact,
    ).sort_values("lx").reset_index(drop=True)["v"]
    assert (got.isna() == exp.isna()).all()
    assert np.allclose(got.dropna(), exp.dropna())


def test_degenerate_rows_match_nothing(spark):
    """NULL left ts matches nothing; NULL-key/NULL-ts right rows are
    dropped (never fill), in every direction."""
    lt = pd.DataFrame(
        {"k": [1, 1], "ts": [pd.Timestamp("2024-01-02"), pd.NaT], "lx": [0, 1]}
    )
    rt = pd.DataFrame(
        {
            "k": [1, 1, None],
            "ts2": [pd.Timestamp("2024-01-01"), pd.NaT, pd.Timestamp("2024-01-01")],
            "v": [1.0, 2.0, 3.0],
        }
    )
    ldf = spark.createDataFrame(lt)
    rdf = spark.createDataFrame(rt)
    for direction in ("backward", "forward", "nearest"):
        out = (
            asof_join(
                ldf, rdf, on=["k"], left_ts="ts", right_ts="ts2",
                payload_cols=["v"], direction=direction,
            )
            .toPandas()
            .sort_values("lx")["v"]
            .tolist()
        )
        # row 0 sees only the clean right row (before it in time, so
        # backward/nearest match, forward does not); the NULL-ts left
        # row never matches anything
        if direction == "forward":
            assert np.isnan(out[0])
        else:
            assert out[0] == 1.0
        assert np.isnan(out[1])


def test_nearest_single_sort_plan(spark):
    """nearest evaluates both fill directions over ONE window sort:
    the physical plan must contain exactly one shuffle of the unioned
    input (plus the parallelize scans) and one Sort."""
    lt = pd.DataFrame(
        {"k": [1], "ts": [pd.Timestamp("2024-01-01")], "lx": [0]}
    )
    rt = pd.DataFrame(
        {"k": [1], "ts2": [pd.Timestamp("2024-01-01")], "v": [1.0]}
    )
    out = asof_join(
        spark.createDataFrame(lt), spark.createDataFrame(rt),
        on=["k"], left_ts="ts", right_ts="ts2",
        payload_cols=["v"], direction="nearest",
    )
    plan = executed_plan(spark, out)
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort ") + plan.count("Sort\n") <= 2  # one sort op (may print twice in AQE reuse)


def test_stream_asof_enrich_equals_batch_twin(spark):
    """The streaming as-of enrichment must emit exactly the batch
    twin's rows (static dimension + per-row-independent fill => batch
    boundaries can't matter)."""
    from stockpulse_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = (
        REGISTRY["stream_asof_enrich"].builder(spark, sf)
        .toPandas()
        .sort_values(["event_id", "user_id", "ts"])
        .reset_index(drop=True)
    )
    exp = (
        REGISTRY["asof_prev_close"].builder(spark, sf)
        .toPandas()
        .sort_values(["event_id", "user_id", "ts"])
        .reset_index(drop=True)
    )
    assert list(got.columns) == list(exp.columns)
    pd.testing.assert_frame_equal(got, exp, check_dtype=True)

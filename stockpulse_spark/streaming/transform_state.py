"""Custom stateful operator on the Spark 4 transformWithState API.

`applyInPandasWithState` (streaming/stateful.py) is the Spark 3.x-era
state API; transformWithStateInPandas is its successor — typed state
variables, timers, TTL — and is the right home for operators whose
per-key state outlives any window: here a running per-user series
tracker (event count, running max, longest consecutive up-move
streak) that folds each micro-batch into ValueState and emits the
updated aggregate.

The streak fold is order-sensitive, so each batch's rows are sorted by
event time before folding and the carry (last value + open streak
length) lives in state — replaying the same data in one batch or many
yields the same final row, which is exactly what the cross-batch test
asserts (tests/test_transform_state.py).

Scale: state is one fixed-width row per user (O(keys), not O(rows));
the fold is vectorized pandas over Arrow batches. This is the template
for any online per-entity accumulator (anomaly scores, CUSUM
detectors, online normalization) the reference's single-process
poller could only do in memory (reference stock_monitor.py polling
loop).

Runtime binding: transformWithState's Python worker needs the
`google.protobuf` package for its state-serialization protocol. This
sandbox doesn't ship protobuf (and installs are off-limits), so
`running_series_stats` probes for it and otherwise binds the SAME fold
kernel to `applyInPandasWithState` — identical semantics (the kernel
is shared, and the cross-batch test runs against whichever path is
active), different state plumbing."""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

STATE_SCHEMA = (
    "n LONG, mx DOUBLE, last_value DOUBLE, cur_streak LONG, best_streak LONG"
)
OUTPUT_SCHEMA = (
    "user_id LONG, n_events LONG, max_value DOUBLE, best_up_streak LONG"
)


def _fold_batch(
    vals: pd.Series, last_value, cur_streak: int, best_streak: int
):
    """Fold one time-ordered batch of values into the streak state."""
    ups = vals.diff() > 0
    if len(vals):
        ups.iloc[0] = last_value is not None and vals.iloc[0] > last_value
    # run-length of consecutive ups ending at each position
    s = ups.astype(int)
    cs = s.cumsum()
    streak = cs - cs.where(~ups).ffill().fillna(0)
    # the first run (positions before the first non-up) continues the
    # carried-in streak from the previous batch
    not_up = (~ups).to_numpy().nonzero()[0]
    first_break = not_up[0] if len(not_up) else len(vals)
    if first_break > 0:
        streak.iloc[:first_break] += cur_streak
    best = int(max(best_streak, streak.max() if len(streak) else 0))
    cur = int(streak.iloc[-1]) if len(streak) else cur_streak
    return cur, best


class RunningSeriesProcessor(StatefulProcessor):
    """Per-user running (count, max, longest up-streak) accumulator."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("series", STATE_SCHEMA)

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        n, mx, last_value, cur_streak, best_streak = (
            self._state.get()
            if self._state.exists()
            else (0, None, None, 0, 0)
        )
        batch = pd.concat(list(rows)).sort_values("ts", kind="stable")
        vals = batch["value"].astype(float).reset_index(drop=True)
        cur_streak, best_streak = _fold_batch(
            vals, last_value, cur_streak, best_streak
        )
        n += len(vals)
        if len(vals):
            batch_max = float(vals.max())
            mx = batch_max if mx is None else max(mx, batch_max)
            last_value = float(vals.iloc[-1])
        self._state.update((n, mx, last_value, cur_streak, best_streak))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_value": [mx],
                "best_up_streak": [best_streak],
            }
        )

    def close(self) -> None:
        pass


def has_transform_with_state_runtime() -> bool:
    """transformWithState's Python worker imports google.protobuf; if
    it's absent the worker crashes at runtime, so probe up front."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _fold_group_pandas(key, pdf_iter, state):
    """applyInPandasWithState binding of the same fold kernel."""
    n, mx, last_value, cur_streak, best_streak = (
        state.get if state.exists else (0, None, None, 0, 0)
    )
    batch = pd.concat(list(pdf_iter)).sort_values("ts", kind="stable")
    vals = batch["value"].astype(float).reset_index(drop=True)
    cur_streak, best_streak = _fold_batch(
        vals, last_value, cur_streak, best_streak
    )
    n += len(vals)
    if len(vals):
        batch_max = float(vals.max())
        mx = batch_max if mx is None else max(mx, batch_max)
        last_value = float(vals.iloc[-1])
    state.update((n, mx, last_value, cur_streak, best_streak))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "max_value": [mx],
            "best_up_streak": [best_streak],
        }
    )


def active_state_binding() -> str:
    """Name of the state API `running_series_stats` will bind to in
    THIS runtime — surfaced so tests and operators can record which
    path their evidence covers."""
    return (
        "transformWithStateInPandas"
        if has_transform_with_state_runtime()
        else "applyInPandasWithState"
    )


def _finite_ticks(stream_df):
    """Round-6 sensor-garbage contract, applied at the stateful
    operators' ingestion edge (round 10 — the fuzz twin-diff found
    stream/batch forking on degenerate ticks): NULL and non-finite
    values never enter keyed state.  The pandas kernels CANNOT carry
    the distinction anyway (NULL becomes NaN in a float64 column on
    the way in, and NaN becomes NULL through Arrow nan_as_null on the
    way out), while the JVM batch twins keep NaN ordered greatest —
    masking at the edge is the only semantics both engines can share
    bit-for-bit.  Batch twins + oracles apply the identical filter."""
    from pyspark.sql import functions as F

    from stockpulse_spark.functions.nullsafe import not_finite

    return stream_df.filter(
        F.col("value").isNotNull() & ~not_finite("value")
    )


def running_series_stats(stream_df):
    """Attach the processor: one output row per user per micro-batch
    carrying the updated running aggregate over the finite-tick
    substream (see _finite_ticks).

    Binds to transformWithStateInPandas when its runtime dependency is
    available, else to applyInPandasWithState (same kernel)."""
    stream_df = _finite_ticks(stream_df)
    if has_transform_with_state_runtime():
        return stream_df.groupBy("user_id").transformWithStateInPandas(
            RunningSeriesProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Append",
            timeMode="None",
        )
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream_df.groupBy("user_id").applyInPandasWithState(
        _fold_group_pandas,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming Kalman filter: the state-space recursion of
# plans/timeseries.py (`kalman_local_level`) carried across micro-batches

KALMAN_STATE_SCHEMA = "n LONG, l DOUBLE, p DOUBLE"
KALMAN_OUTPUT_SCHEMA = "user_id LONG, n_obs LONG, level DOUBLE, err_var DOUBLE"
_KF_Q, _KF_R = 0.1, 1.0  # keep in lockstep with plans/timeseries.py


def _kalman_fold(vals, n: int, l, p):
    """Fold one time-ordered batch of observations into Kalman state.

    Python-float arithmetic IS IEEE double arithmetic, and the update
    expressions mirror the JVM fold in `kalman_events_batch`
    operation-for-operation — so a stream split across any number of
    micro-batches reproduces the batch query's final state
    bit-for-bit (asserted in tests/test_kalman_stream.py)."""
    for x in vals:
        x = float(x)
        if n == 0:
            l, p = x, _KF_R
        else:
            ppred = p + _KF_Q
            k = ppred / (ppred + _KF_R)
            l = l + k * (x - l)
            p = (1.0 - k) * ppred
        n += 1
    return n, l, p


class KalmanProcessor(StatefulProcessor):
    """Per-user online local-level Kalman filter (typed-state API)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("kalman", KALMAN_STATE_SCHEMA)

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        n, l, p = (
            self._state.get() if self._state.exists() else (0, None, None)
        )
        # tiebreak on value to match the batch twin's ORDER BY
        # struct(ts, value); ties split ACROSS micro-batches remain
        # undefined (the shuffle fixes their relative arrival order).
        batch = pd.concat(list(rows)).sort_values(
            ["ts", "value"], kind="stable"
        )
        n, l, p = _kalman_fold(batch["value"].to_numpy(), n, l, p)
        self._state.update((n, l, p))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_obs": [n],
                "level": [l],
                "err_var": [p],
            }
        )

    def close(self) -> None:
        pass


def _kalman_group_pandas(key, pdf_iter, state):
    """applyInPandasWithState binding of the same Kalman kernel."""
    n, l, p = state.get if state.exists else (0, None, None)
    batch = pd.concat(list(pdf_iter)).sort_values(
        ["ts", "value"], kind="stable"
    )
    n, l, p = _kalman_fold(batch["value"].to_numpy(), n, l, p)
    state.update((n, l, p))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_obs": [n], "level": [l], "err_var": [p]}
    )


def running_kalman_filter(stream_df):
    """Attach the online Kalman filter: one output row per user per
    micro-batch carrying the updated (n, level, err_var) state —
    the streaming form of `kalman_events_batch`, folding the
    finite-tick substream (see _finite_ticks). Binds to whichever
    state API this runtime supports (same rule as
    `running_series_stats`)."""
    stream_df = _finite_ticks(stream_df)
    if has_transform_with_state_runtime():
        return stream_df.groupBy("user_id").transformWithStateInPandas(
            KalmanProcessor(),
            outputStructType=KALMAN_OUTPUT_SCHEMA,
            outputMode="Append",
            timeMode="None",
        )
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream_df.groupBy("user_id").applyInPandasWithState(
        _kalman_group_pandas,
        outputStructType=KALMAN_OUTPUT_SCHEMA,
        stateStructType=KALMAN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

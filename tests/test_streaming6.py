"""stream_abandoned_views anchoring: timeout-driven emissions are
bracketed by the oracle-checked batch twin at the engine-reported
final watermark.

- every emitted row must be a genuinely abandoned view (subset of
  the twin) with matching view timestamp;
- every twin row whose deadline is STRICTLY before the final
  watermark must have emitted (the timeout fired);
- nothing at-or-past the frontier may emit early;
- at least one row must emit (non-vacuity: the timeout path ran).
"""

from __future__ import annotations

from datetime import datetime, timezone

from stockpulse_spark.plans import REGISTRY
from tests.conftest import SF_DIR

_T_US = 4 * 3600 * 1_000_000


def test_abandoned_views_stream_bracketed_by_twin(spark):
    out = (
        REGISTRY["stream_abandoned_views"].builder(spark, SF_DIR).collect()
    )
    wm_str = spark.conf.get("stockpulse.lastAbandonWatermark")
    assert wm_str, "no watermark reported — replay never ratcheted"
    wm_us = int(
        datetime.strptime(wm_str, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
        * 1_000_000
    )

    emitted = {(r["user_id"], r["view_id"]): r["view_ts_us"] for r in out}
    assert len(emitted) == len(out)  # appended exactly once

    twin = {
        (r["user_id"], r["view_id"]): r["view_ts_us"]
        for r in REGISTRY["abandoned_views_batch"]
        .builder(spark, SF_DIR)
        .collect()
    }

    # subset with matching timestamps
    for k, ts in emitted.items():
        assert k in twin and twin[k] == ts, k

    must_fire = {
        k for k, ts in twin.items() if ts + _T_US < wm_us
    }
    may_fire = {
        k for k, ts in twin.items() if ts + _T_US <= wm_us
    }
    assert must_fire <= set(emitted)
    assert set(emitted) <= may_fire
    assert len(emitted) > 0, "timeout path never exercised"


def test_timeout_state_survives_checkpoint_restart(spark, tmp_path):
    """Timer + pending-view state must recover from the checkpoint: a
    view left pending in run 1 (watermark short of its deadline) must
    fire as abandoned in run 2 once later data pushes the watermark
    past it — without re-reading run 1's file."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from stockpulse_spark.plans.streaming import (
        _ABANDON_OUT_SCHEMA,
        _ABANDON_STATE_SCHEMA,
        _abandon_fn,
    )

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    schema = "user_id long, event_id long, event_type string, ts timestamp"

    def write_file(name, rows):
        spark.createDataFrame(
            [
                (u, i, t, pd.Timestamp(ts).to_pydatetime())
                for (u, i, t, ts) in rows
            ],
            schema,
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / ("stage_" + name))
        )
        import glob as g
        import shutil

        part = g.glob(str(tmp_path / ("stage_" + name) / "part-*.parquet"))[0]
        shutil.move(part, str(src / name))

    def run():
        # parquet sink: the memory sink rejects checkpoint RECOVERY,
        # and recovery is exactly what this test exercises
        s = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .load(str(src))
            .withWatermark("ts", "2 hours")
        )
        out = s.groupBy("user_id").applyInPandasWithState(
            _abandon_fn,
            outputStructType=_ABANDON_OUT_SCHEMA,
            stateStructType=_ABANDON_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        q = (
            out.writeStream.format("parquet")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        assert q.awaitTermination(120)
        try:
            return spark.read.parquet(sink).collect()
        except Exception:
            return []  # no files yet — nothing emitted

    # run 1: view id 1 (05:00, deadline 09:00) is NOT covered by the
    # 10:00 purchase (outside its 4h window) and its deadline is past
    # run 1's final watermark (10:00 - 2h = 08:00), so it survives
    # run 1 PENDING in state; view id 2 (09:30) IS covered and
    # resolves on arrival
    write_file(
        "f0.parquet",
        [
            (1, 1, "view", "2024-01-02 05:00:00"),
            (1, 2, "view", "2024-01-02 09:30:00"),
            (1, 3, "purchase", "2024-01-02 10:00:00"),
        ],
    )
    rows1 = run()
    assert rows1 == []

    # run 2 (same checkpoint): a later view pushes the watermark to
    # 16:00 — past id 1's 09:00 deadline; the RECOVERED state must
    # fire it. id 4's own deadline (22:00) stays pending. The second
    # chunk guarantees a post-advancement batch for the timer even if
    # the trailing no-data batch were disabled.
    write_file("f1.parquet", [(1, 4, "view", "2024-01-02 18:00:00")])
    write_file("f2.parquet", [(99, 5, "purchase", "2024-01-02 18:30:00")])
    rows2 = run()  # sink accumulates across runs; run 1 emitted nothing
    assert {(r["user_id"], r["view_id"]) for r in rows2} == {(1, 1)}

"""The workloads, each a closed loop with one client.

A workload first checks its inputs and warms up every op untimed, then
runs whole units of work (a query pass, or one ingest lifecycle) back
to back for about `seconds` (`Bench.measure`). An untraced unit calls
the program bare. In a traced run untraced and traced units alternate,
so every traced run also measures its own tracing overhead; end-to-end
numbers come from untraced units only, per-layer numbers from traced
units only.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np

import checks
import corpus
from spans import (CpuClock, Tracer, exchange_count, instrument, job_counters, steal_share,
                   vm_ticks)


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Bench:
    """State of one benchmark run: session, tracer, samples, checks."""

    def __init__(self, spark, root: Path, cache: Path, seed: int,
                 seconds: float, traced: bool, deadline: float):
        self.spark = spark
        self.sc = spark.sparkContext
        self.root, self.cache = root, cache
        self.rng = np.random.default_rng(seed)
        self.seconds = seconds
        self.deadline = deadline  # perf_counter() time no unit may end after
        self.traced = traced
        self.tracer = Tracer(enabled=False)
        self.cpu = CpuClock([os.getpid(), self.sc._gateway.proc.pid])
        # one-time corpus builds, kept out of set-up: wall and CPU seconds
        self.build_s = self.build_cpu = 0.0
        self.first_op_at: float | None = None  # perf_counter() at the first timed op
        self.first_op_cpu: float | None = None  # self.cpu.total() at the first timed op
        self.first_op_ticks: list[int] | None = None  # vm_ticks() at the first timed op
        self.ops: list[float] = []  # op latencies of untraced units
        self.units: list[float] = []  # wall time of untraced units
        self.unit_cpu: list[float] = []  # CPU seconds of untraced units
        self.unit_steal: list[float] = []  # VM steal share during untraced units
        self.rows = 0  # rows credited to untraced units
        self.traced_units: list[float] = []
        self.traced_cpu: list[float] = []
        self.layers: list[dict[str, float]] = []  # one dict per traced unit
        self.attempted = 0
        self.failed = 0
        self.setup_ok = True

    def build(self, fn):
        t0, c0 = time.perf_counter(), self.cpu.total()
        try:
            return fn()
        finally:
            self.build_s += time.perf_counter() - t0
            self.build_cpu += self.cpu.total() - c0

    def verify(self, what: str, got, want) -> bool:
        if got != want:
            _log(f"CHECK FAILED {what}: got {got}, want {want}")
            return False
        return True

    def measure(self, unit, unit_s: float) -> None:
        """Run `unit(index, traced)` back to back, round(seconds /
        unit_s) times and at least once: `unit_s` is the workload's
        nominal unit length, so the unit count depends on `seconds`
        alone, not on how fast the host runs today. A traced run first
        runs one settle unit it does not count (the first unit after
        warm-up is still the slowest), then orders its units untraced,
        traced, traced, untraced, ... (so a warming trend cancels out of
        the overhead) and runs at least four. No unit starts once it
        would end past `deadline`, as long as each kind of unit the run
        reports has run once."""
        if self.traced:
            unit(-2, False)
            self.units.clear()
            self.unit_cpu.clear()
            self.unit_steal.clear()
        self.first_op_at, self.first_op_cpu = time.perf_counter(), self.cpu.total()
        self.first_op_ticks = vm_ticks()
        n = max(round(self.seconds / unit_s), 4 if self.traced else 1)
        last = 0.0
        for i in range(n):
            traced = self.traced and i % 4 in (1, 2)
            done = self.units and (self.traced_units or not self.traced)
            if done and time.perf_counter() + last > self.deadline:
                _log(f"deadline: stopping after {i} units")
                break
            self.tracer.enabled = traced
            t0, v0 = time.perf_counter(), vm_ticks()
            unit(i, traced)
            last = time.perf_counter() - t0
            if len(self.unit_steal) < len(self.unit_cpu):
                self.unit_steal.append(steal_share(v0, vm_ticks()))
                _log(f"steal share {self.unit_steal[-1]:.3f}")
        self.tracer.enabled = False

    def record_unit(self, wall: float, cpu: float, traced: bool,
                    layers: dict | None) -> None:
        _log(f"{'traced' if traced else 'untraced'} unit {wall:.3f}s cpu {cpu:.2f}s")
        if traced:
            self.traced_units.append(wall)
            self.traced_cpu.append(cpu)
            self.layers.append(layers or {})
        else:
            self.units.append(wall)
            self.unit_cpu.append(cpu)

    def per_layer(self) -> dict[str, float]:
        """Median over traced units of each per-layer value."""
        keys = sorted({k for d in self.layers for k in d})
        out = {k: statistics.median(d.get(k, 0.0) for d in self.layers) for k in keys}
        med = statistics.median
        out["trace.overhead_s"] = med(self.traced_units) - med(self.units)
        out["trace.overhead_cpu_s"] = med(self.traced_cpu) - med(self.unit_cpu)
        return out


def _add_counters(layers: dict, counters: dict) -> None:
    for k, v in counters.items():
        layers[f"session.{k}"] = layers.get(f"session.{k}", 0) + v


def _execute_probe(df) -> float:
    """Seconds to run an already-planned DataFrame's physical plan to a
    row count on the executors: execution without the driver
    transfer."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    t0 = time.perf_counter()
    qe.toRdd().count()
    return time.perf_counter() - t0


def _query_pass(b: Bench, i: int, traced: bool, names, build, check) -> None:
    """One pass over the queries `names` in a seeded order. An op is
    `build(name)` then `collect()`; `check(name, df, rows)` returns
    (output correct, rows credited). A traced op also splits out
    planning and the execution part of the collect."""
    layers: dict[str, float] = {}
    wall = cpu = 0.0
    for name in b.rng.permutation(names):
        b.attempted += 1
        op = f"{i}-{name}"
        b.tracer.op_id = op
        try:
            if traced:
                b.sc.setJobGroup(op, name)
            t0, c0 = time.perf_counter(), b.cpu()
            with b.tracer.span("op"):
                with b.tracer.span("plans.build"):
                    df = build(name)
                if traced:
                    with b.tracer.span("plans.plan"):
                        df._jdf.queryExecution().executedPlan()
                with b.tracer.span("plans.collect"):
                    result = df.collect()
            t2, c2 = time.perf_counter(), b.cpu()
            if traced:
                b.sc._jsc.clearJobGroup()
                _add_counters(layers, job_counters(b.sc, [op]))
                layers["plans.exchanges"] = layers.get("plans.exchanges", 0) + exchange_count(
                    df._jdf.queryExecution())
                execute = _execute_probe(build(name))
                layers[f"plans.{name}.execute_s"] = execute
                layers["plans.execute_s"] = layers.get("plans.execute_s", 0.0) + execute
        except Exception:  # noqa: BLE001 - one failed op must not end the run
            traceback.print_exc()
            b.failed += 1
            continue
        ok, rows = check(name, df, result)
        b.failed += not ok
        wall += t2 - t0
        cpu += c2 - c0
        if not traced:
            b.ops.append(t2 - t0)
            b.rows += rows
    if traced:
        spans = b.tracer.self_times({f"{i}-{n}" for n in names})
        layers["plans.build_s"] = spans.get("plans.build", 0.0)
        layers["plans.plan_s"] = spans.get("plans.plan", 0.0)
        layers["plans.collect_s"] = spans.get("plans.collect", 0.0) - layers.get(
            "plans.execute_s", 0.0)
    b.record_unit(wall, cpu, traced, layers)


# ---------------------------------------------------------------------------
# dashboard


def _oracle_cross_check(b: Bench, base: Path, names: list[str], want: dict) -> None:
    """Once per checkout: the expected digests must equal the DuckDB
    oracle's results on the same corpus."""
    marker = b.cache / f"{base.name}.oracle-ok"
    if marker.exists():
        return
    from stockpulse_spark.plans import oracle_sql
    from stockpulse_spark.schemas import TESTDATA_TABLES

    got = checks.oracle_digests(base, names, oracle_sql(), TESTDATA_TABLES)
    bad = [n for n in names if got[n] != want[n]]
    if bad:
        raise RuntimeError(f"expected.json disagrees with the DuckDB oracle on {bad}")
    marker.write_text(json.dumps(got, sort_keys=True))


def dashboard(b: Bench) -> None:
    from stockpulse_spark.plans import REGISTRY

    names = [n for n, s in REGISTRY.items() if s.headline]
    want = checks.load_expected()["dashboard"]
    base = b.build(lambda: corpus.base_corpus(b.cache))
    b.build(lambda: _oracle_cross_check(b, base, names, want))
    d = str(base)

    def warm(name: str) -> bool:
        df = REGISTRY[name].builder(b.spark, d)
        got = checks.rows_digest(df.columns, df.collect())
        return b.verify(f"warm-up {name}", got, want[name])

    # untimed warm-up, checked: one execution of every query, run
    # concurrently because first executions are bound by code
    # generation and class loading on a single driver thread each
    with ThreadPoolExecutor(max_workers=b.spark.sparkContext.defaultParallelism) as pool:
        b.setup_ok &= all(pool.map(warm, names))

    def check(name: str, df, rows) -> tuple[bool, int]:
        return b.verify(name, checks.rows_digest(df.columns, rows), want[name]), len(rows)

    b.measure(lambda i, traced: _query_pass(
        b, i, traced, names, lambda name: REGISTRY[name].builder(b.spark, d), check),
        unit_s=10.0)


# ---------------------------------------------------------------------------
# ingest_load


def _dir_stats(*dirs: Path) -> tuple[int, int]:
    """(parquet files, bytes of all files) under `dirs`."""
    files = nbytes = 0
    for d in dirs:
        for p in d.rglob("*"):
            if p.is_file() and not p.name.startswith((".", "_")):
                files += p.suffix == ".parquet"
                nbytes += p.stat().st_size
    return files, nbytes


def _progress_layers(progress: list[dict], inputs: corpus.IngestInputs) -> dict:
    batches = [p for p in progress if p["numInputRows"] > 0]

    def med(key: str) -> float:
        return statistics.median(p["durationMs"].get(key, 0) for p in batches) / 1000.0

    state = progress[-1]["stateOperators"][0]
    dropped = sum(
        p["stateOperators"][0]["customMetrics"].get("numDroppedDuplicateRows", 0)
        for p in batches
    )
    return {
        "streaming.batch_s": med("triggerExecution"),
        "streaming.add_batch_s": med("addBatch"),
        "streaming.query_planning_s": med("queryPlanning"),
        "streaming.wal_commit_s": med("walCommit"),
        "streaming.state_rows": state["numRowsTotal"],
        "streaming.state_memory_bytes": state["memoryUsedBytes"],
        "streaming.state_rows_per_unique_key": state["numRowsTotal"] / inputs.unique,
        "streaming.dup_drop_ratio": dropped / inputs.redeliver,
    }


def ingest_load(b: Bench) -> None:
    from pyspark.sql import functions as F

    import stockpulse_spark.jobs as jobs
    import stockpulse_spark.streaming.pipeline as pipeline
    from stockpulse_spark.operators import maintenance

    work_root = b.cache / "work"
    shutil.rmtree(work_root, ignore_errors=True)
    anchor = corpus.anchor_utc_midnight()
    n_sym = len(corpus.SYMBOLS)
    payload_schema = "symbol string, payload string"

    original_writer = pipeline.dual_sink_writer

    def traced_writer(raw_path, processed_path):
        return b.tracer.wrap(
            "streaming.foreach_batch", original_writer(raw_path, processed_path))

    def lifecycle(i: int, traced: bool) -> dict | None:
        """One full write-path lifecycle; returns its record, or None
        when it raised."""
        inputs = corpus.IngestInputs(b.rng, anchor)
        fetches = [inputs.payloads(cycle) for cycle in (1, 2)]
        symbol = corpus.SYMBOLS[int(b.rng.integers(0, n_sym))]
        work = work_root / f"life-{i}"
        p = {k: str(work / k) for k in
             ("bronze", "silver", "src", "raw", "proc", "ckpt", "dedup")}
        Path(p["src"]).mkdir(parents=True)
        group = f"ingest-{i}"
        b.tracer.op_id = group
        targets = [
            (jobs, "write_bronze", "sources.write_bronze"),
            (jobs, "write_silver", "sources.write_silver"),
        ]
        rec: dict = {"inputs": inputs, "fetches": fetches}
        try:
            if traced:
                b.sc.setJobGroup(group, "ingest_load")
            with instrument(b.tracer, targets if traced else []):
                if traced:
                    pipeline.dual_sink_writer = traced_writer
                t0, c0 = time.perf_counter(), b.cpu()
                with b.tracer.span("lifecycle"):
                    msgs = []
                    for cycle, fetch in enumerate(fetches, 1):
                        payloads = b.spark.createDataFrame(fetch, payload_schema)
                        last_seen = None if cycle == 1 else (
                            b.spark.read.parquet(p["bronze"])
                            .groupBy("symbol").agg(F.max("timestamp").alias("max_ts")))
                        with b.tracer.span("jobs.ingest_job"):
                            out = jobs.ingest_job(payloads, last_seen, p["bronze"], p["silver"])
                        with b.tracer.span("jobs.publish"):
                            msgs.append([r[0] for r in out.collect()])
                    files = inputs.message_files(msgs[0] + msgs[1])
                    for k, lines in enumerate(files):
                        Path(p["src"], f"part-{k}.json").write_text("\n".join(lines) + "\n")
                    with b.tracer.span("streaming.run"):
                        stream = pipeline.replay_json_stream(
                            b.spark, p["src"], max_files_per_trigger=1)
                        q = pipeline.start_dual_sink(
                            pipeline.dedup_stream(stream), p["raw"], p["proc"], p["ckpt"])
                        q.awaitTermination()
                    with b.tracer.span("operators.dedup_rewrite"):
                        maintenance.dedup_rewrite(b.spark, p["raw"], p["dedup"])
                    with b.tracer.span("operators.compact"):
                        maintenance.compact(b.spark, p["dedup"])
                    with b.tracer.span("jobs.analytics"):
                        with b.tracer.span("plans.build"):
                            panel = jobs.analytics_job(
                                b.spark, p["dedup"] + "__compacted", symbol=symbol)
                        if traced:
                            with b.tracer.span("plans.plan"):
                                panel._jdf.queryExecution().executedPlan()
                        with b.tracer.span("plans.collect"):
                            rows = panel.collect()
                rec["wall"] = time.perf_counter() - t0
                rec["cpu"] = b.cpu() - c0
        except Exception:  # noqa: BLE001 - one failed lifecycle must not end the run
            traceback.print_exc()
            return None
        finally:
            pipeline.dual_sink_writer = original_writer
            if traced:
                b.sc._jsc.clearJobGroup()
        rec.update(msgs=msgs, rows=len(rows), query=q, paths=p, group=group,
                   panel=panel, symbol=symbol)
        return rec

    def check(rec: dict) -> tuple[bool, list[dict]]:
        inputs, p = rec["inputs"], rec["paths"]
        progress = [json.loads(x.json) for x in rec["query"].recentProgress]
        batches = [x for x in progress if x["numInputRows"] > 0]
        landed = b.spark.read.parquet(p["raw"]).count()
        fed = sum(x["numInputRows"] for x in batches)
        ok = all([
            b.verify("cycle 1 bars", len(rec["msgs"][0]), corpus.BARS_PER_FETCH * n_sym),
            b.verify("cycle 2 bars after the gate", len(rec["msgs"][1]), inputs.new * n_sym),
            b.verify("raw rows vs unique keys", landed, inputs.unique),
            b.verify("dropped duplicates vs redeliveries", fed - landed, inputs.redeliver),
            b.verify("analytics rows", rec["rows"], inputs.bars),
        ])
        return ok, progress

    def unit(i: int, traced: bool) -> None:
        b.attempted += corpus.N_FILES
        rec = lifecycle(i, traced)
        if rec is None:
            b.failed += corpus.N_FILES
            return
        ok, progress = check(rec)
        if not ok:
            b.failed += corpus.N_FILES
        batch_s = [x["durationMs"]["triggerExecution"] / 1000.0
                   for x in progress if x["numInputRows"] > 0]
        layers = None
        if traced:
            layers = _ingest_layers(b, rec, progress)
        else:
            b.ops.extend(batch_s)
            b.rows += rec["inputs"].unique
        b.record_unit(rec["wall"], rec["cpu"], traced, layers)
        shutil.rmtree(work_root / f"life-{i}", ignore_errors=True)

    # untimed warm-up lifecycle, checked
    warm = lifecycle(-1, False)
    b.setup_ok &= warm is not None and check(warm)[0]
    shutil.rmtree(work_root, ignore_errors=True)
    b.measure(unit, unit_s=15.0)


def _ingest_layers(b: Bench, rec: dict, progress: list[dict]) -> dict:
    from stockpulse_spark.jobs import analytics_job

    inputs, p = rec["inputs"], rec["paths"]
    spans = b.tracer.self_times({rec["group"]})
    execute = _execute_probe(
        analytics_job(b.spark, p["dedup"] + "__compacted", symbol=rec["symbol"]))
    layers = {
        "plans.build_s": spans.get("plans.build", 0.0),
        "plans.plan_s": spans.get("plans.plan", 0.0),
        "plans.execute_s": execute,
        "plans.collect_s": spans.get("plans.collect", 0.0) - execute,
        "plans.exchanges": exchange_count(rec["panel"]._jdf.queryExecution()),
    }
    _add_counters(layers, job_counters(b.sc, [rec["group"], str(rec["query"].runId)]))
    files, _ = _dir_stats(Path(p["bronze"]), Path(p["silver"]))
    _, written = _dir_stats(*(Path(p[k]) for k in ("bronze", "silver", "raw", "proc")))
    payload_bytes = sum(len(x[1]) for fetch in rec["fetches"] for x in fetch)
    n_sym = len(corpus.SYMBOLS)
    parsed2 = n_sym * corpus.BARS_PER_FETCH
    dedup_files, _ = _dir_stats(Path(p["dedup"]))
    out_files, _ = _dir_stats(Path(p["dedup"] + "__compacted"))
    layers.update({
        "jobs.ingest_job_s": spans.get("jobs.ingest_job", 0.0),
        "jobs.analytics_s": sum(
            spans.get(k, 0.0) for k in ("jobs.analytics", "plans.build", "plans.plan",
                                        "plans.collect")),
        "sources.write_bronze_s": spans.get("sources.write_bronze", 0.0),
        "sources.write_silver_s": spans.get("sources.write_silver", 0.0),
        "sources.files_written": files,
        "sources.write_amplification": written / payload_bytes,
        "sources.gate_drop_ratio": (parsed2 - len(rec["msgs"][1])) / (n_sym * inputs.overlap),
        "operators.dedup_rewrite_s": spans.get("operators.dedup_rewrite", 0.0),
        "operators.compact_s": spans.get("operators.compact", 0.0),
        "operators.compact_files_in": dedup_files,
        "operators.compact_files_out": out_files,
    })
    layers.update(_progress_layers(progress, inputs))
    return layers


WORKLOADS = {"dashboard": dashboard, "ingest_load": ingest_load}

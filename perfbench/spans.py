"""Spans and engine counters for the traced run.

Spans are recorded only from the benchmark's side: around its own
calls into the program, and around program functions rebound from
outside (`instrument`). The program itself is not edited. Counters are
read from outside the program too: job, stage and task counts through
the job group and the status tracker, shuffle and spill bytes from the
status store's stage data, exchange counts from the executed plan, CPU
time and peak memory from `/proc`.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from pathlib import Path


class Tracer:
    """In-memory spans: (id, name, start, end, parent id, op id).

    A disabled tracer records nothing, so the untraced run pays one
    attribute test per span site.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            rec = {"id": sid, "name": name, "parent": parent, "op": self.op_id,
                   "start": time.perf_counter(), "end": None}
            self.spans.append(rec)
            self._stack.append(sid)
        try:
            yield
        finally:
            with self._lock:
                rec["end"] = time.perf_counter()
                self._stack.remove(sid)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def self_times(self, op_ids: set[str]) -> dict[str, float]:
        """Self time per span name over the spans of `op_ids`: each
        span's duration minus the part of it its children cover."""
        chosen = [s for s in self.spans if s["op"] in op_ids and s["end"]]
        kids: dict[int, list[dict]] = {}
        for s in chosen:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in chosen:
            covered, reach = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], reach), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


@contextlib.contextmanager
def instrument(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Rebind `module.attr` to a span-recording wrapper for the
    duration of the block. `targets` holds (module, attr, span name)."""
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
    for mod, attr, name in targets:
        setattr(mod, attr, tracer.wrap(name, getattr(mod, attr)))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


# ---------------------------------------------------------------------------
# engine counters


def job_counters(sc, groups: list[str]) -> dict[str, int]:
    """Jobs, stages run, task attempts, failed attempts, shuffle bytes
    written and spill bytes of every job in `groups`."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict(jobs=0, stages=0, tasks=0, failed_tasks=0,
               shuffle_write_bytes=0, spill_bytes=0)
    seen: set[int] = set()
    for group in groups:
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            out["jobs"] += 1
            for stage in (info.stageIds if info else ()):
                if stage in seen:
                    continue
                seen.add(stage)
                data = store.lastStageAttempt(stage)
                if data.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += data.numCompleteTasks() + data.numFailedTasks()
                out["failed_tasks"] += data.numFailedTasks()
                out["shuffle_write_bytes"] += data.shuffleWriteBytes()
                out["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
    return out


def exchange_count(qe) -> int:
    """Shuffle exchanges in the final (post-AQE) physical plan of an
    executed QueryExecution; a reused exchange counts once."""

    def walk(node) -> int:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        if cls == "ReusedExchangeExec":
            return 0
        children = node.children()
        return (cls == "ShuffleExchangeExec") + sum(
            walk(children.apply(i)) for i in range(children.size())
        )

    return walk(qe.executedPlan())


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # names cut to 15 bytes


class CpuClock:
    """User plus system CPU seconds used so far by the processes `pids`
    (all threads, exited ones included), without the JVM's JIT compiler
    threads.

    The kernel does not charge a thread for time the hypervisor steals
    from its CPU, so on a VM whose neighbours are busy this clock grows
    far less than wall time does (see steal_adjusted for what is left).
    JIT compilation is left out because
    it is warm-up that a long-lived session stops paying; in a run of a
    few passes it takes more than half of all CPU time, and how far it
    has got varies from run to run. The JVM must run with
    -XX:-UseDynamicNumberOfCompilerThreads, so that its compiler threads
    live as long as it does.
    """

    def __init__(self, pids: list[int]):
        self.pids = pids
        self.jit_stats = [
            f"/proc/{pid}/task/{tid}/stat"
            for pid in pids
            for tid in os.listdir(f"/proc/{pid}/task")
            if _stat(f"/proc/{pid}/task/{tid}/stat")[0].startswith(JIT_THREADS)
        ]
        if not self.jit_stats:
            raise RuntimeError(f"no JIT compiler threads {JIT_THREADS} in {pids}")

    def __call__(self) -> float:
        ticks = sum(_stat(path)[1] for path in self.jit_stats)
        return self.total() - ticks / os.sysconf("SC_CLK_TCK")

    def total(self) -> float:
        """The same, JIT compiler threads included."""
        ticks = sum(_stat(f"/proc/{pid}/stat")[1] for pid in self.pids)
        return ticks / os.sysconf("SC_CLK_TCK")


def vm_ticks() -> list[int]:
    """The VM's CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all the VM's CPU time between two vm_ticks() readings
    that the hypervisor stole."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def steal_adjusted(cpu_s: float, steal: float) -> float:
    """CPU seconds with the first-order effect of co-tenant load taken
    out. The kernel does not charge a thread for stolen time, but the
    load that steals CPU from the VM also slows the instructions it
    does run: on the reference host the CPU time of a fixed unit of
    work grew by about 1% per point of steal share (see README.md)."""
    return cpu_s / (1.0 + steal)


def _stat(path: str) -> tuple[str, int]:
    """(thread or process name, utime + stime ticks) from a stat file."""
    with open(path) as f:
        text = f.read()
    name, rest = text[text.index("(") + 1:].rsplit(")", 1)
    fields = rest.split()
    return name, int(fields[11]) + int(fields[12])


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over `pids`, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0

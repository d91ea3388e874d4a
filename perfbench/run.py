"""StockPulse benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (see README.md):
`dashboard`, `ingest_load`. With `--trace 0` the result
carries the end-to-end metrics; with `--trace 1` the per-layer metrics
of traced units, and the run writes its spans to
`.perfbench/traces/`. Everything the run writes stays under
`.perfbench/` in the checkout. Progress, and the end-to-end figures
the result line does not carry, go to stderr; the last stdout line is
the result.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

from spans import peak_rss_mb, steal_adjusted, steal_share, vm_ticks  # noqa: E402

T_TICKS = vm_ticks()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench"
DRIVER_MEMORY = "3g"
# a run must exit within 180 s; no unit of work starts that would end
# later than this after the start of the process
DEADLINE_S = 150.0


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _start_session():
    from stockpulse_spark.session import get_spark

    for d in ("spark-local", "tmp", "warehouse"):
        (CACHE / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    # keep Spark's scratch space and the launcher JVM's files in the
    # checkout; SPARK_LOCAL_DIRS takes precedence over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = str(CACHE / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={CACHE / 'tmp'}"
    spark = get_spark(
        "perfbench",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.sql.warehouse.dir": str(CACHE / "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": str(CACHE / "tmp"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
                f"-Djava.io.tmpdir={CACHE / 'tmp'}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - any failure to exit cleanly ends in kill
        proc.kill()
        proc.wait()


def _tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are ten or fewer."""
    xs = sorted(samples)
    k = len(xs) - 11 if len(xs) > 10 else len(xs) - 1
    return xs[k], 100.0 * (k + 1) / len(xs)


def _end_to_end(b, rss_mb: float) -> dict[str, float]:
    """Every end-to-end figure of an untraced run. BENCHMARK.json lists
    the ones the result line carries; README.md says why the others
    are only printed on stderr."""
    busy = sum(b.units)
    tail, pct = _tail(b.ops)
    print(f"# op_tail_s is p{pct:.1f} of {len(b.ops)} ops", file=sys.stderr)
    return {
        # CPU clocks start with their processes, so the clock reading at
        # the first timed op is the CPU time of everything before it
        "setup_s": steal_adjusted(b.first_op_cpu - b.build_cpu,
                                  steal_share(T_TICKS, b.first_op_ticks)),
        "setup_raw_s": b.first_op_cpu - b.build_cpu,
        "setup_steal": steal_share(T_TICKS, b.first_op_ticks),
        "setup_wall_s": b.first_op_at - T_START - b.build_s,
        "cpu_s": statistics.median(map(steal_adjusted, b.unit_cpu, b.unit_steal)),
        "cpu_raw_s": statistics.median(b.unit_cpu),
        "unit_steal": statistics.median(b.unit_steal),
        "wall_s": statistics.median(b.units),
        "op_p50_s": statistics.median(b.ops),
        "op_tail_s": tail,
        "ops_per_s": len(b.ops) / busy,
        "rows_per_s": b.rows / busy,
        "error_rate": b.failed / b.attempted,
        "peak_rss_mb": rss_mb,
    }


def main(argv) -> int:
    args = _args(argv)
    if not (ROOT / "stockpulse_spark" / "__init__.py").is_file():
        print(f"no program to benchmark: {ROOT / 'stockpulse_spark'} is missing",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"]
             for m in declared["per_layer" if args.trace else "end_to_end"]}
    os.environ["TZ"] = "UTC"
    time.tzset()
    CACHE.mkdir(exist_ok=True)
    tempfile.tempdir = str(CACHE / "tmp")
    spark = _start_session()
    try:
        b = workloads.Bench(spark, ROOT, CACHE, args.seed, args.seconds,
                            traced=bool(args.trace), deadline=T_START + DEADLINE_S)
        workloads.WORKLOADS[args.workload](b)
        rss = peak_rss_mb([os.getpid(), spark.sparkContext._gateway.proc.pid])
    finally:
        _stop_session(spark)
    print(f"# one-time corpus builds {b.build_s:.1f}s", file=sys.stderr)
    if args.trace:
        # a layer the workload does not reach reads 0
        values = dict.fromkeys(units, 0.0) | b.per_layer()
        b.tracer.dump(CACHE / "traces" / f"{args.workload}-{args.seed}.json")
    else:
        values = _end_to_end(b, rss)
    for k, v in values.items():
        if k not in units:
            print(f"# {k} {v:.4f}", file=sys.stderr)
    result = {
        "correct": b.setup_ok and b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

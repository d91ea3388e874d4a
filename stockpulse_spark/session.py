"""SparkSession builders.

One place to encode the scale-oriented defaults so every entry point
(tests, bench, driver harness) runs the same way:

- AQE on (runtime coalesce + skew-join handling) — at 100 TB the static
  shuffle-partition count is always wrong for some stage; AQE re-plans.
- Arrow on — every pandas interchange (applyInPandas kernels, toPandas)
  is columnar, not pickled rows.
- Session timezone UTC — the synthetic data and the DuckDB oracle both
  treat timestamps as naive; pinning the session TZ makes to_date/hour
  deterministic regardless of host TZ.
- shuffle.partitions defaults to the local core count; on a real
  cluster this should be ~2-3x total executor cores (AQE coalesces
  down, it can't split a too-small number... it can with skew-join, but
  starting high + coalescing is the cheap direction).
- Generated-code cache sized to the registry's working set: at sf0.001
  the 12 headline queries compile 210 distinct Janino classes and one
  pass over the 304 batch registry queries compiles 4,183. Spark's
  default cache holds 100 and is LRU; a session that re-issues the
  same shapes in the same order (a dashboard refresh) uses its classes
  cyclically, so a cache smaller than that cycle evicts every class
  just before it is needed again and every pass recompiles all of
  them. 8192 holds the whole registry; the cost is about +36 MB of
  metaspace after a full registry sweep (186 -> 222 MB). It is a
  static conf, read once when the JVM first generates code, so it
  applies only to sessions `get_spark` creates.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "stockpulse-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    # the session's ACTUAL task-slot count: `local[N]` grants N slots,
    # `local[*]` grants every host core. The shuffle-partition default
    # derives from THIS, not os.cpu_count() — a `local[8]` session that
    # plans 32 shuffle partitions schedules 4 waves of tiny tasks per
    # exchange, pure overhead at bench scale, and it made the driver's
    # low-core scaling probe illegible (optimization r12, r11 verdict
    # item 2: the probe's per-query ratios read ≈1 partly because the
    # plan shape never followed the granted cores).
    try:
        master_cores = int(cpus)
    except (TypeError, ValueError):
        master_cores = os.cpu_count() or 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            # SPARK_SHUFFLE_PARTITIONS: the data-proportional sizing
            # knob (SCALE.md doctrine) — scale-tier harnesses raise it
            # with the corpus the way a cluster operator would
            str(
                shuffle_partitions
                or os.environ.get("SPARK_SHUFFLE_PARTITIONS")
                or master_cores
            ),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # call-site capture for error enrichment costs ~3 py4j round
        # trips + a Python traceback walk on EVERY DataFrame/Column
        # operation (pyspark/errors/utils.py::_with_origin) — measured
        # 30-55% of query-construction time on expression-heavy
        # builders (macd 1.40s -> 0.65s). Scale-independent driver-side
        # overhead; off in production, on only when debugging a plan.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # raise broadcast threshold to 64 MB: dimension/lookup sides in
        # these plans (nation/region, holiday calendar, centroids, band
        # stats) are well under that, and auto-broadcasting them avoids
        # a shuffle even where a plan forgot the explicit broadcast()
        # hint. Explicit hints still mark intent in the plans.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # 8192 > the 4,183 classes one pass over the batch registry
        # compiles at sf0.001 (210 for the headline set); the default
        # 100 recompiled the headline set on every pass (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def cluster_conf(total_cores: int, executor_mem_gb: int) -> dict[str, str]:
    """Recommended conf for a real cluster at ~100 TB (see SCALE.md).

    Not applied locally — returned as a dict for spark-submit / the
    deployment layer. Shuffle partitions start at 3× cores (AQE
    coalesces down, never up within a stage); scan splits at 256 MB;
    skew + local-shuffle-reader on; broadcast sized to executor
    headroom.
    """
    return {
        "spark.sql.shuffle.partitions": str(3 * total_cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.localShuffleReader.enabled": "true",
        "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
        "spark.sql.autoBroadcastJoinThreshold": str(
            min(512, executor_mem_gb * 16) * 1024 * 1024
        ),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "5000",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    }

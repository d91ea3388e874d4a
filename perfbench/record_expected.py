"""Record expected.json: each benched query's row count and value hash
on the benchmark corpus. Dashboard digests must equal the DuckDB
oracle's before they are written.

    python3 perfbench/record_expected.py

Rerun only when the corpus generator (corpus.CORPUS_VERSION) changes.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

import run


def main() -> int:
    sys.path.insert(0, str(run.ROOT))
    import checks
    import corpus
    from stockpulse_spark.plans import REGISTRY, oracle_sql
    from stockpulse_spark.schemas import TESTDATA_TABLES

    os.environ["TZ"] = "UTC"
    time.tzset()
    run.CACHE.mkdir(exist_ok=True)
    tempfile.tempdir = str(run.CACHE / "tmp")
    spark = run._start_session()
    try:
        base = corpus.base_corpus(run.CACHE)
        names = [n for n, s in REGISTRY.items() if s.headline]
        dashboard = {}
        for name in names:
            df = REGISTRY[name].builder(spark, str(base))
            dashboard[name] = checks.rows_digest(df.columns, df.collect())
        oracle = checks.oracle_digests(base, names, oracle_sql(), TESTDATA_TABLES)
        bad = [n for n in names if oracle[n] != dashboard[n]]
        if bad:
            print(f"Spark and the DuckDB oracle disagree on {bad}", file=sys.stderr)
            return 1
    finally:
        run._stop_session(spark)
    checks.EXPECTED.write_text(
        json.dumps({"dashboard": dashboard}, indent=1, sort_keys=True)
        + "\n"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

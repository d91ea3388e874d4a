"""Local mimic of the driver's DuckDB-oracle correctness gate.

For each registry entry: run the Spark query (``.toPandas()``) and the
oracle SQL (DuckDB ``.df()``) at the given sf dir, then compare the way
the driver does — row count, column-name set, and an order-insensitive
VALUE-HASH over the pandas frames (columns sorted by name, rows sorted
by all columns).  Crucially this mimic is **dtype-aware**:

- an int64 column on one side vs a float64 on the other is a FAILURE
  even when every value is numerically equal (the driver hashes the
  pandas values, and ``hash(43) != hash(43.0)`` at the byte level —
  this is exactly the round-4 ``DuckDB HUGEINT -> float64`` bug class);
- a column containing lists/arrays/dicts is a FAILURE outright: the
  driver's canonicalizer calls ``DataFrame.sort_values`` over all
  columns, which raises ``unhashable type: 'list'`` on ArrayType
  output (round-4 driver ERR class).

Value comparison is exact for non-floats and bit-exact for floats (with
a secondary 1e-9-relative diagnostic so a real semantic bug is
distinguishable from hashing-level float divergence — BOTH fail).

Usage: python tools/parity.py [--jobs N] [--reps N] [sf_dir] [query ...]

`--reps N` runs each compare N times and fails every query that is not
green on every repetition: DuckDB's parallel window sort places a NULL
ORDER-BY key unstably and both engines fold float sums in
nondeterministic order, so a data-dependent parity bug can be FLAKY
and one green sweep proves nothing (SCALE.md round-6 second wave).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from stockpulse_spark.plans import REGISTRY  # noqa: E402
from stockpulse_spark.schemas import TESTDATA_TABLES  # noqa: E402
from stockpulse_spark.session import get_spark  # noqa: E402


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.is_dir():
            # Spark-written table: a directory of part files
            con.execute(
                f"CREATE VIEW {t} AS SELECT * "
                f"FROM read_parquet('{p}/*.parquet')"
            )
        elif p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def canon(df: pd.DataFrame) -> tuple[pd.DataFrame, list[str]]:
    """Mirror the driver's canonicalizer: sort columns by name, then
    rows by all columns.  Returns (canon_df, problems) where problems
    lists driver-fatal shapes (unsortable list/dict cells)."""
    problems: list[str] = []
    df = df[sorted(df.columns)]
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            bad = s.map(lambda v: isinstance(v, (list, dict, np.ndarray))).any()
            if bad:
                problems.append(f"column {c!r} holds list/array values (driver sort_values raises)")
    if problems:
        return df, problems
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df, problems


def compare(name: str, spark, con, sf_dir: str, verbose: bool = True):
    spec = REGISTRY[name]
    t0 = time.time()
    sdf = spec.builder(spark, sf_dir)
    spdf = sdf.toPandas()
    t_spark = time.time() - t0
    if spec.oracle is None:
        return ("NO_ORACLE", name, len(spdf), t_spark, None)
    t0 = time.time()
    opdf = con.execute(spec.oracle).df()
    t_duck = time.time() - t0

    problems: list[str] = []
    if len(spdf) != len(opdf):
        problems.append(f"rowcount spark={len(spdf)} duck={len(opdf)}")
    if sorted(spdf.columns) != sorted(opdf.columns):
        problems.append(f"cols spark={sorted(spdf.columns)} duck={sorted(opdf.columns)}")
    if problems:
        return ("MISMATCH: " + "; ".join(problems), name, len(spdf), t_spark, t_duck)

    scan, sprob = canon(spdf)
    ocan, oprob = canon(opdf)
    for side, probs in (("spark", sprob), ("duck", oprob)):
        problems += [f"[{side}] DRIVER-ERR {p}" for p in probs]
    if problems:
        return ("MISMATCH: " + "; ".join(problems), name, len(spdf), t_spark, t_duck)

    # The driver hashes the sorted frame's values through a per-cell
    # string canonicalization (evidence: DateType-as-object vs DuckDB
    # datetime64 columns hash-match — both render '2024-01-01' — while
    # int64 43 vs HUGEINT->float64 43.0 hash-diverge).  So compare the
    # pandas astype(str) rendering cell-by-cell, exactly.
    ndiff = 0
    ndtype = 0
    first_diff = None
    for c in scan.columns:
        a, b = scan[c].astype(str), ocan[c].astype(str)
        eq = (a == b).to_numpy()
        bad = int((~eq).sum())
        ndiff += bad
        if bad:
            # classify: numerically-equal-but-differently-rendered
            # (dtype/format bug, e.g. int-vs-float) vs true value diff
            try:
                av = pd.to_numeric(scan[c], errors="raise").to_numpy(dtype=float)
                bv = pd.to_numeric(ocan[c], errors="raise").to_numpy(dtype=float)
                close = np.isclose(av, bv, rtol=1e-9, atol=1e-12, equal_nan=True)
                if bool(close[~eq].all()):
                    ndtype += bad
                    problems.append(
                        f"DTYPE/FORMAT column {c!r}: spark={scan[c].dtype} "
                        f"duck={ocan[c].dtype} render differently "
                        f"(values numerically equal)"
                    )
            except (ValueError, TypeError):
                pass
            if first_diff is None:
                i = int(np.argmax(~eq))
                first_diff = (c, scan[c].iloc[i], ocan[c].iloc[i])
    if ndiff > ndtype:
        problems.append(f"{ndiff - ndtype} cell(s) differ (semantic)")
    if ndiff and verbose and first_diff is not None:
        c, va, vb = first_diff
        print(f"    col={c!r} spark={va!r} duck={vb!r}")
    status = "OK" if not problems else "MISMATCH: " + "; ".join(problems)
    return (status, name, len(spdf), t_spark, t_duck)


def parse_args(argv):
    """Sweep CLI: [--jobs N | --jobs=N] [--reps N] [sf_dir] [name ...].

    argparse (not prefix-stripping): the old hand parser silently
    dropped the space form `--jobs 8` and then misread '8' as the
    sf_dir positional, sweeping a nonexistent directory. Unrecognized
    flags now error out instead of being filtered."""
    import argparse

    ap = argparse.ArgumentParser(description="DuckDB-oracle parity sweep")
    ap.add_argument("--jobs", type=int, default=4)
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    return ap.parse_args(argv)


def main():
    ns = parse_args(sys.argv[1:])
    jobs = ns.jobs
    sf_dir = ns.sf_dir
    names = ns.names or list(REGISTRY)
    spark = get_spark("parity")

    # One shared SparkSession serves concurrent actions (the scheduler
    # interleaves jobs across the 32 local cores — exactly what a
    # multi-tenant cluster does); DuckDB connections are per-worker.
    # Results print in registry order as they settle, so the log stays
    # diffable against previous sweeps.
    import threading
    from concurrent.futures import ThreadPoolExecutor

    tl = threading.local()

    def run_one(name):
        con = getattr(tl, "con", None)
        if con is None:
            con = tl.con = duck_con(sf_dir)
        out = []
        for _ in range(ns.reps):
            try:
                out.append(compare(name, spark, con, sf_dir))
            except Exception as e:  # noqa: BLE001
                out.append((f"ERROR: {type(e).__name__}: {e}", name, -1, None, None))
        return out

    failures = []
    if jobs <= 1:
        results = map(run_one, names)
    else:
        pool = ThreadPoolExecutor(max_workers=jobs)
        results = pool.map(run_one, names)
    for name, reps in zip(names, results):
        # show the first failing repetition, if any
        status, _, nrows, ts, td = next(
            (r for r in reps if r[0] != "OK"), reps[-1]
        )
        flag = "✓" if status == "OK" else ("·" if status == "NO_ORACLE" else "✗")
        if flag == "✗":
            failures.append(name)
        ts_s = f"{ts:.2f}s" if ts else "-"
        green = sum(r[0] == "OK" for r in reps)
        tally = f" {green}/{ns.reps} green" if ns.reps > 1 else ""
        print(
            f" {flag} {name:28s} rows={nrows:<8d} spark={ts_s:8s} "
            f"{status if flag != '✓' else ''}{tally}",
            flush=True,
        )
    if failures and ns.reps > 1:
        print(f"not green on every rep: {' '.join(failures)}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

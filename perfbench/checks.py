"""Output checks: row count plus an order-insensitive value hash.

`rows_digest` hashes collected rows (Spark `Row`s or DuckDB tuples)
after rendering each cell the way the oracle-parity gate compares
them: columns sorted by name, NULL and NaN alike, -0.0 as 0.0,
midnight timestamps as dates, decimals without trailing zeros.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
from decimal import Decimal
from pathlib import Path

EXPECTED = Path(__file__).resolve().parent / "expected.json"


def _cell(v) -> str:
    if v is None:
        return "nan"
    if isinstance(v, float):
        return "nan" if v != v else repr(v + 0.0)
    if isinstance(v, Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, dt.datetime):
        if v.time() == dt.time(0) and v.tzinfo is None:
            return v.date().isoformat()
        return v.isoformat(" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, str):
        return v
    return repr(v)


def rows_digest(columns: list[str], rows) -> dict:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    blob = json.dumps([[columns[i] for i in order], canon]).encode()
    return {"rows": len(canon), "hash": hashlib.sha256(blob).hexdigest()[:16]}


def load_expected() -> dict:
    return json.loads(EXPECTED.read_text())


def oracle_digests(corpus: Path, names: list[str], oracles: dict[str, str],
                   tables: tuple[str, ...]) -> dict[str, dict]:
    """DuckDB oracle results of `names` over `corpus`, digested."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            p = corpus / f"{t}.parquet"
            if p.exists():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for name in names:
            cur = con.execute(oracles[name])
            cols = [d[0] for d in cur.description]
            out[name] = rows_digest(cols, cur.fetchall())
        return out
    finally:
        con.close()

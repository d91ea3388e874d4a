"""Seeded benchmark inputs: the base table corpus and the
Alpha-Vantage-shaped REST payloads of the write path.

The base corpus has the schemas and value shapes of the engine's
parquet test tables (TPC-H-style star schema plus `events`,
`documents` and `embeddings`) at sf0.01 row counts. It comes from the
fixed `CORPUS_SEED`, so the expected query results in `expected.json`
hold for every run seed; the run seed orders the queries and draws the
write-path payloads. Corpora are built once per checkout under the
cache directory and row-count-verified against their manifest before
any timing.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import tempfile
from pathlib import Path

import numpy as np

CORPUS_SEED = 42
CORPUS_VERSION = 1

BASE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
N_USERS = 150
EMBED_DIM = 64

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_PART_WORDS = (
    ("blue", "cold", "hot", "red", "small", "new", "old", "large"),
    ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "spring"),
)


def _days(start: dt.date, end: dt.date, n: int, rng) -> np.ndarray:
    """n midnight timestamps (datetime64[us]) uniform in [start, end]."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _table(cols: dict, types: dict | None = None):
    import pyarrow as pa

    types = types or {}
    return pa.table(
        {k: pa.array(v, type=types.get(k)) for k, v in cols.items()}
    )


def _base_tables(seed: int) -> dict:
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    i32, i64, ts = pa.int32(), pa.int64(), pa.timestamp("us")
    n = BASE_ROWS
    tables = {}
    tables["region"] = _table(
        {
            "r_regionkey": np.arange(5),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        {"r_regionkey": i32},
    )
    tables["nation"] = _table(
        {
            "n_nationkey": np.arange(25),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25) % 5,
        },
        {"n_nationkey": i32, "n_regionkey": i32},
    )
    segments = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    )
    tables["customer"] = _table(
        {
            "c_custkey": np.arange(n["customer"]),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
            "c_mktsegment": rng.choice(segments, n["customer"]),
        },
        {"c_custkey": i64, "c_nationkey": i32},
    )
    tables["supplier"] = _table(
        {
            "s_suppkey": np.arange(n["supplier"]),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
        },
        {"s_suppkey": i64, "s_nationkey": i32},
    )
    names = [f"{a} {b}" for a in _PART_WORDS[0] for b in _PART_WORDS[1]]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    keys = np.arange(n["part"])
    tables["part"] = _table(
        {
            "p_partkey": keys,
            "p_name": rng.choice(np.array(names), n["part"]),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(types, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        },
        {"p_partkey": i64, "p_size": i32},
    )
    tables["orders"] = _table(
        {
            "o_orderkey": np.arange(n["orders"]),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n["orders"]),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n["orders"]), 2),
            "o_orderdate": _days(
                dt.date(1995, 1, 1), dt.date(2001, 8, 1), n["orders"], rng
            ),
            "o_orderpriority": rng.choice(
                np.array(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
                ),
                n["orders"],
            ),
        },
        {"o_orderkey": i64, "o_custkey": i64, "o_orderdate": ts},
    )
    m = n["lineitem"]
    tables["lineitem"] = _table(
        {
            "l_orderkey": rng.integers(0, n["orders"], m),
            "l_partkey": rng.integers(0, n["part"], m),
            "l_suppkey": rng.integers(0, n["supplier"], m),
            "l_linenumber": rng.integers(1, 8, m),
            "l_quantity": rng.integers(1, 51, m).astype(float),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, m), 2),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), m),
            "l_linestatus": rng.choice(np.array(["F", "O"]), m),
            "l_shipdate": _days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), m, rng),
        },
        {
            "l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64,
            "l_linenumber": i32, "l_shipdate": ts,
        },
    )
    # events: globally unique, sorted microsecond timestamps over 30
    # days (window orderings in the registry rely on ts being unique
    # per user), event_id in time order, exponential values
    e = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.choice(span_us, e, replace=False))
    tables["events"] = _table(
        {
            "event_id": np.arange(e),
            "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, N_USERS, e),
            "event_type": rng.choice(
                np.array(["click", "error", "purchase", "signup", "view"]), e
            ),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        },
        {"event_id": i64, "ts": ts, "user_id": i64},
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    return tables


def _documents(rng, n: int):
    """Bag-of-words texts over a 30-word vocabulary; every 20th doc is
    a near-duplicate of another (one word swapped, ' dup' appended)."""
    vocab = np.array(_VOCAB)
    texts = [
        " ".join(rng.choice(vocab, rng.integers(10, 101))) for _ in range(n)
    ]
    for i in range(0, n, 20):
        words = texts[int(rng.integers(0, n))].split(" ")
        words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
        texts[i] = " ".join(words) + " dup"
    langs = rng.choice(
        np.array(["en", "es", "zh", "de", "fr"]), n, p=[0.4, 0.15, 0.15, 0.15, 0.15]
    )
    import pyarrow as pa

    return _table(
        {
            "doc_id": np.arange(n),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": [len(t) for t in texts],
        },
        {"doc_id": pa.int64(), "n_chars": pa.int64()},
    )


def _embeddings(rng, n: int):
    """Unit vectors clustered around one random centre per label."""
    import pyarrow as pa

    labels = rng.integers(0, 10, n)
    centres = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centres[labels] + rng.normal(0.0, 1.5, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return _table(
        {
            "vec_id": np.arange(n),
            "embedding": list(vecs.astype(np.float32)),
            "label": labels,
        },
        {
            "vec_id": pa.int64(),
            "embedding": pa.list_(pa.float32()),
            "label": pa.int32(),
        },
    )


def parquet_rows(path: Path) -> int:
    """Row count from parquet footers (a file or a directory of parts)."""
    import pyarrow.parquet as pq

    files = sorted(path.glob("*.parquet")) if path.is_dir() else [path]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _write_manifest(corpus: Path, rows: dict[str, int]) -> None:
    (corpus / "MANIFEST.json").write_text(json.dumps(rows, sort_keys=True))


def verify(corpus: Path) -> dict[str, int]:
    """Check every table's footer row count against the manifest."""
    want = json.loads((corpus / "MANIFEST.json").read_text())
    for name, n in want.items():
        got = parquet_rows(corpus / f"{name}.parquet")
        if got != n:
            raise RuntimeError(f"{corpus.name}/{name}: {got} rows, manifest {n}")
    return want


def base_corpus(cache: Path) -> Path:
    """The sf0.01-shaped base corpus, generated on first use."""
    out = cache / f"base-s{CORPUS_SEED}-v{CORPUS_VERSION}"
    if not (out / "MANIFEST.json").exists():
        import pyarrow.parquet as pq

        tmp = Path(tempfile.mkdtemp(prefix="base-", dir=cache))
        tables = _base_tables(CORPUS_SEED)
        for name, tb in tables.items():
            pq.write_table(tb, tmp / f"{name}.parquet")
        _write_manifest(tmp, {k: tb.num_rows for k, tb in tables.items()})
        os.replace(tmp, out)
    verify(out)
    return out


# ---------------------------------------------------------------------------
# write-path payloads

# The reference's documented traffic (BASELINE.md): 11 symbols of
# 5-minute bars, each fetch returns the trailing ~4,000 bars
# (outputsize=full), and the hourly sweep finds about 12 new bars per
# symbol, so almost every bar of the second fetch is already stored.
SYMBOLS = ("AMZN", "TSLA", "PFE", "JPM", "IBM", "XOM", "KO", "AAPL", "MSFT", "GOOGL", "NVDA")
BARS_PER_FETCH = 1_000
NEW_BARS = (2, 4)  # new bars per symbol an hourly sweep finds, drawn per lifecycle
N_FILES = 3  # wire-message files, drained one per micro-batch
SERIES_KEY = "Time Series (5min)"


def anchor_utc_midnight(days_back: int = 15) -> dt.datetime:
    """Start of the generated series: a UTC midnight `days_back` days
    ago. BARS_PER_FETCH + NEW_BARS five-minute bars span 14 days, so
    every bar sits inside incremental_gate's 30-day wall-clock
    retention window and before the present."""
    today = dt.datetime.now(dt.timezone.utc).replace(
        hour=0, minute=0, second=0, microsecond=0, tzinfo=None
    )
    return today - dt.timedelta(days=days_back)


class IngestInputs:
    """Inputs of one ingest_load lifecycle, drawn from `rng`.

    Cycle 1, the first fetch, covers bars [0, B) of every symbol, B =
    BARS_PER_FETCH. Cycle 2, the hourly sweep, fetches the trailing B
    bars again, [new, B + new), so incremental_gate must drop the
    B - new bars per symbol that are already stored. `redeliver` of the
    (B + new) * |symbols| unique wire messages are sent twice, each copy
    in the same or a later file.
    """

    def __init__(self, rng, anchor: dt.datetime):
        b, s = BARS_PER_FETCH, len(SYMBOLS)
        self.new = int(rng.integers(NEW_BARS[0], NEW_BARS[1] + 1))
        self.overlap = b - self.new  # per symbol
        self.bars = b + self.new  # per symbol, both cycles
        self.unique = self.bars * s
        self.redeliver = int(round(self.unique * rng.uniform(0.10, 0.20)))
        self.file_seed = int(rng.integers(0, 2**31))
        self.stamps = [
            (anchor + dt.timedelta(minutes=5 * i)).strftime("%Y-%m-%d %H:%M:%S")
            for i in range(self.bars)
        ]
        self.series = {}
        for sym in SYMBOLS:
            steps = rng.normal(0.0, 0.002, self.bars)
            close = rng.uniform(50.0, 500.0) * np.exp(np.cumsum(steps))
            opn = np.concatenate([[close[0]], close[:-1]])
            wick = rng.uniform(0.0, 0.003, (2, self.bars))
            high = np.maximum(opn, close) * (1 + wick[0])
            low = np.minimum(opn, close) * (1 - wick[1])
            vol = rng.integers(1_000, 100_000, self.bars)
            self.series[sym] = (opn, high, low, close, vol)

    def payloads(self, cycle: int) -> list[tuple[str, str]]:
        """(symbol, payload JSON) rows of one REST fetch cycle."""
        lo = 0 if cycle == 1 else self.new
        rows = []
        for sym in SYMBOLS:
            opn, high, low, close, vol = self.series[sym]
            bars = {
                self.stamps[i]: {
                    "1. open": f"{opn[i]:.4f}",
                    "2. high": f"{high[i]:.4f}",
                    "3. low": f"{low[i]:.4f}",
                    "4. close": f"{close[i]:.4f}",
                    "5. volume": str(int(vol[i])),
                }
                for i in range(lo, lo + BARS_PER_FETCH)
            }
            rows.append((sym, json.dumps({SERIES_KEY: bars})))
        return rows

    def message_files(self, messages: list[str]) -> list[list[str]]:
        """Split the wire messages into N_FILES files and plant the
        redeliveries, each in its original's file or a later one."""
        rng = np.random.default_rng(self.file_seed)
        order = rng.permutation(len(messages))
        files = [[] for _ in range(N_FILES)]
        home = np.empty(len(messages), dtype=int)
        for pos, idx in enumerate(order):
            f = pos * N_FILES // len(messages)
            files[f].append(messages[idx])
            home[idx] = f
        for idx in rng.choice(len(messages), self.redeliver, replace=False):
            files[int(rng.integers(home[idx], N_FILES))].append(messages[idx])
        return files

from __future__ import annotations

import os
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from stockpulse_spark.plans import REGISTRY  # noqa: E402
from stockpulse_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from stockpulse_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = Path(SF_DIR) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def query_rows(spark, name: str, sf: str = SF_DIR):
    """Collected rows of the registry query `name` at `sf`."""
    return REGISTRY[name].builder(spark, sf).collect()


def executed_plan(spark, query, sf: str = SF_DIR) -> str:
    """Executed physical-plan string of `query`: a DataFrame, or the
    name of a registry query built at `sf`."""
    df = REGISTRY[query].builder(spark, sf) if isinstance(query, str) else query
    return df._jdf.queryExecution().executedPlan().toString()


def write_documents(sf_dir: str, rows) -> None:
    """Write a documents table; rows: (doc_id, text, lang, source)."""
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array(
                [len(r[1]) if r[1] is not None else None for r in rows],
                pa.int64(),
            ),
        }
    )
    pq.write_table(tbl, os.path.join(sf_dir, "documents.parquet"))

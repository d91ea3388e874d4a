"""Canonical schemas.

The reference's single logical dataset is an OHLCV bar keyed by
(symbol, timestamp), materialized as BigQuery tables with explicit DDL
(reference: src/loader/bigquery_loader.py:62-85). Here the same shapes
are StructTypes; table-per-symbol becomes ONE table with a `symbol`
column (partition pruning replaces table routing — SURVEY §1.4).

Dates/times are real DateType/strings-with-format, not the reference's
lossy STRING round-trip (src/loader/bigquery_loader.py:70-71).
"""

from __future__ import annotations

from pyspark.sql import types as T

# raw bars — reference "{table}_raw" schema (bigquery_loader.py:77-85)
BARS_RAW = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("open", T.DoubleType(), True),
        T.StructField("high", T.DoubleType(), True),
        T.StructField("low", T.DoubleType(), True),
        T.StructField("close", T.DoubleType(), True),
        T.StructField("volume", T.LongType(), True),
    ]
)

# processed bars — reference "{table}" schema (bigquery_loader.py:62-74),
# + the producer-computed derived columns shipped in stream messages
# (stocks_pipeline.py:62-81)
BARS_PROCESSED = T.StructType(
    list(BARS_RAW.fields)
    + [
        T.StructField("date", T.DateType(), True),
        T.StructField("time", T.StringType(), True),
        T.StructField("moving_average", T.DoubleType(), True),
        T.StructField("cumulative_average", T.DoubleType(), True),
    ]
)

# flat stream message — one JSON object per bar (stocks_pipeline.py:62-78);
# timestamp as string in the wire format, parsed on read
STREAM_MESSAGE = T.StructType(
    [
        T.StructField("timestamp", T.StringType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("open", T.DoubleType(), True),
        T.StructField("high", T.DoubleType(), True),
        T.StructField("low", T.DoubleType(), True),
        T.StructField("close", T.DoubleType(), True),
        T.StructField("volume", T.LongType(), True),
        T.StructField("date", T.StringType(), True),
        T.StructField("time", T.StringType(), True),
        T.StructField("moving_average", T.DoubleType(), True),
        T.StructField("cumulative_average", T.DoubleType(), True),
    ]
)

# driver testdata tables (TESTDATA.md)
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

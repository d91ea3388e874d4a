"""Scale replicator: copy an sf dir N times larger with decorrelated
keys, for measuring how queries scale.

Every table grows N-fold along new key ranges per replica (more users,
more documents, more orders: the scale-OUT axis a real 100 TB corpus
grows along, rather than longer per-key series), with text suffixed
per replica so the dedup workload stays realistic instead of finding
N planted copies of everything.  `tools/probe.py --scale N` profiles
queries on the original and the copy and reports per-metric ratios:
a time or shuffle ratio of ~N is linear (scan/shuffle bound); well
below N means fixed overhead still dominates at this size; well above
N means something super-linear snuck in — the regression the
replicator exists to catch.
"""

from __future__ import annotations

import os
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from stockpulse_spark.sources.tables import load_table  # noqa: E402


def _rotate_text(col, i):
    """Decorrelate replica i's text from the original: suffix every
    word with the replica id.  Round 8 replaced the previous circular
    ROTATION, which failed at its stated purpose — a rotation keeps
    every word n-gram except the 2-3 seam shingles, so each replica
    was a >0.9-Jaccard near-dup of its original and the 10x corpus
    carried ~1M planted near-dup pairs (doc_minhash_lsh alone took 23
    minutes at sf1 and the exact-Jaccard oracles hours).  Suffixing
    shares NO terms or shingles across replicas: each replica keeps
    the original's internal duplicate/quality structure (that is the
    workload), per-doc lengths are preserved, and the vocabulary
    grows ~linearly with replication — which is also the honest
    Heaps'-law shape for the vocabulary-sized frames.  The planted
    boilerplate banner is applied AFTER this, so the hot shared
    bucket the LSH cap guards against is still planted identically
    in every replica.  `i` is the replica-index COLUMN (round 9)."""
    w = F.split(col, " ")
    suffix = F.concat(F.lit("_"), i.cast("string"))
    return F.when(i == 0, col).otherwise(
        F.concat_ws(
            " ",
            F.transform(w, lambda x: F.concat(x, suffix)),
        )
    )


def _replicate(df: DataFrame, n: int, exprs) -> DataFrame:
    """Nx replication as ONE crossJoin with a replica-index frame.

    Round 9 replaced the n-way unionAll: at the new 1000x decade tier
    a 1000-branch Union plan costs Catalyst minutes of analysis and
    megabytes of plan, while `input CROSS JOIN range(n)` is a single
    plan node at ANY n.  `exprs(i)` receives the replica index as a
    COLUMN; all existing per-replica arithmetic (`key + K * i`) and
    the word-suffix rotation work unchanged on columns, producing
    content identical to the union form (verified at 10x: counts,
    key offsets, banner plant, suffix rotation, embedding reversal,
    and oracle hash-parity on the result).  The n-row replica frame
    is broadcast."""
    rep = (
        df.sparkSession.range(n)
        .select(F.col("id").cast("long").alias("__rep"))
    )
    out = df.crossJoin(F.broadcast(rep)).select(*exprs(F.col("__rep")))
    return _ntz(out)


def _ntz(df: DataFrame) -> DataFrame:
    """Write-side twin of load_table's normalize: cast every timestamp
    column to TIMESTAMP_NTZ before writing, so the parquet footer says
    isAdjustedToUTC=false exactly like the driver's testdata.  Without
    this, Spark writes UTC-adjusted micros and DuckDB reads the
    replica as TIMESTAMPTZ — every rendered ts cell grows a '+00:00'
    and the oracle compare fails on ts-bearing outputs even though
    the instants are identical."""
    from pyspark.sql import types as T

    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp_ntz"))
    return df


def build_big_dir(
    spark, src: str, n: int, catalog_growth: bool = False,
    tables: set[str] | None = None,
) -> str:
    """Replicate the sf dir Nx.  Two axes:

    - default: facts and entities grow, the part/supplier CATALOG is
      held fixed (the axis a warehouse grows along when the business
      sells the same products to more customers).  Under it, per-part
      document frequency grows ~Nx, so df-capped inverted indexes
      (customer_cf_neighbors) legitimately empty out — the cap is
      doing its job against catalog-fixed densification.
    - catalog_growth=True (round-9 verdict item 4): part/supplier keys
      grow WITH the facts (replica i's lineitem references replica
      i's parts), modeling the scale-OUT corpus where assortment grows
      with volume.  Per-part df stays ~constant, the df-capped index
      SURVIVES, and the candidate join's growth on this axis is the
      measurement that proves the CF shape linear where it is meant
      to operate.
    """
    out = tempfile.mkdtemp(
        prefix=f"sp_scale{n}x_{'cat_' if catalog_growth else ''}"
    )
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    def _want(t: str) -> bool:
        # tables=None replicates everything; a set restricts the build
        # (the 1000x decade tier skips the 1B-row events write when no
        # events query is in the subset — ~30 GB of parquet for nothing)
        return tables is None or t in tables

    if _want("events"):
        ev = load_table(spark, src, "events")
        _replicate(
            ev, n,
            lambda i: [
                (F.col("event_id") + 10_000_000 * i).alias("event_id"),
                F.col("ts"),
                (F.col("user_id") + 10_000 * i).alias("user_id"),
                "event_type", "value", "props",
            ],
        ).write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))

    if _want("documents"):
        docs = load_table(spark, src, "documents")
        # planted hot boilerplate bucket: ~2% of docs in every replica get
        # one shared crawl-banner text, so at Nx the banner bucket holds
        # ~0.02*N*|docs| members — far past the LSH bucket cap. The
        # doc_minhash_lsh / doc_dedup_funnel ratios below stay near-linear
        # only because minhash_lsh_pairs drops that bucket before the
        # self-join; without the cap the banner alone contributes
        # O((0.02*N*|docs|)^2) candidate pairs.
        banner = " ".join(f"accept cookies privacy banner w{j}" for j in range(12))
        boiler = F.col("doc_id") % 50 == 0
        _replicate(
            docs, n,
            lambda i: [
                (F.col("doc_id") + 100_000 * i).alias("doc_id"),
                F.when(boiler, F.lit(banner))
                .otherwise(_rotate_text(F.col("text"), i))
                .alias("text"),
                "lang", "source", "n_chars",
            ],
        ).write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))

    if _want("embeddings"):
        emb = load_table(spark, src, "embeddings")
        _replicate(
            emb, n,
            lambda i: [
                (F.col("vec_id") + 100_000 * i).alias("vec_id"),
                # reverse every other replica so vectors decorrelate
                F.when(i % 2 == 1, F.reverse("embedding"))
                .otherwise(F.col("embedding"))
                .alias("embedding"),
                "label",
            ],
        ).write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))

    _part_off = 1_000_000 if catalog_growth else 0
    _supp_off = 100_000 if catalog_growth else 0
    if _want("lineitem"):
        li = load_table(spark, src, "lineitem")
        _replicate(
            li, n,
            lambda i: [
                (F.col("l_orderkey") + 10_000_000 * i).alias("l_orderkey"),
                (F.col("l_partkey") + _part_off * i).alias("l_partkey"),
                (F.col("l_suppkey") + _supp_off * i).alias("l_suppkey"),
                "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
                "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
            ],
        ).write.mode("overwrite").parquet(os.path.join(out, "lineitem.parquet"))

    if _want("orders"):
        orders = load_table(spark, src, "orders")
        _replicate(
            orders, n,
            lambda i: [
                (F.col("o_orderkey") + 10_000_000 * i).alias("o_orderkey"),
                (F.col("o_custkey") + 1_000_000 * i).alias("o_custkey"),
                "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
            ],
        ).write.mode("overwrite").parquet(os.path.join(out, "orders.parquet"))

    if _want("customer"):
        cust = load_table(spark, src, "customer")
        _replicate(
            cust, n,
            lambda i: [
                (F.col("c_custkey") + 1_000_000 * i).alias("c_custkey"),
                "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
            ],
        ).write.mode("overwrite").parquet(os.path.join(out, "customer.parquet"))

    if catalog_growth:
        part = load_table(spark, src, "part")
        _replicate(
            part, n,
            lambda i: [
                (F.col("p_partkey") + _part_off * i).alias("p_partkey"),
                "p_name", "p_brand", "p_type", "p_size", "p_retailprice",
            ],
        ).write.mode("overwrite").parquet(os.path.join(out, "part.parquet"))
        supp = load_table(spark, src, "supplier")
        _replicate(
            supp, n,
            lambda i: [
                (F.col("s_suppkey") + _supp_off * i).alias("s_suppkey"),
                "s_name", "s_nationkey", "s_acctbal",
            ],
        ).write.mode("overwrite").parquet(
            os.path.join(out, "supplier.parquet")
        )
    fixed_dims = (
        ("nation", "region")
        if catalog_growth
        else ("supplier", "part", "nation", "region")
    )
    for dim in fixed_dims:
        p = os.path.join(src, f"{dim}.parquet")
        if os.path.exists(p):
            _ntz(load_table(spark, src, dim)).write.mode(
                "overwrite"
            ).parquet(os.path.join(out, f"{dim}.parquet"))
    return out

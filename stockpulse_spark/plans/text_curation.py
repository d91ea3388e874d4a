"""Training-corpus curation over `documents`: text statistics and
language ID, quality rules (Gopher, fluency, repetition, PII and
blocklists), tokenizer statistics, corpus-level distributions,
sampling, mixtures, chunking and packing, and the composed
training-data pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stockpulse_spark.functions.nullsafe import corr_nn
from stockpulse_spark.llmdata.hashing import hex_to_int_sql, word32_sql
from stockpulse_spark.llmdata.pii import add_pii_columns
from stockpulse_spark.llmdata.textstats import (
    LANG_STOPWORDS,
    TOKEN_PATTERN,
    add_text_stats,
)
from stockpulse_spark.operators.rank import (
    with_global_rank,
    with_grouped_global_rank,
    with_grouped_running_sum,
)
from stockpulse_spark.operators.topk import salted_grouped_topk
from stockpulse_spark.plans.registry import _r6, _register, _t


_SHINGLES_DUCK = (
    "list_distinct(list_transform(range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1), "
    "i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')))"
)


# ---------------------------------------------------------------------------
# text analysis

_LANG_STOPWORDS_SQL = {k: ", ".join(f"'{w}'" for w in v) for k, v in LANG_STOPWORDS.items()}
_HITS = {
    lang: f"len(list_filter(string_split(text, ' '), w -> list_contains([{_LANG_STOPWORDS_SQL[lang]}], w)))"
    for lang in LANG_STOPWORDS
}
_LANG_CASE = "CASE WHEN __m = 0 THEN 'unknown' " + " ".join(
    f"WHEN __h_{lang} = __m THEN '{lang}'" for lang in sorted(LANG_STOPWORDS)
) + " ELSE 'unknown' END"


@_register(
    "doc_text_stats",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text,
             len(string_split(text, ' ')) AS token_count_ws,
             len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS token_count_bpe,
             length(text) AS n_chars,
             length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_punct,
             {_HITS['en']} AS n_stop,
             len(list_distinct(string_split(text, ' '))) AS n_unique,
             {" , ".join(f"{_HITS[lang]} AS __h_{lang}" for lang in sorted(LANG_STOPWORDS))}
      FROM documents
    ), feat AS (
      SELECT *,
             token_count_ws AS n_words,
             greatest({", ".join("__h_" + lang for lang in sorted(LANG_STOPWORDS))}) AS __m
      FROM base
    )
    SELECT doc_id, token_count_ws, token_count_bpe, n_chars,
           ROUND(n_punct / nullif(n_chars, 0), 6) AS punct_ratio,
           ROUND(n_stop / nullif(n_words, 0), 6) AS stopword_ratio,
           ROUND((n_chars - (n_words - 1)) / nullif(n_words, 0), 6)
             AS mean_word_len,
           ROUND(n_unique / nullif(n_words, 0), 6) AS unique_ratio,
           ROUND(0.4 * least(n_words / 100.0, 1.0)
                 + 0.3 * (n_stop / nullif(n_words, 0))
                 + 0.3 * (n_unique / nullif(n_words, 0)), 6)
             AS quality_score,
           {_LANG_CASE} AS lang_guess,
           md5(text) AS fp_md5,
           list_min(list_transform({_SHINGLES_DUCK}, s -> md5(s))) AS fp_min_shingle
    FROM feat
    """,
    headline=True,
    tags=("llmdata", "text"),
    doc="language-ID (stopword-hit argmax), quality scoring "
    "(length/punct/stopword/uniqueness ratios), whitespace + BPE-ish "
    "token counting, md5 + min-shingle fingerprints — one codegen'd "
    "projection pass, no UDFs.",
)
def q_doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    out = add_text_stats(d)
    return out.select(
        "doc_id",
        "token_count_ws",
        "token_count_bpe",
        "n_chars",
        _r6(F.col("punct_ratio")).alias("punct_ratio"),
        _r6(F.col("stopword_ratio")).alias("stopword_ratio"),
        _r6(F.col("mean_word_len")).alias("mean_word_len"),
        _r6(F.col("unique_ratio")).alias("unique_ratio"),
        _r6(F.col("quality_score")).alias("quality_score"),
        "lang_guess",
        "fp_md5",
        "fp_min_shingle",
    )


@_register(
    "corpus_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), stats AS (
      SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
      FROM toks GROUP BY term
    ), ranked AS (
      SELECT term, tf, df,
             ROW_NUMBER() OVER (ORDER BY tf DESC, term) AS rank
      FROM stats
    )
    SELECT CAST(rank AS INTEGER) AS rank, term, tf, df
    FROM ranked WHERE rank <= 20
    """,
    tags=("llmdata", "text", "agg"),
    doc="corpus heavy hitters: global top-20 terms by frequency with "
    "document frequency — the vocabulary/contamination audit every "
    "corpus build runs. Explode → one partial-agg shuffle on term → "
    "TakeOrdered top-k (no global sort). At 100 TB the exact form "
    "needs the one term shuffle; the sketch alternative "
    "(count-min + heap) drops the shuffle at the cost of ±εN error.",
)
def q_corpus_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    stats = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df")
    )
    # orderBy().limit(k) plans as TakeOrderedAndProject — each task
    # keeps a k-row heap, the driver merges 32 heaps.  The earlier
    # row_number() form funneled EVERY distinct term (billions at
    # 100 TB) through one WindowExec task.  The rank window below
    # runs on the 20 surviving rows only — metadata-sized.
    top = stats.orderBy(F.desc("tf"), F.asc("term")).limit(20)
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.col("tf").desc(), "term"))
        .cast("int")
        .alias("rank"),
        "term",
        "tf",
        "df",
    )


_CMS_D, _CMS_W = 4, 256


def _cms_hash_sql(r: int) -> str:
    """Bucket of `term` in sketch row r — ONE expression string valid
    in both dialects (md5-derived, llmdata/hashing.py)."""
    from stockpulse_spark.llmdata.hashing import word32_sql

    inner = "concat('cms%d|', term)" % r
    return "(%s %% %d)" % (word32_sql(inner), _CMS_W)


@_register(
    "term_counts_cms",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ), pairs AS (
      {" UNION ALL ".join(
          f"SELECT term, {r} AS r, {_cms_hash_sql(r)} AS bucket FROM toks"
          for r in range(_CMS_D)
      )}
    ), cms AS (
      SELECT r, bucket, COUNT(*) AS cnt FROM pairs GROUP BY r, bucket
    ), true_tf AS (
      SELECT term, COUNT(*) AS tf FROM toks GROUP BY term
    ), top AS (
      SELECT term, tf FROM true_tf ORDER BY tf DESC, term LIMIT 20
    ), probe AS (
      {" UNION ALL ".join(
          f"SELECT term, tf, {r} AS r, {_cms_hash_sql(r)} AS bucket FROM top"
          for r in range(_CMS_D)
      )}
    )
    SELECT p.term, MAX(p.tf) AS true_tf,
           MIN(c.cnt) AS cms_estimate,
           MIN(c.cnt) - MAX(p.tf) AS overestimate
    FROM probe p JOIN cms c ON p.r = c.r AND p.bucket = c.bucket
    GROUP BY p.term
    """,
    tags=("llmdata", "sketch", "agg"),
    doc=f"count-min sketch as a pure DataFrame composition: every "
    f"term hashes into {_CMS_D} rows × {_CMS_W} buckets (md5-derived "
    "buckets, so the sketch is deterministic and oracle-checkable — "
    "the reason this novel-sketch demo can sit in the correctness "
    "gate at all), bucket counts form the sketch in ONE partial-agg "
    "shuffle of fixed size d·w regardless of corpus size, and the "
    "top-20 exact terms probe it with estimate = min over rows. "
    "overestimate ≥ 0 always (CMS guarantee, asserted in "
    "tests/test_approx.py); at 100 TB the sketch is the "
    "frequency-query structure you keep when the exact term table "
    "no longer fits.",
)
def q_term_counts_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _t(spark, sf_dir, "documents")
        .select("text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # NOTE (optimization r11): the sketch pass and the exact-tf pass
    # both read the exploded token stream, but pinning it measured a
    # LOSS (1.27 -> 1.36 s interleaved A/B at sf0.1): materializing
    # one row per token costs more than re-running the scan + split,
    # and both consumers partial-aggregate immediately. Deliberately
    # left as two passes.
    toks = docs.select(F.explode(F.split("text", " ")).alias("term"))
    rb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    F.expr(_cms_hash_sql(r)).alias("bucket"),
                )
                for r in range(_CMS_D)
            ]
        )
    ).alias("rb")
    cms = (
        toks.select(rb)
        .groupBy("rb.r", "rb.bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    true_tf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    top = true_tf.orderBy(F.col("tf").desc(), "term").limit(20)
    probe = top.select("term", "tf", rb).select(
        "term", "tf", F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket")
    )
    return (
        probe.join(F.broadcast(cms), ["r", "bucket"])
        .groupBy("term")
        .agg(
            F.max("tf").alias("true_tf"),
            F.min("cnt").alias("cms_estimate"),
            (F.min("cnt") - F.max("tf")).alias("overestimate"),
        )
    )


@_register(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ), ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rank
      FROM scored
    )
    SELECT doc_id, rank, term, ROUND(tfidf, 6) AS tfidf
    FROM ranked WHERE rank <= 3
    """,
    tags=("llmdata", "text", "agg"),
    doc="TF-IDF top-3 terms per document: explode → per-doc term "
    "counts + corpus document frequencies (two partial-agg shuffles "
    "over the term key) → smoothed idf ln((N+1)/(df+1)) → per-doc "
    "top-k. The shape of every bag-of-words corpus statistic at "
    "scale; the df table is the only corpus-wide state and it is "
    "vocabulary-sized — corpus-SUBLINEAR but Heaps'-law unbounded "
    "(1e8+ terms at 100 TB), so the tf-df join carries NO broadcast "
    "hint: AQE broadcasts at test scale and falls back to a shuffle "
    "hash join on the term key at corpus scale. Only the 1-row "
    "n_docs scalar is hinted.",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", _r6(F.col("tfidf")).alias("tfidf"))
    )


# ---------------------------------------------------------------------------
# Training-data pipeline operators over `documents` — the steps
# between a cleaned corpus and a tokenizer-ready dataset: chunking,
# sequence packing, deterministic stratified sampling, and rule-based
# quality filtering. All pure Column expressions (whole-stage codegen,
# zero Python in the row path) with exact DuckDB oracles.
#
# Scale notes: chunking is a per-row explode (no shuffle); packing is
# one window per source partition; sampling is stateless hash math at
# scan speed; the filter is a scan-level predicate — every one of these
# runs at 100 TB as a map-side pass except packing's single sort.


# chunking parameters: 32-word chunks, 8-word overlap → stride 24
_CHUNK, _STRIDE = 32, 24
_PACK_BUDGET = 512  # tokens per packed sequence
_N_WORDS = "len(string_split(text, ' '))"


@_register(
    "doc_chunking",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id, text, {_N_WORDS} AS n,
             unnest(range(1, {_N_WORDS} + 1, {_STRIDE})) AS st
      FROM documents
    )
    SELECT doc_id,
           CAST((st - 1) / {_STRIDE} AS INTEGER) AS chunk_idx,
           CAST(least({_CHUNK}, n - st + 1) AS INTEGER) AS n_tokens,
           array_to_string((string_split(text, ' '))[st:st + {_CHUNK} - 1], ' ')
             AS chunk_text
    FROM ex
    """,
    tags=("llmdata", "pipeline"),
    doc=f"fixed-size document chunking with overlap ({_CHUNK}-word "
    f"chunks, {_STRIDE}-word stride): sequence() of chunk starts → "
    "explode → slice. The canonical pre-tokenization step for "
    "long-document training data. Pure narrow transformation — no "
    "shuffle at any scale; output rows ≈ input tokens / stride.",
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split("text", " ")
    n = F.size(w)
    ex = d.select(
        "doc_id",
        "text",
        n.alias("n"),
        F.explode(F.sequence(F.lit(1), n, F.lit(_STRIDE))).alias("st"),
    )
    w2 = F.split("text", " ")
    return ex.select(
        "doc_id",
        ((F.col("st") - 1) / _STRIDE).cast("int").alias("chunk_idx"),
        F.least(F.lit(_CHUNK), F.col("n") - F.col("st") + 1)
        .cast("int")
        .alias("n_tokens"),
        F.concat_ws(" ", F.slice(w2, F.col("st"), F.lit(_CHUNK))).alias(
            "chunk_text"
        ),
    )


@_register(
    "doc_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_N_WORDS} AS n_tokens FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM toks
    )
    SELECT doc_id, source, n_tokens,
           CAST(floor(cum_before / {_PACK_BUDGET}) AS BIGINT) AS pack_id,
           CAST(cum_before % {_PACK_BUDGET} AS BIGINT) AS offset_in_pack
    FROM c
    """,
    tags=("llmdata", "pipeline"),
    doc=f"greedy sequence packing (concat-then-split at a "
    f"{_PACK_BUDGET}-token budget): exclusive running token count per "
    "source stream → pack_id = cum/budget, offset = cum%budget — the "
    "standard streaming packer that wastes at most one document "
    "boundary per pack. Integer arithmetic end-to-end so the oracle "
    "is bit-exact. The exclusive cumsum rides "
    "operators/rank.py::with_grouped_running_sum (range repartition "
    "on (source, doc_id) + per-group prefix offsets): a plain "
    "SUM OVER (PARTITION BY source) caps parallelism at |sources| — "
    "~20 tasks each sorting a twentieth of a 100 TB corpus — while "
    "the grouped prefix form keeps every partition a task.",
)
def q_doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = d.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    c = with_grouped_running_sum(
        toks,
        ["source"],
        ["doc_id"],
        "n_tokens",
        out_col="cum_before",
        inclusive=False,
    )
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(F.col("cum_before") / _PACK_BUDGET).alias("pack_id"),
        (F.col("cum_before") % _PACK_BUDGET).alias("offset_in_pack"),
    )


_SAMPLE_HASH = word32_sql("concat('sample|', CAST(doc_id AS VARCHAR(20)))")


# per-stratum keep rate in percent: 5..95 derived from the source number
_RATE = "(10 * (CAST(substr(source, 4, 8) AS INTEGER) % 10) + 5)"


@_register(
    "doc_stratified_sample",
    oracle=f"""
    SELECT doc_id, source,
           CAST({_RATE} AS INTEGER) AS keep_pct
    FROM documents
    WHERE {_SAMPLE_HASH} % 100 < {_RATE}
    """,
    tags=("llmdata", "pipeline", "sampling"),
    doc="deterministic stratified sampling: per-source keep rates "
    "(5%-95%, derived from the source id) applied via an md5-derived "
    "32-bit hash of the doc id — reproducible across engines, runs, "
    "and partitionings, unlike rand()-based sampling. The standard "
    "way a training mix downweights a crawl and upweights curated "
    "sources. Stateless scan-speed predicate; no shuffle.",
)
def q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    h = F.expr(_SAMPLE_HASH)
    rate = F.expr(_RATE)
    return d.filter((h % 100) < rate).select(
        "doc_id", "source", rate.cast("int").alias("keep_pct")
    )


@_register(
    "doc_quality_filter",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             {_N_WORDS} AS n_words,
             length(text) AS n_chars,
             length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_punct,
             len(list_filter(string_split(text, ' '),
                 w -> list_contains(['the','a','of','and','to','is','in'], w)))
               AS n_stop,
             len(list_distinct(string_split(text, ' '))) AS n_unique
      FROM documents
    ), r AS (
      -- nullif mirrors the Spark quality_features guards (empty text);
      -- every rule boolean coalesces to FALSE: a doc with undefined
      -- ratios does not pass, deterministically, on both engines
      SELECT doc_id, n_words,
             (n_chars - (n_words - 1)) / nullif(n_words, 0) AS mean_word_len,
             n_punct / nullif(n_chars, 0) AS punct_ratio,
             n_stop / nullif(n_words, 0) AS stop_ratio,
             n_unique / nullif(n_words, 0) AS unique_ratio
      FROM f
    )
    SELECT doc_id,
           n_words,
           ROUND(mean_word_len, 6) AS mean_word_len,
           ROUND(punct_ratio, 6) AS punct_ratio,
           ROUND(stop_ratio, 6) AS stop_ratio,
           ROUND(unique_ratio, 6) AS unique_ratio,
           coalesce(n_words BETWEEN 10 AND 10000, FALSE) AS r_len,
           coalesce(mean_word_len BETWEEN 2 AND 12, FALSE) AS r_word_len,
           coalesce(stop_ratio >= 0.03, FALSE) AS r_stop,
           coalesce(punct_ratio <= 0.3, FALSE) AS r_punct,
           coalesce(unique_ratio >= 0.3, FALSE) AS r_unique,
           coalesce((n_words BETWEEN 10 AND 10000)
             AND (mean_word_len BETWEEN 2 AND 12)
             AND stop_ratio >= 0.03
             AND punct_ratio <= 0.3
             AND unique_ratio >= 0.3, FALSE) AS passes
    FROM r
    """,
    tags=("llmdata", "pipeline", "quality"),
    doc="rule-based corpus filtering in the shape of the public "
    "Gopher/C4 cleaning rules: word-count bounds, mean-word-length "
    "band, minimum stopword ratio, punctuation cap, uniqueness floor "
    "— each rule surfaced as its own boolean (so a pipeline can audit "
    "WHY a document fell out) plus the conjunction. Rule predicates "
    "evaluate on unrounded doubles identically in both engines; "
    "displayed ratios rounded. Scan-level predicate at any scale.",
)
def q_doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_spark.llmdata.textstats import quality_features

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    f = quality_features(F.col("text"))
    r_len = f["n_words"].between(10, 10000)
    r_word_len = f["mean_word_len"].between(2, 12)
    r_stop = f["stopword_ratio"] >= 0.03
    r_punct = f["punct_ratio"] <= 0.3
    r_unique = f["unique_ratio"] >= 0.3
    return d.select(
        "doc_id",
        f["n_words"].cast("long").alias("n_words"),
        _r6(f["mean_word_len"]).alias("mean_word_len"),
        _r6(f["punct_ratio"]).alias("punct_ratio"),
        _r6(f["stopword_ratio"]).alias("stop_ratio"),
        _r6(f["unique_ratio"]).alias("unique_ratio"),
        F.coalesce(r_len, F.lit(False)).alias("r_len"),
        F.coalesce(r_word_len, F.lit(False)).alias("r_word_len"),
        F.coalesce(r_stop, F.lit(False)).alias("r_stop"),
        F.coalesce(r_punct, F.lit(False)).alias("r_punct"),
        F.coalesce(r_unique, F.lit(False)).alias("r_unique"),
        F.coalesce(
            r_len & r_word_len & r_stop & r_punct & r_unique, F.lit(False)
        ).alias("passes"),
    )


@_register(
    "training_data_pipeline",
    oracle=f"""
    WITH passed AS (
      SELECT doc_id, source, text FROM documents
      WHERE {_N_WORDS} BETWEEN 10 AND 10000
        AND (length(text) - ({_N_WORDS} - 1)) / {_N_WORDS} BETWEEN 2 AND 12
        AND len(list_filter(string_split(text, ' '),
              w -> list_contains(['the','a','of','and','to','is','in'], w)))
            / {_N_WORDS} >= 0.03
        AND length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
            / length(text) <= 0.3
        AND len(list_distinct(string_split(text, ' '))) / {_N_WORDS} >= 0.3
    ), kept AS (
      SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM passed
      ) WHERE rn = 1
    ), sampled AS (
      SELECT doc_id, source, text FROM kept
      WHERE {_SAMPLE_HASH} % 100 < {_RATE}
    ), chunks AS (
      SELECT doc_id, source,
             CAST((st - 1) / {_STRIDE} AS INTEGER) AS chunk_idx,
             CAST(least({_CHUNK}, n - st + 1) AS BIGINT) AS n_tokens
      FROM (
        SELECT doc_id, source, text, {_N_WORDS} AS n,
               unnest(range(1, {_N_WORDS} + 1, {_STRIDE})) AS st
        FROM sampled
      )
    ), packed AS (
      SELECT doc_id, source, chunk_idx, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM chunks
    )
    SELECT doc_id, source, chunk_idx, n_tokens,
           CAST(floor(cum_before / {_PACK_BUDGET}) AS BIGINT) AS pack_id,
           CAST(cum_before % {_PACK_BUDGET} AS BIGINT) AS offset_in_pack
    FROM packed
    """,
    tags=("llmdata", "pipeline", "composition"),
    doc="the COMPLETE training-data pipeline as ONE declarative plan: "
    "quality-rule filter (scan-level predicate) → exact dedup keeper "
    "(one shuffle on the md5 key) → deterministic stratified sample "
    "(stateless hash predicate) → overlapping chunking (narrow "
    "explode) → greedy sequence packing (one window per source). "
    "Catalyst fuses the filter/sample/chunk stages into the scan "
    "side of the dedup shuffle — five pipeline stages, two shuffles "
    "total. This is the composition a 100 TB corpus build actually "
    "runs; every stage is individually oracle-checked above and the "
    "composition is oracle-checked here.",
)
def q_training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_spark.llmdata.textstats import quality_features
    from stockpulse_spark.operators.dedup import dedup_keep_latest

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    f = quality_features(F.col("text"))
    passed = d.filter(
        f["n_words"].between(10, 10000)
        & f["mean_word_len"].between(2, 12)
        & (f["stopword_ratio"] >= 0.03)
        & (f["punct_ratio"] <= 0.3)
        & (f["unique_ratio"] >= 0.3)
    )
    # exact dedup, keeper = smallest doc_id per content hash
    kept = (
        dedup_keep_latest(
            passed.withColumn("__k", F.md5(F.encode("text", "utf-8"))).withColumn(
                "__neg", -F.col("doc_id")
            ),
            keys=["__k"],
            order_cols=["__neg"],
        )
        .drop("__k", "__neg")
    )
    sampled = kept.filter((F.expr(_SAMPLE_HASH) % 100) < F.expr(_RATE))
    w = F.split("text", " ")
    n = F.size(w)
    chunks = sampled.select(
        "doc_id",
        "source",
        n.alias("n"),
        F.explode(F.sequence(F.lit(1), n, F.lit(_STRIDE))).alias("st"),
    ).select(
        "doc_id",
        "source",
        ((F.col("st") - 1) / _STRIDE).cast("int").alias("chunk_idx"),
        F.least(F.lit(_CHUNK), F.col("n") - F.col("st") + 1)
        .cast("long")
        .alias("n_tokens"),
    )
    packed = with_grouped_running_sum(
        chunks,
        ["source"],
        ["doc_id", "chunk_idx"],
        "n_tokens",
        out_col="cum_before",
        inclusive=False,
    )
    return packed.select(
        "doc_id",
        "source",
        "chunk_idx",
        "n_tokens",
        F.floor(F.col("cum_before") / _PACK_BUDGET).alias("pack_id"),
        (F.col("cum_before") % _PACK_BUDGET).alias("offset_in_pack"),
    )


# v2 pipeline: decontamination + temperature-budget sampling stages
_V2_BUDGET = 5_000  # global token budget for the curated sample
# DuckDB 5-gram shingles over whitespace words (inclusive slice i..i+4)
_SHINGLES5_DUCK = (
    "list_transform(range(1, greatest(len(string_split(text, ' ')) - 4, 0) + 1), "
    "i -> array_to_string((string_split(text, ' '))[i:i+4], ' '))"
)


def _v2_oracle() -> str:
    from stockpulse_spark.llmdata.hashing import hex_to_int_sql

    bucket = f"{hex_to_int_sql('md5(text)')} % 100"
    return f"""
    WITH passed AS (
      SELECT doc_id, source, text FROM documents
      WHERE {_N_WORDS} BETWEEN 10 AND 10000
        AND (length(text) - ({_N_WORDS} - 1)) / {_N_WORDS} BETWEEN 2 AND 12
        AND len(list_filter(string_split(text, ' '),
              w -> list_contains(['the','a','of','and','to','is','in'], w)))
            / {_N_WORDS} >= 0.03
        AND length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
            / length(text) <= 0.3
        AND len(list_distinct(string_split(text, ' '))) / {_N_WORDS} >= 0.3
    ), kept AS (
      SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM passed
      ) WHERE rn = 1
    ), b AS (
      SELECT doc_id, source, text, {bucket} AS bucket FROM kept
    ), eval_grams AS (
      SELECT DISTINCT md5(g) AS gh
      FROM b, unnest({_SHINGLES5_DUCK}) AS t(g)
      WHERE bucket >= 90
    ), contaminated AS (
      SELECT DISTINCT tg.doc_id
      FROM (
        SELECT doc_id, md5(g) AS gh
        FROM b, unnest({_SHINGLES5_DUCK}) AS t(g)
        WHERE bucket < 90
      ) tg JOIN eval_grams e ON tg.gh = e.gh
    ), clean AS (
      SELECT doc_id, source, text FROM b
      WHERE bucket < 90
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), per_src AS (
      SELECT source, SUM({_N_WORDS}) AS n_tokens FROM clean GROUP BY source
    ), raw AS (
      SELECT source,
             n_tokens * 1.0 / SUM(n_tokens) OVER () AS raw_share
      FROM per_src
    ), quota AS (
      SELECT source,
             CAST(floor({_V2_BUDGET} * pow(raw_share, 0.3)
                  / SUM(pow(raw_share, 0.3)) OVER ()) AS BIGINT) AS quota
      FROM raw
    ), cum AS (
      SELECT doc_id, source, text,
             SUM({_N_WORDS}) OVER (PARTITION BY source
               ORDER BY md5(text), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ctoks
      FROM clean
    ), sampled AS (
      SELECT c.doc_id, c.source, c.text
      FROM cum c JOIN quota q USING (source)
      WHERE c.ctoks <= q.quota
    ), chunks AS (
      SELECT doc_id, source,
             CAST((st - 1) / {_STRIDE} AS INTEGER) AS chunk_idx,
             CAST(least({_CHUNK}, n - st + 1) AS BIGINT) AS n_tokens
      FROM (
        SELECT doc_id, source, text, {_N_WORDS} AS n,
               unnest(range(1, {_N_WORDS} + 1, {_STRIDE})) AS st
        FROM sampled
      )
    ), packed AS (
      SELECT doc_id, source, chunk_idx, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM chunks
    )
    SELECT doc_id, source, chunk_idx, n_tokens,
           CAST(floor(cum_before / {_PACK_BUDGET}) AS BIGINT) AS pack_id,
           CAST(cum_before % {_PACK_BUDGET} AS BIGINT) AS offset_in_pack
    FROM packed
    """


@_register(
    "training_data_pipeline_v2",
    oracle=_v2_oracle(),
    tags=("llmdata", "pipeline", "composition"),
    doc="the curated training-data pipeline v2, ONE declarative plan "
    "adding the two curation stages v1 lacks: quality filter -> exact "
    "dedup -> 5-gram DECONTAMINATION against the content-keyed "
    "held-out split (gram-hash semi-join, never all-pairs) -> "
    f"TEMPERATURE-BUDGET sampling ({_V2_BUDGET} tokens split by "
    "share^0.3 quotas, md5-priority integer cumsum) -> chunking -> "
    "packing. Catalyst still fuses the narrow stages; the additions "
    "cost one gram-hash shuffle plus source-sized quota broadcasts. "
    "Every stage is individually oracle-checked by its standalone "
    "query (doc_quality_filter, doc_dedup_exact, "
    "decontamination_overlap, doc_token_budget_sample, doc_chunking, "
    "doc_pack_sequences); the composition is oracle-checked here.",
)
def q_training_data_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_spark.llmdata.hashing import hex_to_int_sql
    from stockpulse_spark.llmdata.textstats import quality_features
    from stockpulse_spark.operators.dedup import dedup_keep_latest

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    f = quality_features(F.col("text"))
    passed = d.filter(
        f["n_words"].between(10, 10000)
        & f["mean_word_len"].between(2, 12)
        & (f["stopword_ratio"] >= 0.03)
        & (f["punct_ratio"] <= 0.3)
        & (f["unique_ratio"] >= 0.3)
    )
    kept = (
        dedup_keep_latest(
            passed.withColumn("__k", F.md5(F.encode("text", "utf-8")))
            .withColumn("__neg", -F.col("doc_id")),
            keys=["__k"],
            order_cols=["__neg"],
        )
        .drop("__k", "__neg")
    )
    # pin once per invocation: b (quality filter + exact-dedup window
    # + bucket) is read by the eval-gram pass, the contamination pass
    # and the clean anti-join — unpinned, the regex quality features
    # and the dedup window shuffle re-ran on every branch, and the
    # branch fan-out below multiplies that to ~9 executions
    # (optimization r11)
    b = kept.withColumn(
        "bucket", F.expr(hex_to_int_sql("md5(text)")) % 100
    ).localCheckpoint(eager=False)
    from stockpulse_spark.llmdata.dedup import word_ngrams

    # round 10: zip_with n-grams, md5 over the lambda variable only —
    # the old transform(sequence, slice) re-split the text per gram
    # position (interpreted HOF capture; see llmdata/dedup.word_ngrams)
    grams = F.transform(word_ngrams(F.col("text"), 5), lambda g: F.md5(g))
    eval_grams = (
        b.filter(F.col("bucket") >= 90)
        .select(F.explode(grams).alias("gh"))
        .distinct()
    )
    train = b.filter(F.col("bucket") < 90)
    contaminated = (
        train.select("doc_id", F.explode(grams).alias("gh"))
        .join(F.broadcast(eval_grams), "gh")
        .select("doc_id")
        .distinct()
    )
    # pin the decontaminated set too: the per-source token totals (via
    # quota) and the running-sum sampling pass both read it, and each
    # unpinned read re-ran the contamination join (optimization r11)
    clean = (
        train.join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "source", "text")
        .localCheckpoint(eager=False)
    )
    toks = F.size(F.split("text", " "))
    per_src = clean.groupBy("source").agg(F.sum(toks).alias("n_tokens"))
    wall = Window.partitionBy()
    raw = per_src.select(
        "source",
        (F.col("n_tokens") * 1.0 / F.sum("n_tokens").over(wall)).alias(
            "raw_share"
        ),
    )
    quota = raw.select(
        "source",
        F.floor(
            _V2_BUDGET
            * F.pow("raw_share", 0.3)
            / F.sum(F.pow("raw_share", 0.3)).over(wall)
        )
        .cast("bigint")
        .alias("quota"),
    )
    # both cumsums ride the grouped prefix decomposition — a plain
    # SUM OVER (PARTITION BY source) caps parallelism at |sources|
    cum = with_grouped_running_sum(
        clean.select(
            "doc_id",
            "source",
            "text",
            toks.alias("__tk"),
            F.md5("text").alias("__ord"),
        ),
        ["source"],
        ["__ord", "doc_id"],
        "__tk",
        out_col="ctoks",
        inclusive=True,
    )
    sampled = (
        cum.join(F.broadcast(quota), "source")
        .filter(F.col("ctoks") <= F.col("quota"))
        .select("doc_id", "source", "text")
    )
    w = F.split("text", " ")
    n = F.size(w)
    chunks = sampled.select(
        "doc_id",
        "source",
        n.alias("n"),
        F.explode(F.sequence(F.lit(1), n, F.lit(_STRIDE))).alias("st"),
    ).select(
        "doc_id",
        "source",
        ((F.col("st") - 1) / _STRIDE).cast("int").alias("chunk_idx"),
        F.least(F.lit(_CHUNK), F.col("n") - F.col("st") + 1)
        .cast("long")
        .alias("n_tokens"),
    )
    packed = with_grouped_running_sum(
        chunks,
        ["source"],
        ["doc_id", "chunk_idx"],
        "n_tokens",
        out_col="cum_before",
        inclusive=False,
    )
    return packed.select(
        "doc_id",
        "source",
        "chunk_idx",
        "n_tokens",
        F.floor(F.col("cum_before") / _PACK_BUDGET).alias("pack_id"),
        (F.col("cum_before") % _PACK_BUDGET).alias("offset_in_pack"),
    )


@_register(
    "doc_train_test_split",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, n_chars,
             {hex_to_int_sql("md5(text)")} % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY 1 ORDER BY split
    """,
    tags=("llmdata", "sample"),
    doc="Deterministic 80/10/10 train/val/test split keyed on the "
    "md5 of the CONTENT (not the id): identical text always lands in "
    "the same split, so exact duplicates can never leak from train "
    "into test — the property an id-keyed split loses after any "
    "re-ingestion. Pure Column expressions, one partial-agg shuffle "
    "of three groups; the md5-derived bucket is the repo-wide "
    "cross-engine hashing recipe (llmdata/hashing.py).",
)
def q_doc_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    b = d.select(
        "n_chars",
        (
            F.expr(hex_to_int_sql("md5(text)")) % 100
        ).alias("bucket"),
    )
    split = (
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "val")
        .otherwise("test")
    )
    return (
        b.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Second analytics wave: cross-series finance statistics (rolling
# correlation against the market, cross-sectional z-score/rank) and
# corpus-statistics quality signals (unigram log-probability fluency,
# out-of-vocabulary ratio).
#
# Reference parity: the reference's dashboard is strictly per-symbol
# (app/dashboard.py computes each indicator on one symbol's frame);
# cross-series statistics are the first thing a quant user asks of a
# warehouse that holds ALL symbols — and the LLM-data brief makes
# corpus-level quality scoring first-class.


@_register(
    "doc_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), vocab AS (
      SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
    ), lp AS (
      SELECT term, ln(cnt / (SUM(cnt) OVER ())) AS logprob FROM vocab
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           ROUND(AVG(lp.logprob), 6) AS avg_logprob
    FROM toks t JOIN lp USING (term)
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
    tags=("llmdata", "text", "quality"),
    doc="Unigram language-model fluency score: each document's mean "
    "ln(corpus unigram probability) — the classic cheap perplexity "
    "proxy for quality filtering (low = rare-token gibberish). "
    "Corpus pass = one term-key shuffle into the vocabulary table. "
    "Heaps' law makes that vocabulary corpus-SUBLINEAR but NOT "
    "bounded (~1e8-1e9 distinct whitespace unigrams at 100 TB — "
    "URLs, typos, numbers), so nothing here may broadcast it: the "
    "corpus total is a 1-row scalar aggregate cross-joined back "
    "(broadcast of one row, not of the vocab), and the toks⋈lp "
    "equi-join on `term` is left UNHINTED — AQE broadcasts at test "
    "scale and degrades gracefully to a shuffle hash join on `term` "
    "at 100 TB, which is the scan-shaped plan this query wants.",
)
def q_doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("_total"))
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "term",
        F.log(F.col("cnt") / F.col("_total")).alias("logprob"),
    )
    return (
        toks.join(lp, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            _r6(F.avg("logprob")).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


@_register(
    "doc_oov_ratio",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), vocab AS (
      SELECT term FROM (
        SELECT term, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS r
        FROM toks GROUP BY term
      ) WHERE r <= 30
    ), per_doc AS (
      SELECT t.doc_id,
             COUNT(*) AS n_tokens,
             SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS n_oov
      FROM toks t LEFT JOIN vocab v ON t.term = v.term
      GROUP BY t.doc_id
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           ROUND(AVG(CAST(p.n_oov AS DOUBLE) / p.n_tokens), 6) AS avg_oov_ratio
    FROM per_doc p JOIN documents d USING (doc_id)
    GROUP BY d.source
    ORDER BY d.source
    """,
    tags=("llmdata", "text", "quality"),
    doc="Out-of-vocabulary ratio per source: share of tokens outside "
    "the top-30 corpus vocabulary (deterministic count-then-term "
    "tie-break), averaged by document source — the quality signal "
    "that flags sources drifting from the corpus register. Vocab "
    "top-k is a TakeOrdered over the vocabulary aggregate, then a "
    "broadcast LEFT join marks membership; everything else is "
    "partial-agg shuffles on doc_id/source.",
)
def q_doc_oov_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "term")
        .limit(30)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
    )
    return (
        per_doc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            _r6(
                F.avg(F.col("n_oov").cast("double") / F.col("n_tokens"))
            ).alias("avg_oov_ratio"),
        )
        .orderBy("source")
    )


@_register(
    "doc_fluency_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), vocab AS (
      SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
    ), lp AS (
      SELECT term, ln(cnt / (SUM(cnt) OVER ())) AS logprob FROM vocab
    ), scored AS (
      SELECT t.doc_id, AVG(lp.logprob) AS avg_logprob
      FROM toks t JOIN lp USING (term) GROUP BY t.doc_id
    ), cut AS (
      SELECT quantile_cont(avg_logprob, 0.10) AS p10 FROM scored
    )
    SELECT s.doc_id,
           ROUND(s.avg_logprob, 6) AS avg_logprob,
           ROUND(c.p10, 6) AS threshold,
           s.avg_logprob >= c.p10 AS keep
    FROM scored s CROSS JOIN cut c
    """,
    tags=("llmdata", "text", "quality", "pipeline"),
    doc="CCNet/Gopher-style fluency filter: score each doc by mean "
    "corpus-unigram ln-probability (the cheap perplexity proxy), drop "
    "the bottom decile. The cutoff is a corpus exact percentile "
    "(percentile == DuckDB quantile_cont, proven by "
    "value_percentiles) computed over the doc-level score table — "
    "corpus-cardinality-sized, one extra tiny aggregation — then "
    "broadcast back as a 1-row literal join. The unigram vocabulary "
    "itself is Heaps'-law unbounded (1e8+ terms at 100 TB) so the "
    "toks⋈lp join carries NO broadcast hint (AQE picks broadcast at "
    "test scale, shuffle hash join at corpus scale) and the corpus "
    "total is a 1-row scalar agg cross-joined back, never a window "
    "over the vocabulary. Keeps the whole filter-decision path in "
    "one lazy plan: no driver loop, no second scan of the corpus.",
)
def q_doc_fluency_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("_total"))
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "term",
        F.log(F.col("cnt") / F.col("_total")).alias("logprob"),
    )
    scored = (
        toks.join(lp, "term")
        .groupBy("doc_id")
        .agg(F.avg("logprob").alias("avg_logprob"))
    )
    cut = scored.agg(
        F.expr("percentile(avg_logprob, 0.10)").alias("p10")
    )
    return scored.crossJoin(F.broadcast(cut)).select(
        "doc_id",
        _r6(F.col("avg_logprob")).alias("avg_logprob"),
        _r6(F.col("p10")).alias("threshold"),
        (F.col("avg_logprob") >= F.col("p10")).alias("keep"),
    )


@_register(
    "doc_word_entropy",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), n AS (
      SELECT doc_id, SUM(tf) AS n_tokens FROM tf GROUP BY doc_id
    )
    SELECT tf.doc_id,
           CAST(n.n_tokens AS BIGINT) AS n_tokens,
           -- + 0.0 canonicalizes the single-token doc's -0.0
           -- (-(1*ln 1)) to +0.0 on both engines
           ROUND(-SUM((tf.tf / n.n_tokens) * ln(tf.tf / n.n_tokens)) + 0.0, 6)
             AS word_entropy
    FROM tf JOIN n USING (doc_id)
    GROUP BY tf.doc_id, n.n_tokens
    ORDER BY tf.doc_id
    """,
    tags=("llmdata", "text", "quality"),
    doc="Shannon entropy of each document's word distribution — low "
    "entropy flags repetitive/boilerplate text that length and "
    "stopword ratios miss; complements unigram logprob (which scores "
    "against the CORPUS, entropy scores against the DOC ITSELF). Two "
    "partial-agg shuffles on (doc, term) then doc; no corpus-wide "
    "state at all, so it scales embarrassingly.",
)
def q_doc_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    wn = Window.partitionBy("doc_id")
    # window sum named once (doc total feeds both n_tokens and p)
    t2 = tf.select(
        "doc_id", "tf", F.sum("tf").over(wn).alias("n_tokens")
    )
    p = (F.col("tf") / F.col("n_tokens")).alias("p")
    return (
        t2.select("doc_id", "n_tokens", p)
        .groupBy("doc_id", "n_tokens")
        .agg(
            _r6(-F.sum(F.col("p") * F.log("p")) + 0.0).alias("word_entropy")
        )
        .select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "word_entropy")
        .orderBy("doc_id")
    )


@_register(
    "corpus_heaps_stats",
    oracle="""
    WITH toks AS (
      SELECT d.source, d.doc_id, unnest(string_split(d.text, ' ')) AS term
      FROM documents d
    )
    SELECT source,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_tokens,
           COUNT(DISTINCT term) AS n_distinct_terms,
           ROUND(COUNT(DISTINCT term) * 1.0 / COUNT(*), 6) AS type_token_ratio,
           ROUND(ln(COUNT(DISTINCT term)) / ln(COUNT(*)), 6) AS heaps_beta
    FROM toks GROUP BY source ORDER BY source
    """,
    tags=("llmdata", "text", "agg"),
    doc="Heaps-law corpus profile per source: token/type counts, "
    "type-token ratio, and the implied Heaps exponent "
    "(ln V / ln N, the slope through the origin of the vocabulary-"
    "growth curve) — the corpus-health summary read before sampling "
    "decisions (a source whose vocabulary stopped growing is "
    "template spam). Two-level distinct aggregation: Spark plans "
    "count(DISTINCT term) per group via Expand + two partial-agg "
    "shuffles, never a per-group collect.",
)
def q_corpus_heaps_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "documents")
        .select("source", "doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    toks = d.select(
        "source", "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    return (
        toks.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("term").alias("n_distinct_terms"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_distinct_terms",
            _r6(F.col("n_distinct_terms") * 1.0 / F.col("n_tokens")).alias(
                "type_token_ratio"
            ),
            _r6(
                F.log(F.col("n_distinct_terms") * 1.0)
                / F.log(F.col("n_tokens") * 1.0)
            ).alias("heaps_beta"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Corpus-statistics wave 2: Zipf rank-frequency fit, temperature-
# scaled source sampling weights, and benchmark-decontamination overlap.
#
# Reference parity: these are the curation decisions a training-data
# pipeline makes from corpus statistics — does a source's term
# distribution look natural (Zipf), how hard should each source be
# up/down-sampled (temperature sampling a la multilingual LM training),
# and which train docs collide with the held-out split (n-gram
# decontamination). All pure DataFrame ops; hashing is md5-derived
# (llmdata/hashing.py) so every stage keeps a DuckDB oracle.


@_register(
    "zipf_slope",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), tf AS (
      SELECT source, term, COUNT(*) AS freq FROM toks GROUP BY 1, 2
    ), ranked AS (
      SELECT source, freq,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY freq DESC, term) AS rnk
      FROM tf
    )
    SELECT source,
           COUNT(*) AS n_terms,
           ROUND(regr_slope(ln(freq), ln(rnk)), 6) AS zipf_slope,
           -- corr^2 spelled out instead of regr_r2: Postgres/DuckDB
           -- regr_r2 returns 1.0 when var(y)=0 (every top term at the
           -- same freq) while Spark's corr is 0/0 there; the explicit
           -- total form is NULL in both engines, and Spark's ANSI corr
           -- raise on the same input is avoided (corr_nn twin)
           ROUND(POWER(covar_pop(ln(freq), ln(rnk))
                       / nullif(stddev_pop(ln(freq))
                                * stddev_pop(ln(rnk)), 0), 2), 6)
             AS fit_r2
    FROM ranked WHERE rnk <= 64
    GROUP BY source ORDER BY source
    """,
    tags=("llmdata", "text", "agg"),
    doc="Zipf's-law fit per source: OLS slope and R^2 of ln(freq) ~ "
    "ln(rank) over the top-64 terms. Natural text fits slope ~ -1; a "
    "flat or cliff-shaped curve marks template spam or boilerplate. "
    "Slope = covar_pop/var_pop and R^2 = corr^2 as single-pass "
    "aggregates (Spark's regression moments); R^2 is the explicit "
    "total corr^2 in BOTH engines (regr_r2 diverges on var(y)=0, "
    "see the oracle comment). Rank via one window over "
    "the (source, term) frequency table — vocabulary-sized, tiny next "
    "to the token explode that feeds it, which is map-side partial-"
    "aggregated before its one shuffle.",
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "documents")
        .select("source", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    tf = (
        d.select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("freq").desc(), F.col("term")
    )
    ranked = tf.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 64
    )
    x = F.log(F.col("rnk").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            _r6(F.try_divide(F.covar_pop(y, x), F.var_pop(x))).alias(
                "zipf_slope"
            ),
            _r6(F.pow(corr_nn(y, x), F.lit(2.0))).alias("fit_r2"),
        )
        .orderBy("source")
    )


@_register(
    "source_sampling_weights",
    oracle="""
    WITH per_src AS (
      SELECT source,
             COUNT(*) AS n_docs,
             SUM(len(string_split(text, ' '))) AS n_tokens
      FROM documents GROUP BY source
    ), raw AS (
      SELECT source, n_docs, n_tokens,
             n_tokens * 1.0 / SUM(n_tokens) OVER () AS raw_share
      FROM per_src
    ), shares AS (
      SELECT source, n_docs, n_tokens, raw_share,
             pow(raw_share, 0.3)
               / SUM(pow(raw_share, 0.3)) OVER () AS sampled_share
      FROM raw
    )
    SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(raw_share, 6) AS raw_share,
           ROUND(sampled_share, 6) AS sampled_share,
           ROUND(sampled_share / raw_share, 6) AS oversample_factor
    FROM shares ORDER BY source
    """,
    tags=("llmdata", "sample", "agg"),
    doc="Temperature-scaled source sampling weights (alpha = 0.3, the "
    "multilingual-LM recipe): p_i proportional to share_i^alpha, "
    "renormalised — small sources get oversampled, dominant crawls "
    "damped. One partial-agg shuffle to per-source token counts, then "
    "unpartitioned windows over the SOURCE-count-sized frame (tens of "
    "rows at any data scale — the single-partition window is on "
    "metadata, not data). oversample_factor > 1 tells the sampler to "
    "repeat-epoch that source.",
)
def q_source_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("source", "text")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    w = Window.partitionBy()
    raw_df = per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") * 1.0 / F.sum("n_tokens").over(w)).alias(
            "raw_share"
        ),
    )
    shares = raw_df.select(
        "source",
        "n_docs",
        "n_tokens",
        "raw_share",
        (
            F.pow("raw_share", 0.3)
            / F.sum(F.pow("raw_share", 0.3)).over(w)
        ).alias("sampled_share"),
    )
    return shares.select(
        "source",
        "n_docs",
        "n_tokens",
        _r6(F.col("raw_share")).alias("raw_share"),
        _r6(F.col("sampled_share")).alias("sampled_share"),
        _r6(F.col("sampled_share") / F.col("raw_share")).alias(
            "oversample_factor"
        ),
    ).orderBy("source")


@_register(
    "corpus_drift_jsd",
    oracle=f"""
    WITH b AS (
      SELECT source, text,
             {hex_to_int_sql("md5(text)")} % 100 AS bucket
      FROM documents
    ), toks AS (
      SELECT source, bucket < 50 AS half_a,
             unnest(string_split(text, ' ')) AS term
      FROM b
    ), counts AS (
      SELECT source, term,
             SUM(CASE WHEN half_a THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN half_a THEN 0 ELSE 1 END) AS cb
      FROM toks GROUP BY source, term
    ), tot AS (
      SELECT source, SUM(ca) AS na, SUM(cb) AS nb,
             COUNT(*) AS vocab
      FROM counts GROUP BY source
    ), pq AS (
      SELECT c.source, t.vocab,
             (c.ca + 0.5) / (t.na + 0.5 * t.vocab) AS p,
             (c.cb + 0.5) / (t.nb + 0.5 * t.vocab) AS q
      FROM counts c JOIN tot t USING (source)
    )
    SELECT source, MAX(vocab) AS vocab_size,
           ROUND(0.5 * SUM(p * ln(2 * p / (p + q)))
               + 0.5 * SUM(q * ln(2 * q / (p + q))), 6) AS jsd,
           ROUND(0.5 * SUM(abs(p - q)), 6) AS tv_distance
    FROM pq GROUP BY source ORDER BY source
    """,
    tags=("llmdata", "text", "agg"),
    doc="Distribution-drift detector per source: Jensen-Shannon "
    "divergence and total-variation distance between the unigram "
    "distributions of two content-md5 halves of each source "
    "(add-half smoothing over the union vocabulary). Near-zero = "
    "internally homogeneous source; a spike = mixed registers or an "
    "ingestion regime change — the check run before declaring two "
    "crawls 'the same distribution'. One token-explode shuffle to "
    "(source, term) counts with both halves' counts in ONE row "
    "(conditional sums, so no self-join), then vocabulary-sized "
    "arithmetic.",
)
def q_corpus_drift_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "documents")
        .select(
            "source",
            "text",
            (
                (F.expr(hex_to_int_sql("md5(text)")) % 100) < 50
            ).alias("half_a"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )
    toks = d.select(
        "source", "half_a", F.explode(F.split("text", " ")).alias("term")
    )
    counts = toks.groupBy("source", "term").agg(
        F.sum(F.when(F.col("half_a"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("half_a"), 0).otherwise(1)).alias("cb"),
    )
    tot = counts.groupBy("source").agg(
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
        F.count(F.lit(1)).alias("vocab"),
    )
    p = (F.col("ca") + 0.5) / (F.col("na") + 0.5 * F.col("vocab"))
    q = (F.col("cb") + 0.5) / (F.col("nb") + 0.5 * F.col("vocab"))
    pq = counts.join(F.broadcast(tot), "source").select(
        "source", "vocab", p.alias("p"), q.alias("q")
    )
    return (
        pq.groupBy("source")
        .agg(
            F.max("vocab").alias("vocab_size"),
            _r6(
                0.5
                * F.sum(
                    F.col("p")
                    * F.log(2 * F.col("p") / (F.col("p") + F.col("q")))
                )
                + 0.5
                * F.sum(
                    F.col("q")
                    * F.log(2 * F.col("q") / (F.col("p") + F.col("q")))
                )
            ).alias("jsd"),
            _r6(0.5 * F.sum(F.abs(F.col("p") - F.col("q")))).alias(
                "tv_distance"
            ),
        )
        .orderBy("source")
    )


@_register(
    "source_mixture_temperature",
    oracle="""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ), tot AS (
      SELECT SUM(n_docs) AS n FROM counts
    ), scaled AS (
      SELECT c.source, c.n_docs,
             c.n_docs * 1.0 / t.n AS p_raw,
             pow(c.n_docs * 1.0 / t.n, 0.7) AS p_temp
      FROM counts c CROSS JOIN tot t
    )
    SELECT source, n_docs,
           ROUND(p_raw, 6) AS p_raw,
           ROUND(p_temp / SUM(p_temp) OVER (), 6) AS p_mixture,
           ROUND((p_temp / SUM(p_temp) OVER ()) / p_raw, 6)
             AS upsample_factor
    FROM scaled ORDER BY source
    """,
    tags=("llmdata", "sampling", "agg"),
    doc="temperature-scaled mixture weights (T = 0.7, the multilingual "
    "up/down-sampling scheme of the XLM-R / mT5 corpus recipes): "
    "per-source mass p^T renormalized, plus the resulting "
    "upsample factor vs natural sampling. One partial-agg shuffle on "
    "source; the mixture table is source-cardinality-sized — "
    "broadcastable to whatever sampler consumes it "
    "(doc_weighted_sample_by_source).",
)
def q_source_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = counts.agg(F.sum("n_docs").alias("n"))
    scaled = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        (F.col("n_docs") * 1.0 / F.col("n")).alias("p_raw"),
        F.pow(F.col("n_docs") * 1.0 / F.col("n"), F.lit(0.7)).alias("p_temp"),
    )
    w = Window.partitionBy()
    # window sum named once — p_mix is referenced twice below and
    # Catalyst does not dedup identical window expressions
    mixed = scaled.select(
        "source",
        "n_docs",
        "p_raw",
        (F.col("p_temp") / F.sum("p_temp").over(w)).alias("__pmix"),
    )
    return mixed.select(
        "source",
        "n_docs",
        _r6(F.col("p_raw")).alias("p_raw"),
        _r6(F.col("__pmix")).alias("p_mixture"),
        _r6(F.col("__pmix") / F.col("p_raw")).alias("upsample_factor"),
    ).orderBy("source")


# word 3-gram shingles, DuckDB side (inclusive slice i..i+2)
_D_3GRAMS = (
    "list_transform(range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1), "
    "i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))"
)


@_register(
    "doc_repetition_score",
    oracle=f"""
    WITH per_doc AS (
      SELECT source,
             len({_D_3GRAMS}) AS n_grams,
             len(list_distinct({_D_3GRAMS})) AS n_distinct
      FROM documents
    ), scored AS (
      SELECT source, n_grams,
             CASE WHEN n_grams > 0
                  THEN 1.0 - n_distinct * 1.0 / n_grams
                  ELSE 0.0 END AS rep_ratio
      FROM per_doc
    )
    SELECT source,
           COUNT(*) AS n_docs,
           ROUND(AVG(rep_ratio), 6) AS avg_rep_ratio,
           CAST(SUM(CASE WHEN rep_ratio > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM scored GROUP BY source ORDER BY source
    """,
    tags=("llmdata", "text"),
    doc="Gopher-style repetition filter: per-document duplicated "
    "3-gram fraction (1 - distinct/total word-3-grams), averaged per "
    "source with a >0.2 flag count — the signal that catches "
    "keyword-stuffed and template-generated text that length/"
    "stopword quality features miss. Pure Column expressions over "
    "the in-row token array (no explode, no shuffle before the "
    "per-source agg) — embarrassingly parallel at any scale.",
)
def q_doc_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "documents")
        .select("source", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    from stockpulse_spark.llmdata.dedup import word_ngrams

    # round 10: zip_with n-grams — the old transform(sequence, slice)
    # re-split the text per gram position (interpreted HOF capture)
    grams = word_ngrams(F.col("text"), 3)
    per_doc = d.select(
        "source",
        F.size(grams).alias("n_grams"),
        F.size(F.array_distinct(grams)).alias("n_distinct"),
    )
    rep = F.when(
        F.col("n_grams") > 0,
        1.0 - F.col("n_distinct") * 1.0 / F.col("n_grams"),
    ).otherwise(F.lit(0.0))
    return (
        per_doc.select("source", rep.alias("rep_ratio"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            _r6(F.avg("rep_ratio")).alias("avg_rep_ratio"),
            F.sum(
                F.when(F.col("rep_ratio") > 0.2, 1).otherwise(0)
            ).alias("n_flagged"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Curation wave 3: embedding-space outlier detection, token-budget
# sampling, and week-over-week growth.
#
# Reference parity: embedding_label_outliers is the vector-quality gate
# (mislabeled / out-of-distribution vectors sit far from their label
# centroid); doc_token_budget_sample closes the sampling pipeline opened
# by source_sampling_weights — it materialises the actual per-source doc
# selection under a global token budget; revenue_wow_growth is the
# dashboard's growth tile as one window over a metadata-sized weekly
# rollup.


_BUDGET = 10_000  # global token budget for the sample


@_register(
    "doc_token_budget_sample",
    oracle=f"""
    WITH per_src AS (
      SELECT source, SUM(len(string_split(text, ' '))) AS n_tokens
      FROM documents GROUP BY source
    ), raw AS (
      SELECT source, n_tokens,
             n_tokens * 1.0 / SUM(n_tokens) OVER () AS raw_share
      FROM per_src
    ), sh AS (
      SELECT source,
             pow(raw_share, 0.3)
               / SUM(pow(raw_share, 0.3)) OVER () AS sampled_share
      FROM raw
    ), quota AS (
      SELECT source,
             CAST(floor({_BUDGET} * sampled_share) AS BIGINT) AS quota
      FROM sh
    ), cum AS (
      SELECT source, doc_id,
             len(string_split(text, ' ')) AS toks,
             SUM(len(string_split(text, ' '))) OVER (
               PARTITION BY source ORDER BY md5(text), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ctoks
      FROM documents
    )
    SELECT c.source, q.quota,
           CAST(SUM(CASE WHEN c.ctoks <= q.quota THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_sampled,
           CAST(COALESCE(MAX(CASE WHEN c.ctoks <= q.quota THEN c.ctoks END), 0)
                AS BIGINT) AS tokens_sampled,
           ROUND(COALESCE(MAX(CASE WHEN c.ctoks <= q.quota THEN c.ctoks END), 0)
                 * 1.0 / q.quota, 6) AS utilization
    FROM cum c JOIN quota q USING (source)
    GROUP BY c.source, q.quota
    ORDER BY c.source
    """,
    tags=("llmdata", "sample", "window"),
    doc=f"Token-budget sampler: split a {_BUDGET}-token global budget "
    "across sources by the temperature-scaled weights "
    "(source_sampling_weights, alpha=0.3), then take each source's "
    "docs in content-md5 priority order until the quota is exhausted "
    "— a deterministic, resumable sample (same corpus -> same "
    "sample, no RNG state). One integer cumsum window per source "
    "partition; quotas are SOURCE-count-sized and broadcast. "
    "Utilization < 1 shows quantisation loss to the curator.",
)
def q_doc_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("source", "doc_id", "text")
    toks = F.size(F.split("text", " "))
    per_src = d.groupBy("source").agg(F.sum(toks).alias("n_tokens"))
    w = Window.partitionBy()
    raw = per_src.select(
        "source",
        (F.col("n_tokens") * 1.0 / F.sum("n_tokens").over(w)).alias(
            "raw_share"
        ),
    )
    sh = raw.select(
        "source",
        (
            F.pow("raw_share", 0.3)
            / F.sum(F.pow("raw_share", 0.3)).over(w)
        ).alias("sampled_share"),
    )
    quota = sh.select(
        "source",
        F.floor(_BUDGET * F.col("sampled_share")).cast("bigint").alias(
            "quota"
        ),
    )
    # grouped prefix cumsum (operators/rank.py): the plain per-source
    # window caps parallelism at |sources|
    cum = with_grouped_running_sum(
        d.select(
            "source",
            "doc_id",
            toks.alias("__tk"),
            F.md5("text").alias("__ord"),
        ),
        ["source"],
        ["__ord", "doc_id"],
        "__tk",
        out_col="ctoks",
        inclusive=True,
    ).select("source", "doc_id", "ctoks")
    in_budget = F.when(F.col("ctoks") <= F.col("quota"), F.col("ctoks"))
    return (
        cum.join(F.broadcast(quota), "source")
        .groupBy("source", "quota")
        .agg(
            F.sum(
                F.when(F.col("ctoks") <= F.col("quota"), 1).otherwise(0)
            ).alias("n_docs_sampled"),
            F.coalesce(F.max(in_budget), F.lit(0)).alias("tokens_sampled"),
        )
        .select(
            "source",
            "quota",
            "n_docs_sampled",
            "tokens_sampled",
            _r6(F.col("tokens_sampled") * 1.0 / F.col("quota")).alias(
                "utilization"
            ),
        )
        .orderBy("source")
    )


@_register(
    "doc_weighted_sample",
    oracle=f"""
    SELECT doc_id, source, n_chars,
           ROUND(LN(({word32_sql('text')} + 0.5) / 4294967296.0)
                 / n_chars, 12) AS samp_key
    FROM documents
    WHERE text IS NOT NULL AND n_chars > 0
    ORDER BY samp_key DESC, doc_id
    LIMIT 20
    """,
    tags=("llmdata", "sampling"),
    doc="Efraimidis-Spirakis (A-ES) weighted sample without "
    "replacement: per-doc uniform u derived from the md5 of the "
    "content (cross-engine deterministic, re-ingestion stable), "
    "log-domain key ln(u)/w with w = n_chars, top-k largest keys = a "
    "sample drawn with probability proportional to document length. "
    "The length-weighted draw a token-budgeted mixture builder uses "
    "when it wants docs, not sources, as the sampling unit. Zero "
    "shuffles at any scale: one scan, per-partition top-k, driver "
    "merge of k-row candidates (TakeOrderedAndProject).",
)
def q_doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    h = F.expr(word32_sql("text")).cast("double")
    key = F.log((h + F.lit(0.5)) / F.lit(4294967296.0)) / F.col("n_chars")
    return (
        docs.filter(F.col("text").isNotNull() & (F.col("n_chars") > 0))
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.round(key, 12).alias("samp_key"),
        )
        .orderBy(F.desc("samp_key"), "doc_id")
        .limit(20)
    )


@_register(
    "doc_weighted_sample_by_source",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ROUND(LN(({word32_sql('text')} + 0.5) / 4294967296.0)
                   / n_chars, 12) AS samp_key
      FROM documents
      WHERE text IS NOT NULL AND n_chars > 0
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY samp_key DESC, doc_id) AS rk
      FROM keyed
    )
    SELECT doc_id, source, n_chars, samp_key, rk
    FROM ranked WHERE rk <= 5
    ORDER BY source, rk
    """,
    tags=("llmdata", "sampling", "window"),
    doc="per-source A-ES weighted sample (top-5 per source by the "
    "same ln(u)/w key as doc_weighted_sample). `source` has tiny "
    "cardinality, so a naive PARTITION BY source window would funnel "
    "the full corpus through a handful of reducers; instead a salted "
    "two-stage top-k runs: stage 1 ranks within (source, md5-salt) "
    "buckets — 16x the reducers, each seeing 1/16th of a hot group — "
    "and keeps k rows per bucket; stage 2 ranks the surviving "
    "16*k-per-source candidates exactly. Identical result to the "
    "single-window form at any scale, without the hot-reducer funnel.",
)
def q_doc_weighted_sample_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    h = F.expr(word32_sql("text")).cast("double")
    key = F.round(
        F.log((h + F.lit(0.5)) / F.lit(4294967296.0)) / F.col("n_chars"),
        12,
    )
    keyed = docs.filter(
        F.col("text").isNotNull() & (F.col("n_chars") > 0)
    ).select(
        "doc_id",
        "source",
        "n_chars",
        key.alias("samp_key"),
    )
    return salted_grouped_topk(
        keyed,
        ["source"],
        [F.desc("samp_key"), F.asc("doc_id")],
        5,
        F.expr(word32_sql("CAST(doc_id AS STRING)")),
    ).orderBy("source", "rk")


def _lang_confusion_oracle() -> str:
    from stockpulse_spark.llmdata.textstats import LANG_STOPWORDS

    hits = " , ".join(
        f"{_HITS[lang]} AS __h_{lang}" for lang in sorted(LANG_STOPWORDS)
    )
    mx = ", ".join("__h_" + lang for lang in sorted(LANG_STOPWORDS))
    return f"""
    WITH base AS (
      SELECT lang, text, {hits} FROM documents
    ), feat AS (
      SELECT *, greatest({mx}) AS __m FROM base
    ), g AS (
      SELECT lang, {_LANG_CASE} AS guess FROM feat
    ), counts AS (
      SELECT lang, guess, COUNT(*) AS n FROM g GROUP BY lang, guess
    )
    SELECT lang, guess, n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY lang), 6) AS rate
    FROM counts ORDER BY lang, guess
    """


@_register(
    "lang_id_confusion",
    oracle=_lang_confusion_oracle(),
    tags=("llmdata", "text", "agg"),
    doc="Language-ID evaluation: confusion matrix of the stopword-"
    "argmax guesser (llmdata/textstats.py:lang_guess) against the "
    "corpus's labeled lang column, with per-cell counts and "
    "row-normalized rates. The eval query a curator runs before "
    "trusting a heuristic classifier to route 100 TB — guesses and "
    "labels reduce to a LANGS x LANGS matrix in one conditional "
    "pass; the classifier itself is pure Column expressions in "
    "codegen.",
)
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_spark.llmdata.textstats import lang_guess

    d = (
        _t(spark, sf_dir, "documents")
        .select("lang", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    g = d.select("lang", lang_guess(F.col("text")).alias("guess"))
    counts = g.groupBy("lang", "guess").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("lang")
    return counts.select(
        "lang",
        "guess",
        "n",
        _r6(F.col("n") * 1.0 / F.sum("n").over(w)).alias("rate"),
    ).orderBy("lang", "guess")


# ---------------------------------------------------------------------------
# PII curation queries over the documents corpus.
#
# The synthetic corpus contains no organic PII, so each query first
# derives an `injected` text column by deterministically appending
# email / phone / SSN / URL tokens to a doc_id-keyed subset — the SAME
# string algebra on the Spark side and in the DuckDB oracle — and then
# runs the real detection/redaction operators on it. The oracle therefore
# verifies the regex and replacement SEMANTICS on non-trivial matches,
# not a vacuous all-zeros report.
#
# Operators under test live in llmdata/pii.py (pure Column regex —
# JVM-side, codegen, no UDF).


# deterministic PII injection — keep in exact sync with _INJECT_SQL
_URL_RE = r"https?://[^\s]+"


def _injected(df: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    email = F.when(
        did % 7 == 0,
        F.concat(
            F.lit(" contact user"),
            did.cast("string"),
            F.lit("@example.com for details"),
        ),
    ).otherwise("")
    phone = F.when(
        did % 11 == 0,
        F.concat(
            F.lit(" or call 555-"),
            F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-0199"),
        ),
    ).otherwise("")
    ssn = F.when(
        did % 13 == 0,
        F.concat(
            F.lit(" id 078-05-"), F.lpad((did % 10000).cast("string"), 4, "0")
        ),
    ).otherwise("")
    url = F.when(
        did % 5 == 0,
        F.concat(
            F.lit(" see https://site"),
            (did % 20).cast("string"),
            F.lit(".example.org/p/"),
            did.cast("string"),
        ),
    ).otherwise("")
    return df.withColumn(
        # coalesce: NULL text injects over '' so the audit counts are
        # integers (not NULLs that float64 the whole oracle column)
        "injected",
        F.concat(F.coalesce(F.col("text"), F.lit("")), email, phone, ssn, url),
    )


_INJECT_SQL = """
  injected AS (
    SELECT doc_id, source, lang,
           coalesce(text, '')
           || CASE WHEN doc_id % 7 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com for details' ELSE '' END
           || CASE WHEN doc_id % 11 = 0
                   THEN ' or call 555-'
                        || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                        || '-0199' ELSE '' END
           || CASE WHEN doc_id % 13 = 0
                   THEN ' id 078-05-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                   THEN ' see https://site' || CAST(doc_id % 20 AS VARCHAR)
                        || '.example.org/p/' || CAST(doc_id AS VARCHAR)
                   ELSE '' END AS injected
    FROM documents
  )
"""
_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE = "\\d{3}-\\d{3}-\\d{4}"
_SSN = "\\d{3}-\\d{2}-\\d{4}"


@_register(
    "pii_source_report",
    oracle=f"""
    WITH {_INJECT_SQL},
    per_doc AS (
      SELECT source,
             len(regexp_extract_all(injected, '{_EMAIL}')) AS n_emails,
             len(regexp_extract_all(injected, '{_PHONE}')) AS n_phones,
             len(regexp_extract_all(injected, '{_SSN}'))   AS n_ssns
      FROM injected
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_emails > 0 OR n_phones > 0 OR n_ssns > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
           CAST(SUM(n_emails) AS BIGINT) AS total_emails,
           CAST(SUM(n_phones) AS BIGINT) AS total_phones,
           CAST(SUM(n_ssns) AS BIGINT) AS total_ssns
    FROM per_doc GROUP BY source ORDER BY source
    """,
    tags=("llmdata", "pii"),
    doc="corpus PII audit per source: document counts, documents with "
    "any finding, and per-class match totals. Detection is pure JVM "
    "regex (llmdata/pii.py) — one scan, map-side partial agg, one "
    "shuffle on the low-cardinality source key.",
)
def q_pii_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _injected(_t(spark, sf_dir, "documents"))
    flagged = add_pii_columns(docs, "injected")
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("has_pii"), 1).otherwise(0)).alias(
                "docs_with_pii"
            ),
            F.sum("n_emails").alias("total_emails"),
            F.sum("n_phones").alias("total_phones"),
            F.sum("n_ssns").alias("total_ssns"),
        )
        .orderBy("source")
    )


@_register(
    "pii_redaction_audit",
    oracle=f"""
    WITH {_INJECT_SQL}
    SELECT doc_id,
           len(regexp_extract_all(injected, '{_EMAIL}'))
             + len(regexp_extract_all(injected, '{_PHONE}'))
             + len(regexp_extract_all(injected, '{_SSN}')) AS n_pii,
           length(injected) AS len_before,
           length(regexp_replace(
             regexp_replace(
               regexp_replace(injected, '{_EMAIL}', '<EMAIL>', 'g'),
               '{_PHONE}', '<PHONE>', 'g'),
             '{_SSN}', '<SSN>', 'g')) AS len_after,
           md5(regexp_replace(
             regexp_replace(
               regexp_replace(injected, '{_EMAIL}', '<EMAIL>', 'g'),
               '{_PHONE}', '<PHONE>', 'g'),
             '{_SSN}', '<SSN>', 'g')) AS checksum
    FROM injected
    """,
    tags=("llmdata", "pii"),
    doc="per-document redaction audit: finding count, byte length "
    "before/after scrubbing, and an md5 checksum of the redacted text "
    "— the checksum makes the oracle verify every redacted BYTE, not "
    "just the counts. Replacement order (email, phone, SSN) is pinned "
    "on both sides.",
)
def q_pii_redaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _injected(_t(spark, sf_dir, "documents"))
    flagged = add_pii_columns(docs, "injected")
    return flagged.select(
        "doc_id",
        (F.col("n_emails") + F.col("n_phones") + F.col("n_ssns")).alias(
            "n_pii"
        ),
        F.length("injected").alias("len_before"),
        F.length("redacted").alias("len_after"),
        F.md5(F.col("redacted").cast("binary")).alias("checksum"),
    )


@_register(
    "url_domain_stats",
    oracle=f"""
    WITH {_INJECT_SQL},
    urls AS (
      SELECT doc_id, unnest(regexp_extract_all(injected, 'https?://[^\\s]+'))
               AS url
      FROM injected
    )
    SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS domain,
           COUNT(*) AS n_urls,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM urls GROUP BY 1 ORDER BY n_urls DESC, domain
    """,
    tags=("llmdata", "pii"),
    doc="URL inventory for a crawl corpus: extract every URL, reduce "
    "to its domain, count mentions and distinct documents per domain. "
    "extract-all + explode + re-agg — the shuffle carries only "
    "(domain, doc_id) pairs. The standard pre-filter for domain-level "
    "quality decisions in a training-data pipeline.",
)
def q_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _injected(_t(spark, sf_dir, "documents"))
    urls = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("injected"), F.lit(_URL_RE), F.lit(0))
        ).alias("url"),
    )
    return (
        urls.select(
            "doc_id",
            F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("domain"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_urls"), "domain")
    )


_BLOCKED_DOMAINS = [f"site{i}.example.org" for i in range(5)]


@_register(
    "doc_blocklist_filter",
    oracle=f"""
    WITH {_INJECT_SQL},
    urls AS (
      SELECT doc_id,
             regexp_extract(u.url, '^https?://([^/]+)', 1) AS domain
      FROM injected,
           unnest(regexp_extract_all(injected, 'https?://[^\\s]+')) u(url)
    ), per_doc AS (
      SELECT i.doc_id,
             COUNT(u.domain) AS n_urls,
             CAST(COALESCE(SUM(CASE WHEN u.domain IN
               ({", ".join(f"'{d}'" for d in _BLOCKED_DOMAINS)})
               THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_blocked_urls
      FROM injected i LEFT JOIN urls u USING (doc_id)
      GROUP BY i.doc_id
    )
    SELECT doc_id, n_urls, n_blocked_urls,
           n_blocked_urls > 0 AS blocked
    FROM per_doc
    """,
    tags=("llmdata", "quality", "pii"),
    doc="UT1-style domain blocklist filter: extract every URL, reduce "
    "to domains, flag documents citing any blocklisted domain "
    "(blocklist as a broadcast dim — real lists are ~MBs of domains, "
    "forever broadcastable). LEFT JOIN keeps URL-free documents with "
    "zero counts; the shuffle carries only (doc_id, domain) pairs. "
    "The standard crawl-hygiene step before quality scoring.",
)
def q_doc_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _injected(_t(spark, sf_dir, "documents"))
    urls = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("injected"), F.lit(_URL_RE), F.lit(0))
        ).alias("url"),
    ).select(
        "doc_id",
        F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("domain"),
    )
    blocklist = F.array(*[F.lit(d) for d in _BLOCKED_DOMAINS])
    flagged = urls.select(
        "doc_id",
        F.lit(1).alias("one"),
        F.array_contains(blocklist, F.col("domain")).cast("int").alias("blk"),
    )
    per_doc = (
        docs.select("doc_id")
        .join(flagged, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.count("one").alias("n_urls"),
            F.coalesce(F.sum("blk"), F.lit(0)).alias("n_blocked_urls"),
        )
    )
    return per_doc.select(
        "doc_id", "n_urls", "n_blocked_urls",
        (F.col("n_blocked_urls") > 0).alias("blocked"),
    )


@_register(
    "doc_bigram_logprob",
    oracle="""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), bigrams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w)),
                                   i -> w[i] || ' ' || w[i+1])) AS bg
      FROM ws WHERE len(w) >= 2
    ), c2 AS (
      SELECT bg, COUNT(*) AS cnt2 FROM bigrams GROUP BY bg
    ), c1 AS (
      SELECT string_split(bg, ' ')[1] AS w1, SUM(cnt2) AS cnt1
      FROM c2 GROUP BY 1
    ), lp AS (
      SELECT c2.bg, ln(c2.cnt2 / c1.cnt1) AS logprob
      FROM c2 JOIN c1 ON string_split(c2.bg, ' ')[1] = c1.w1
    )
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(AVG(lp.logprob), 6) AS avg_logprob
    FROM bigrams b JOIN lp ON b.bg = lp.bg
    GROUP BY b.doc_id ORDER BY b.doc_id
    """,
    tags=("llmdata", "text", "quality"),
    doc="bigram LM fluency score: mean ln P(w2|w1) per document with "
    "MLE conditionals trained on the corpus itself (c(w1,.) marginal "
    "derived FROM the bigram table so both sides count boundaries "
    "identically). Same scale shape as the unigram variant, and the "
    "same scale caveat amplified: the bigram vocabulary is "
    "corpus-sublinear but UNBOUNDED (1e9-1e10 distinct bigrams at "
    "100 TB — strictly larger than the unigram vocab), so neither "
    "the c2⋈c1 marginal join nor the corpus⋈lp scoring join carries "
    "a broadcast hint — both are plain equi-joins (on w1 / on the "
    "bigram key) that AQE broadcasts at test scale and shuffles at "
    "corpus scale.",
)
def q_doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.split("text", " ").alias("w")
    ).filter(F.size("w") >= 2)
    bigrams = words.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), "
                "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            )
        ).alias("bg"),
    )
    c2 = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt2"))
    c1 = c2.groupBy(
        F.split("bg", " ").getItem(0).alias("w1")
    ).agg(F.sum("cnt2").alias("cnt1"))
    lp = (
        c2.join(c1, F.split(c2.bg, " ").getItem(0) == c1.w1)
        .select("bg", F.log(F.col("cnt2") / F.col("cnt1")).alias("logprob"))
    )
    return (
        bigrams.join(lp, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            _r6(F.avg("logprob")).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Tokenizer-induction statistics: the first BPE merge step (corpus
# character-pair frequencies) and word-level PMI collocations — the two
# corpus statistics a tokenizer/vocabulary pipeline computes before
# anything trains.
#
# Both are one-shuffle aggregations whose result tables are
# vocabulary-sized: the corpus scan dominates at 100 TB.  Vocabulary-
# sized is NOT metadata-sized — char-pair and collocation tables grow
# with the observed charset/vocab — so global ranks over them ride the
# range-partitioned prefix-sum machinery and nothing broadcasts them.


@_register(
    "bpe_first_merge_stats",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS wd FROM documents
    ), pairs AS (
      SELECT unnest(list_transform(range(1, length(wd)),
                    i -> wd[i:i+1])) AS pair
      FROM words WHERE length(wd) >= 2
    )
    SELECT pair, COUNT(*) AS cnt,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, pair) AS rank
    FROM pairs GROUP BY pair
    ORDER BY rank LIMIT 20
    """,
    tags=("llmdata", "text", "tokenizer"),
    doc="the statistic behind BPE's first merge: corpus frequencies of "
    "adjacent character pairs within words (occurrence-weighted, the "
    "BPE convention), top-20 with full tie-break. In-row pair "
    "expansion (no join), one shuffle on the pair key with map-side "
    "combine — each further merge round in a real trainer is this "
    "same aggregation over a rewritten symbol sequence. The pair "
    "vocabulary is charset-squared — on Unicode web text that is "
    "NOT metadata (150k code points squared clears 1e10), so the "
    "rank rides with_global_rank's range-partitioned prefix sum, "
    "never a single-task window over the pair table.",
)
def q_bpe_first_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_spark.operators.rank import with_global_rank

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split("text", " ")).alias("wd")
    ).filter(F.length("wd") >= 2)
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(wd) - 1), "
                "i -> substring(wd, i, 2))"
            )
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        with_global_rank(counted, "-cnt", "pair", rank_col="rank")
        .select("pair", "cnt", "rank")
        .orderBy("rank")
        .limit(20)
    )


@_register(
    "word_pmi_collocations",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents
    ), n_docs AS (
      SELECT COUNT(DISTINCT doc_id) AS n FROM toks
    ), df AS (
      SELECT w, COUNT(*) AS dfreq FROM toks GROUP BY w
    ), pair_df AS (
      SELECT a.w AS w1, b.w AS w2, COUNT(*) AS co
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.w < b.w
      GROUP BY a.w, b.w
      HAVING COUNT(*) >= 5
    )
    SELECT p.w1, p.w2, p.co,
           ROUND(ln((CAST(p.co AS DOUBLE) * n.n)
                    / (CAST(d1.dfreq AS DOUBLE) * d2.dfreq)), 6) AS pmi
    FROM pair_df p
    JOIN df d1 ON p.w1 = d1.w
    JOIN df d2 ON p.w2 = d2.w
    CROSS JOIN n_docs n
    ORDER BY pmi DESC, p.w1, p.w2
    LIMIT 20
    """,
    tags=("llmdata", "text", "agg"),
    doc="document-level PMI collocations: ln(P(w1,w2)/(P(w1)P(w2))) "
    "over distinct doc-term pairs, support >= 5, top-20. The pair "
    "expansion is within-document, in-row over each doc's collected "
    "DISTINCT vocabulary (bounded by per-doc vocabulary squared — "
    "the copurchase shape) so the token table never self-joins. The "
    "document-frequency table is vocabulary-keyed — Heaps'-law "
    "unbounded at 100 TB — so the two df joins carry NO broadcast "
    "hint (AQE broadcasts at test scale, shuffle hash join on the "
    "word key at corpus scale); only the 1-row n_docs scalar is "
    "hinted. The collocation screen a phrase-vocabulary builder "
    "runs.",
)
def q_word_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # one shuffle builds the per-doc distinct vocabulary (map-side
    # partial collect_set); pairs expand in-row over the sorted array
    # (bounded by per-doc vocabulary squared — the copurchase shape),
    # so no token-table self-join ever shuffles
    vocab = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("w")).alias("ws"))
    )
    # docs with NULL text produce no tokens (split -> NULL -> explode
    # drops), so the token-bearing doc count is just the distinct
    # non-null-text doc count — no need to re-derive the vocab for it
    n_docs = docs.filter(F.col("text").isNotNull()).agg(
        F.count_distinct("doc_id").alias("n")
    )
    df = vocab.select(F.explode("ws").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("dfreq")
    )
    pair_df = (
        vocab.select(
            F.explode(
                F.expr(
                    "flatten(transform(ws, (x, i) -> "
                    "transform(slice(ws, i + 2, size(ws)), "
                    "y -> struct(x AS w1, y AS w2))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= 5)
    )
    d1 = df.select(F.col("w").alias("w1"), F.col("dfreq").alias("df1"))
    d2 = df.select(F.col("w").alias("w2"), F.col("dfreq").alias("df2"))
    return (
        pair_df.join(d1, "w1")
        .join(d2, "w2")
        .join(F.broadcast(n_docs))
        .select(
            "w1",
            "w2",
            "co",
            _r6(
                F.log(
                    (F.col("co").cast("double") * F.col("n"))
                    / (F.col("df1").cast("double") * F.col("df2"))
                )
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )


@_register(
    "nb_lang_classifier",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), vocab AS (
      SELECT DISTINCT term FROM toks
    ), vsize AS (
      SELECT COUNT(*) AS v FROM vocab
    ), langs AS (
      SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ), tot AS (
      SELECT SUM(n_docs) AS n_total FROM langs
    ), lc AS (
      SELECT lang, COUNT(*) AS n_tokens FROM toks GROUP BY lang
    ), wc AS (
      SELECT lang, term, COUNT(*) AS c FROM toks GROUP BY lang, term
    ), model AS (
      SELECT l.lang, vb.term,
             CAST(round(ln((COALESCE(wc.c, 0) + 1.0)
                           / (lc.n_tokens + vs.v)) * 1000000)
                  AS BIGINT) AS ll
      FROM langs l
      CROSS JOIN vocab vb
      CROSS JOIN vsize vs
      JOIN lc ON lc.lang = l.lang
      LEFT JOIN wc ON wc.lang = l.lang AND wc.term = vb.term
    ), prior AS (
      SELECT lang,
             CAST(round(ln(CAST(n_docs AS DOUBLE) / n_total) * 1000000)
                  AS BIGINT) AS lp
      FROM langs, tot
    ), scores AS (
      SELECT t.doc_id, t.lang AS true_lang, m.lang AS cand,
             SUM(m.ll) + MAX(p.lp) AS score
      FROM toks t
      JOIN model m ON m.term = t.term
      JOIN prior p ON p.lang = m.lang
      GROUP BY t.doc_id, t.lang, m.lang
    ), pred AS (
      SELECT doc_id, true_lang, cand AS pred_lang,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cand) AS rk
      FROM scores
    )
    SELECT true_lang, pred_lang, COUNT(*) AS n_docs
    FROM pred WHERE rk = 1
    GROUP BY true_lang, pred_lang
    ORDER BY true_lang, pred_lang
    """,
    tags=("llmdata", "ml", "text"),
    doc="Multinomial Naive Bayes language classifier trained and "
    "applied in ONE plan: Laplace-smoothed per-(lang, term) "
    "log-likelihoods + doc-count priors from the corpus itself, "
    "argmax over summed token scores, reported as a confusion "
    "matrix against the labeled lang (the trained upgrade of "
    "`lang_id_confusion`'s fixed stopword argmax). Log-probs are "
    "rounded to integer MICRO-NATS, so every document score is an "
    "exact BIGINT sum — no float-summation order can flip the "
    "argmax in either engine. Scale shape: the model is vocab x "
    "langs, and the vocabulary is Heaps'-law UNBOUNDED (1e8+ terms "
    "at 100 TB), so the vocab stays distributed throughout — the "
    "lang replication broadcasts the METADATA-sized langs frame "
    "onto the vocab (never the reverse), and the scoring join on "
    "`term` is unhinted (AQE broadcasts at test scale, shuffle hash "
    "join at corpus scale). Only genuinely 1-row/|langs|-sized "
    "frames (vsize, tot, prior) carry broadcast hints. Scoring is "
    "one explode + equi-join + partial-agg shuffle on doc_id — "
    "scan-shaped at 100 TB.",
)
def q_nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("term")
    )
    vocab = toks.select("term").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    langs = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = langs.agg(F.sum("n_docs").alias("n_total"))
    lc = toks.groupBy("lang").agg(F.count(F.lit(1)).alias("n_tokens"))
    wc = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("c"))
    model = (
        vocab.crossJoin(F.broadcast(langs.select("lang")))
        .crossJoin(F.broadcast(vsize))
        .join(lc, "lang")
        .join(wc, ["lang", "term"], "left")
        .select(
            "lang",
            "term",
            F.round(
                F.log(
                    (F.coalesce("c", F.lit(0)) + 1.0)
                    / (F.col("n_tokens") + F.col("v"))
                )
                * 1_000_000
            )
            .cast("bigint")
            .alias("ll"),
        )
    )
    prior = langs.join(F.broadcast(tot)).select(
        "lang",
        F.round(
            F.log(F.col("n_docs").cast("double") / F.col("n_total"))
            * 1_000_000
        )
        .cast("bigint")
        .alias("lp"),
    )
    scores = (
        toks.join(model.withColumnRenamed("lang", "cand"), "term")
        .join(
            F.broadcast(prior.withColumnRenamed("lang", "cand")), "cand"
        )
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "cand")
        .agg((F.sum("ll") + F.max("lp")).alias("score"))
    )
    pred = scores.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                F.desc("score"), "cand"
            )
        ),
    ).filter(F.col("rk") == 1)
    return (
        pred.groupBy("true_lang", F.col("cand").alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


_TR_UNIT = 10**12
_TR_TELEPORT = 15 * 10**10  # 0.15 in rank units


@_register(
    "textrank_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), adj AS (
      -- the pair stays a STRUCT (never a delimited string): a token
      -- containing the delimiter would corrupt a re-split edge list
      -- while the Spark side's struct pairs stayed intact
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(w)),
                    i -> CASE WHEN w[i] < w[i + 1]
                         THEN {{'a': w[i], 'b': w[i + 1]}}
                         ELSE {{'a': w[i + 1], 'b': w[i]}} END)) AS pk
      FROM toks
    ), pairs AS (
      SELECT DISTINCT pk.a AS p1, pk.b AS p2
      FROM adj WHERE pk.a <> pk.b
    ), edges AS (
      SELECT p1 AS src, p2 AS dst FROM pairs
      UNION ALL SELECT p2, p1 FROM pairs
    ), deg AS (
      SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src
    ), n AS (SELECT COUNT(*) AS nn FROM deg),
    pr0 AS (
      SELECT node, outdeg, {_TR_UNIT} // nn AS pr_units FROM deg, n
    ), it1 AS (
      SELECT d.node, d.outdeg,
             CAST({_TR_TELEPORT} // n.nn
                  + (85 * SUM(p.pr_units // p.outdeg)) // 100
                  AS BIGINT) AS pr_units
      FROM edges e
      JOIN pr0 p ON e.src = p.node
      JOIN deg d ON e.dst = d.node, n
      GROUP BY d.node, d.outdeg, n.nn
    ), it2 AS (
      SELECT d.node, d.outdeg,
             CAST({_TR_TELEPORT} // n.nn
                  + (85 * SUM(p.pr_units // p.outdeg)) // 100
                  AS BIGINT) AS pr_units
      FROM edges e
      JOIN it1 p ON e.src = p.node
      JOIN deg d ON e.dst = d.node, n
      GROUP BY d.node, d.outdeg, n.nn
    )
    SELECT node AS keyword,
           ROUND(CAST(pr_units AS DOUBLE) / {_TR_UNIT}, 12) AS textrank
    FROM it2
    ORDER BY pr_units DESC, node
    LIMIT 20
    """,
    tags=("llmdata", "text", "graph", "iterative"),
    doc="TextRank keyword extraction: PageRank (d=0.85, 2 unrolled "
    "iterations, integer rank units — the same machinery as "
    "`copurchase_pagerank`) over the word co-occurrence graph, where "
    "nodes are corpus terms and edges join words ADJACENT in any "
    "document (canonical low|high orientation, distinct per doc via "
    "in-row bigram expansion — never a token self-join). The "
    "graph-centrality upgrade of `corpus_top_terms`' raw counts: a "
    "term ranks high for sitting between many distinct contexts, "
    "not for raw frequency. Edge list is vocabulary-bounded, tiny "
    "next to the scan that builds it.",
)
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # two-select + zip_with, no captured expression (the round-10
    # interpreted-HOF rule): the old transform lambda re-ran
    # split(text) per TOKEN via the captured element_at(split(...))
    # — interpreted HOFs re-evaluate every captured expression per
    # element. zip_with over two slices of the pre-projected token
    # attribute emits the identical adjacent pairs.
    adj = d.select("doc_id", F.split("text", " ").alias("ws")).select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(zip_with("
                "slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1), "
                "(x, y) -> IF(x < y, struct(x AS p1, y AS p2), "
                "struct(y AS p1, x AS p2))))"
            )
        ).alias("q"),
    )
    pairs = (
        adj.select(F.col("q.p1").alias("p1"), F.col("q.p2").alias("p2"))
        .filter(F.col("p1") != F.col("p2"))
        .distinct()
    )
    edges = (
        pairs.select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
        .unionAll(
            pairs.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
        )
        .localCheckpoint(eager=False)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n = deg.agg(F.count(F.lit(1)).alias("nn"))
    pr = deg.join(F.broadcast(n)).select(
        F.col("src").alias("node"),
        "outdeg",
        F.expr(f"CAST({_TR_UNIT} AS BIGINT) DIV nn").alias("pr_units"),
    )

    def step(p: DataFrame) -> DataFrame:
        inflow = (
            edges.join(p, edges["src"] == p["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr("pr_units DIV outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        return (
            inflow.join(F.broadcast(n))
            .join(deg, inflow["node"] == deg["src"])
            .select(
                "node",
                "outdeg",
                (
                    F.expr(f"CAST({_TR_TELEPORT} AS BIGINT) DIV nn")
                    + F.expr("(85 * inflow) DIV 100")
                ).alias("pr_units"),
            )
        )

    it2 = step(step(pr))
    return (
        it2.orderBy(F.desc("pr_units"), "node")
        .limit(20)
        .select(
            F.col("node").alias("keyword"),
            F.round(
                F.col("pr_units").cast("double") / F.lit(_TR_UNIT), 12
            ).alias("textrank"),
        )
    )


# ---------------------------------------------------------------------------
# Round-6 curation wave: the two classic corpus-filter signals the
# suite did not yet carry.
#
# - Gopher quality rules (Rae et al. 2021, MassiveWeb appendix A1.1):
#   the seven named document heuristics — word-count bounds, mean word
#   length, symbol-to-word ratio, bullet/ellipsis line fractions,
#   alphabetic-word fraction, stop-word presence — as one per-document
#   rule table with a combined keep flag.  This is the gate every
#   large-scale text pipeline runs BEFORE dedup; the existing
#   doc_quality_filter covers length/stopword ratios, this adds the
#   full named rule set with per-rule observability.
# - duplicated-n-gram coverage (Lee et al. 2021 "Deduplicating Training
#   Data Makes Language Models Better"): per document, the fraction of
#   its 8-gram POSITIONS (with multiplicity) whose gram occurs in >= 2
#   distinct documents corpus-wide.  Distinct from doc_ngram_novelty
#   (first-seen attribution over DISTINCT grams): this is the
#   exact-substring-dedup signal — how much of *this* document is
#   corpus-duplicated text, the per-doc number a substring-dedup pass
#   would remove.
#
# Reference parity: the reference's pipeline has no corpus curation
# layer (its quality ops are the row-level numeric filters of
# processing/data_processor.py); these extend the training-data surface
# the brief asks for beyond the reference.


# The Gopher stop-word list (Rae et al. A1.1) — presence of >= 2 is
# the "is this prose at all" rule.
_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
_STOPS_SQL = ", ".join(f"'{s}'" for s in _STOPS)


# The gopher metric + keep SQL, shared with the multimodal curation
# pipeline (plans/multimodal.py) so the rule set has exactly one SQL
# definition too. Expects a CTE `base(..., w, ln)`; `{cols}` is the
# carried-through column list.
GOPHER_M_SQL = f"""
      SELECT {{cols}},
             len(w) AS n_words,
             list_sum(list_transform(w, x -> len(x))) * 1.0 / len(w)
               AS mean_word_len,
             len(list_filter(w, x -> contains(x, '#')
                                  OR contains(x, '...')
                                  OR contains(x, '…'))) * 1.0 / len(w)
               AS symbol_ratio,
             len(list_filter(ln, l -> starts_with(ltrim(l), '-')
                                   OR starts_with(ltrim(l), '*')
                                   OR starts_with(ltrim(l), '•')))
               * 1.0 / len(ln) AS bullet_frac,
             len(list_filter(ln, l -> ends_with(rtrim(l), '...')
                                   OR ends_with(rtrim(l), '…')))
               * 1.0 / len(ln) AS ellipsis_frac,
             len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
               * 1.0 / len(w) AS alpha_frac,
             len(list_filter([{_STOPS_SQL}],
                             s -> list_contains(w, s))) AS n_stop
      FROM base
"""
GOPHER_KEEP_SQL = """(n_words BETWEEN 50 AND 100000
                      AND mean_word_len BETWEEN 3 AND 10
                      AND symbol_ratio < 0.1
                      AND bullet_frac < 0.9
                      AND ellipsis_frac < 0.3
                      AND alpha_frac > 0.8
                      AND n_stop >= 2)"""


@_register(
    "gopher_quality_rules",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             string_split(text, ' ') AS w,
             string_split(text, chr(10)) AS ln
      FROM documents WHERE text IS NOT NULL
    ), m AS (
      {GOPHER_M_SQL.format(cols="doc_id")}
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           ROUND(mean_word_len, 6) AS mean_word_len,
           ROUND(symbol_ratio, 6) AS symbol_ratio,
           ROUND(bullet_frac, 6) AS bullet_frac,
           ROUND(ellipsis_frac, 6) AS ellipsis_frac,
           ROUND(alpha_frac, 6) AS alpha_frac,
           CAST(n_stop AS BIGINT) AS n_stop,
           CAST(CASE WHEN {GOPHER_KEEP_SQL}
                THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM m ORDER BY doc_id
    """,
    tags=("llmdata", "text", "quality", "pipeline"),
    doc="Gopher quality rules (Rae et al. 2021 A1.1): the seven named "
    "document heuristics as a per-doc rule table plus combined keep "
    "flag. Pure Column/lambda expressions over the in-row token and "
    "line arrays — zero shuffles before the final sort, so the gate "
    "is embarrassingly parallel at any corpus size (the rule that "
    "matters at 100 TB: a quality gate must cost one scan, nothing "
    "more). Rule comparisons run on UNROUNDED doubles on both "
    "engines (int/int division is exactly reproducible); rounding "
    "is display-only.",
)
def q_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    m = gopher_metrics(d, "doc_id")
    return m.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        _r6(F.col("mean_word_len")).alias("mean_word_len"),
        _r6(F.col("symbol_ratio")).alias("symbol_ratio"),
        _r6(F.col("bullet_frac")).alias("bullet_frac"),
        _r6(F.col("ellipsis_frac")).alias("ellipsis_frac"),
        _r6(F.col("alpha_frac")).alias("alpha_frac"),
        F.col("n_stop").cast("long").alias("n_stop"),
        "keep",
    ).orderBy("doc_id")


def gopher_metrics(df: DataFrame, *keep_cols: str) -> DataFrame:
    """The seven Gopher metric columns (n_words, mean_word_len,
    symbol_ratio, bullet_frac, ellipsis_frac, alpha_frac, n_stop —
    all UNROUNDED) plus the combined 0/1 `keep` flag, with
    `keep_cols` carried through.  Shared by gopher_quality_rules and
    the multimodal curation pipeline so the rule set has exactly one
    definition."""
    w = F.split("text", " ")
    ln = F.split("text", "\n")
    base = df.select(*keep_cols, w.alias("w"), ln.alias("ln"))
    n_words = F.size("w")
    mean_word_len = (
        F.expr("aggregate(w, 0L, (a, x) -> a + length(x))") * 1.0 / n_words
    )
    symbol_ratio = (
        F.size(
            F.expr(
                "filter(w, x -> contains(x, '#') OR contains(x, '...') "
                "OR contains(x, '…'))"
            )
        )
        * 1.0
        / n_words
    )
    bullet_frac = (
        F.size(
            F.expr(
                "filter(ln, l -> startswith(ltrim(l), '-') "
                "OR startswith(ltrim(l), '*') "
                "OR startswith(ltrim(l), '•'))"
            )
        )
        * 1.0
        / F.size("ln")
    )
    ellipsis_frac = (
        F.size(
            F.expr(
                "filter(ln, l -> endswith(rtrim(l), '...') "
                "OR endswith(rtrim(l), '…'))"
            )
        )
        * 1.0
        / F.size("ln")
    )
    alpha_frac = (
        F.size(F.expr("filter(w, x -> x rlike '[A-Za-z]')")) * 1.0 / n_words
    )
    stops_arr = F.array(*[F.lit(s) for s in _STOPS])
    n_stop = F.size(F.filter(stops_arr, lambda s: F.array_contains("w", s)))
    m = base.select(
        *keep_cols,
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
        alpha_frac.alias("alpha_frac"),
        n_stop.alias("n_stop"),
    )
    keep = (
        F.col("n_words").between(50, 100000)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("symbol_ratio") < 0.1)
        & (F.col("bullet_frac") < 0.9)
        & (F.col("ellipsis_frac") < 0.3)
        & (F.col("alpha_frac") > 0.8)
        & (F.col("n_stop") >= 2)
    )
    return m.withColumn(
        "keep", F.when(keep, 1).otherwise(0).cast("long")
    )


@_register(
    "duplicate_gram_coverage",
    oracle="""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents WHERE text IS NOT NULL
    ), grams AS (
      -- 8-gram POSITIONS with multiplicity (no DISTINCT): coverage
      -- measures how much of the document's surface is duplicated,
      -- so a doc that repeats a shared slogan 10 times counts 10
      SELECT doc_id,
             unnest(list_transform(range(1, len(w) - 6),
                    i -> array_to_string(w[i:i+7], ' '))) AS g
      FROM ws WHERE len(w) >= 8
    ), docfreq AS (
      SELECT g, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY g
    )
    SELECT gr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup,
           ROUND(SUM(CASE WHEN df.nd >= 2 THEN 1.0 ELSE 0.0 END)
                 / COUNT(*), 6) AS dup_coverage
    FROM grams gr JOIN docfreq df ON gr.g = df.g
    GROUP BY gr.doc_id ORDER BY gr.doc_id
    """,
    tags=("llmdata", "text", "dedup"),
    doc="exact-substring-dedup signal (Lee et al. 2021): per document, "
    "the fraction of its word-8-gram positions (with multiplicity) "
    "whose gram occurs in >= 2 distinct documents. Two shuffles — "
    "one on the gram key (COUNT DISTINCT doc_id gets partial "
    "aggregation map-side) and the re-join back, then the per-doc "
    "agg; never all-pairs. At 100 TB the gram string is the shuffle "
    "key — production would key on xxhash64(gram) to shrink shuffle "
    "width (collision odds ~n²/2⁶⁴, acceptable for a coverage "
    "STATISTIC); kept as the raw string here so the DuckDB oracle "
    "is hash-function-free. Distinct from doc_ngram_novelty: that "
    "attributes DISTINCT grams to first-seen docs, this measures "
    "duplicated surface per doc.",
)
def q_duplicate_gram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 8)
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 7), "
                "i -> concat_ws(' ', slice(w, i, 8)))"
            )
        ).alias("g"),
    )
    docfreq = grams.groupBy("g").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    dup = F.when(F.col("nd") >= 2, 1).otherwise(0)
    return (
        grams.join(docfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(dup).alias("n_dup"),
            _r6(
                F.sum(dup.cast("double")) / F.count(F.lit(1))
            ).alias("dup_coverage"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Mixture planning and curriculum ordering — the two scheduling
# decisions a training-data pipeline makes AFTER curation: how many
# epochs of each source to take, and in what order to feed documents.
#
# - source_epoch_plan: the data-constrained scaling recipe (Muennighoff
#   et al. 2023 — repeating data is worth it up to ~4 epochs, then
#   value decays): temperature-weighted allocation of a fixed token
#   budget across sources, with the per-source epoch count capped at 4
#   and the stranded (unspendable) budget made visible. Companion to
#   source_sampling_weights (alpha=0.3 weights only); this turns
#   weights into an executable repeat plan.
# - curriculum_order: a deterministic global feed order — length
#   buckets ascending (short-first curriculum), md5-derived shuffle
#   within a bucket, doc_id tiebreak — materialized as a 1-based global
#   rank via operators/rank.py::with_global_rank (range-partitioned
#   prefix-sum, NEVER a single-task global window). Gives the
#   distributed rank operator a second oracle-gated consumer beyond
#   score_auc_rank/woe_binning.


_ALPHA = 0.5
_MAX_EPOCHS = 4.0
_BUDGET_EPOCHS = 2.0  # total budget = 2x the corpus token count


@_register(
    "source_epoch_plan",
    oracle=f"""
    WITH per_src AS (
      SELECT source,
             COUNT(*) AS n_docs,
             SUM(len(string_split(text, ' '))) AS n_tokens
      FROM documents WHERE text IS NOT NULL GROUP BY source
    ), raw AS (
      SELECT source, n_docs, n_tokens,
             pow(n_tokens * 1.0 / SUM(n_tokens) OVER (), {_ALPHA})
               AS pw,
             {_BUDGET_EPOCHS} * SUM(n_tokens) OVER () AS budget
      FROM per_src
    ), shares AS (
      SELECT source, n_docs, n_tokens, budget,
             pw / SUM(pw) OVER () AS w
      FROM raw
    ), plan AS (
      SELECT source, n_docs, n_tokens, w,
             budget * w AS alloc_tokens,
             LEAST({_MAX_EPOCHS}, budget * w / n_tokens) AS epochs
      FROM shares
    )
    SELECT source,
           n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(w, 6) AS weight,
           ROUND(alloc_tokens, 6) AS alloc_tokens,
           ROUND(epochs, 6) AS epochs,
           ROUND(epochs * n_tokens, 6) AS effective_tokens,
           ROUND(epochs * n_tokens / alloc_tokens, 6)
             AS budget_utilization
    FROM plan ORDER BY source
    """,
    tags=("llmdata", "sample", "agg"),
    doc=f"data-constrained epoch plan: a {_BUDGET_EPOCHS}x-corpus token "
    f"budget split by temperature weights (alpha={_ALPHA}), per-source "
    f"epochs capped at {_MAX_EPOCHS} (the repeat-value decay point); "
    "budget_utilization < 1 exposes budget stranded on capped "
    "sources, the signal to re-temper or admit more data. Same scale "
    "shape as source_sampling_weights: one partial-agg shuffle to "
    "source-level metadata, then unpartitioned windows over tens of "
    "rows.",
)
def q_source_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("source", "text")
    )
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    w0 = Window.partitionBy()
    # corpus-total window sum named once (feeds share AND budget)
    tot = per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        F.sum("n_tokens").over(w0).alias("__tot"),
    )
    share = F.col("n_tokens") * 1.0 / F.col("__tot")
    raw = tot.select(
        "source",
        "n_docs",
        "n_tokens",
        F.pow(share, _ALPHA).alias("pw"),
        (F.lit(_BUDGET_EPOCHS) * F.col("__tot")).alias("budget"),
    )
    shares = raw.select(
        "source",
        "n_docs",
        "n_tokens",
        "budget",
        (F.col("pw") / F.sum("pw").over(w0)).alias("w"),
    )
    plan = shares.select(
        "source",
        "n_docs",
        "n_tokens",
        "w",
        (F.col("budget") * F.col("w")).alias("alloc_tokens"),
        F.least(
            F.lit(_MAX_EPOCHS),
            F.col("budget") * F.col("w") / F.col("n_tokens"),
        ).alias("epochs"),
    )
    return plan.select(
        "source",
        "n_docs",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        _r6(F.col("w")).alias("weight"),
        _r6(F.col("alloc_tokens")).alias("alloc_tokens"),
        _r6(F.col("epochs")).alias("epochs"),
        _r6(F.col("epochs") * F.col("n_tokens")).alias(
            "effective_tokens"
        ),
        _r6(
            F.col("epochs") * F.col("n_tokens") / F.col("alloc_tokens")
        ).alias("budget_utilization"),
    ).orderBy("source")


_CURR_HASH = word32_sql("concat('curr|', CAST(doc_id AS VARCHAR(20)))")


@_register(
    "curriculum_order",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             LEAST(3, len(string_split(text, ' ')) // 25) AS bucket,
             len(string_split(text, ' ')) AS n_words,
             {_CURR_HASH} AS h
      FROM documents
      WHERE text IS NOT NULL AND doc_id IS NOT NULL
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY bucket, h, doc_id)
                AS BIGINT) AS feed_rank,
           doc_id,
           CAST(bucket AS BIGINT) AS bucket,
           CAST(n_words AS BIGINT) AS n_words
    FROM scored ORDER BY feed_rank
    """,
    tags=("llmdata", "window", "rank"),
    doc="deterministic training feed order: length buckets ascending "
    "(short-first curriculum), md5-derived shuffle within a bucket, "
    "doc_id tiebreak — duplicate doc_ids get interchangeable "
    "adjacent ranks, so the output is stable as a multiset. The "
    "global rank runs through with_global_rank (range repartition + "
    "per-partition row_number + broadcast prefix-sum), never a "
    "single-task Window.orderBy — the plan that still works when "
    "the corpus is 10^10 documents.",
)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & F.col("doc_id").isNotNull())
        .select(
            "doc_id",
            F.least(
                F.lit(3), F.expr("size(split(text, ' ')) div 25")
            ).alias("bucket"),
            F.size(F.split("text", " ")).alias("n_words"),
            F.expr(_CURR_HASH).alias("h"),
        )
    )
    ranked = with_global_rank(
        scored, "bucket", "h", "doc_id", rank_col="feed_rank"
    )
    return ranked.select(
        F.col("feed_rank").cast("long").alias("feed_rank"),
        "doc_id",
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_words").cast("long").alias("n_words"),
    ).orderBy("feed_rank")


# ---------------------------------------------------------------------------
# Curation wave 5 — the selection/analysis layer a training-data
# pipeline runs AFTER dedup and quality gates:
#
# - dsir_importance_weights: DSIR (Xie et al. 2023, "Data Selection for
#   Language Models via Importance Resampling") — hashed unigram
#   importance weights log(p_target/p_raw), target = the English slice.
#   The scores that let a curator up-sample raw data toward a target
#   domain without training a classifier.
# - cross_source_dup_matrix: which sources copy from each other —
#   exact-hash overlap counts + Jaccard per source pair, the signal for
#   dropping a mirror site before paying near-dup compute on it.
# - label_centroid_similarity: pairwise cosine between label centroids —
#   labels whose centroids nearly coincide are candidates for merging
#   (or evidence of labeling noise) before the embedding corpus is used
#   for retrieval training.
# - hard_negative_mining: per anchor, the top-k most-similar vectors
#   with a DIFFERENT label — the contrastive-training pair generator.
# - vocab_coverage_curve: fraction of all token occurrences covered by
#   the top-k vocabulary (k = 100/1k/10k) — the tokenizer-budget curve.
# - packing_efficiency_report: padded vs packed sequence utilization at
#   context 128/512/2048 — what doc_pack_sequences buys, quantified.
# - token_frequency_spectrum: frequency-of-frequencies bands — the
#   min-frequency-cutoff design table for tokenizer training.
#
# Determinism contract (same discipline as `nb_lang_classifier` /
# `source_epoch_plan`): every log is quantized to integer micro-nats
# BEFORE any cross-row sum, so per-doc scores are exact BIGINT sums in
# both engines; cosines fold sequentially over 6dp-snapped centroids and
# are rounded before ranking; every ORDER BY is total (tiebreak keys).
# Fuzz posture: NULL/empty text and NULL/all-zero embeddings are
# excluded identically on both sides; norms are nullif-guarded so the
# all-zero vector yields NULL cosine, never an ANSI divide.


_N_BUCKETS = 256  # hashed-unigram feature space (DSIR uses 10^4; 256


# keeps the sf0.001 oracle fast while exercising identical plumbing)
_TARGET_LANG = "en"
_TOK_FILTER = "text IS NOT NULL AND text <> ''"


def _docs_tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source, w): one row per whitespace token of every
    non-NULL non-empty document — the shared scan of this module."""
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select(
            "doc_id",
            "lang",
            "source",
            F.explode(F.split("text", " ")).alias("w"),
        )
    )


@_register(
    "dsir_importance_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      FROM documents WHERE {_TOK_FILTER}
    ), tb AS (
      SELECT doc_id, lang, ({word32_sql('w')} % {_N_BUCKETS}) AS b
      FROM tok
    ), raw AS (
      SELECT b, COUNT(*) AS rc FROM tb GROUP BY b
    ), tots AS (
      SELECT COUNT(*) AS rt,
             SUM(CASE WHEN lang = '{_TARGET_LANG}' THEN 1 ELSE 0 END)
               AS tt
      FROM tb
    ), tgt AS (
      SELECT b, COUNT(*) AS tc FROM tb
      WHERE lang = '{_TARGET_LANG}' GROUP BY b
    ), model AS (
      SELECT r.b,
             CAST(round((ln((COALESCE(t.tc, 0) + 1.0)
                            / (s.tt + {_N_BUCKETS}.0))
                         - ln((r.rc + 1.0)
                              / (s.rt + {_N_BUCKETS}.0))) * 1000000)
                  AS BIGINT) AS lr
      FROM raw r LEFT JOIN tgt t USING (b) CROSS JOIN tots s
    ), scored AS (
      SELECT tb.doc_id, tb.lang,
             SUM(m.lr) AS s_micro, COUNT(*) AS n_toks
      FROM tb JOIN model m USING (b)
      GROUP BY tb.doc_id, tb.lang
    )
    SELECT doc_id, lang, CAST(n_toks AS BIGINT) AS n_tokens,
           ROUND((s_micro * 1.0 / n_toks) / 1000000.0, 6)
             AS dsir_weight
    FROM scored
    ORDER BY dsir_weight DESC, doc_id
    LIMIT 20
    """,
    tags=("llmdata", "sample", "ml"),
    doc="DSIR importance weights: per-token hashed-unigram (md5 mod "
    f"{_N_BUCKETS}) log-ratio of the target distribution (lang="
    f"'{_TARGET_LANG}') over the raw corpus, Laplace-smoothed, "
    "averaged per document — the importance-resampling score of Xie "
    "et al. 2023. Log-ratios are quantized to integer micro-nats "
    "per BUCKET (a 256-row broadcast model), so every per-doc score "
    "is an exact BIGINT sum — float fold order can flip nothing. "
    "Two scan-shaped shuffles (bucket counts, then doc regroup) + "
    "one broadcast; top-20 is TakeOrdered. At 100 TB the model stays "
    "KB-sized regardless of corpus size.",
)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pin the tokenized+hashed frame once per invocation (the r11
    # multi-branch pin policy): tb feeds FOUR branches (raw counts,
    # totals, target counts, doc regroup), so the split+explode and
    # the per-token md5 otherwise execute 4x
    tb = (
        _docs_tok(spark, sf_dir)
        .select(
            "doc_id",
            "lang",
            (F.expr(word32_sql("w")) % _N_BUCKETS).alias("b"),
        )
        .localCheckpoint(eager=False)
    )
    raw = tb.groupBy("b").agg(F.count(F.lit(1)).alias("rc"))
    tots = tb.agg(
        F.count(F.lit(1)).alias("rt"),
        F.sum(
            F.when(F.col("lang") == _TARGET_LANG, 1).otherwise(0)
        ).alias("tt"),
    )
    tgt = (
        tb.filter(F.col("lang") == _TARGET_LANG)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    model = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.round(
                (
                    F.log(
                        (F.coalesce("tc", F.lit(0)) + 1.0)
                        / (F.col("tt") + float(_N_BUCKETS))
                    )
                    - F.log(
                        (F.col("rc") + 1.0)
                        / (F.col("rt") + float(_N_BUCKETS))
                    )
                )
                * 1_000_000
            )
            .cast("bigint")
            .alias("lr"),
        )
    )
    scored = (
        tb.join(F.broadcast(model), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("lr").alias("s_micro"),
            F.count(F.lit(1)).alias("n_toks"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "lang",
            F.col("n_toks").cast("long").alias("n_tokens"),
            _r6(
                (F.col("s_micro") * 1.0 / F.col("n_toks")) / 1_000_000.0
            ).alias("dsir_weight"),
        )
        .orderBy(F.desc("dsir_weight"), "doc_id")
        .limit(20)
    )


@_register(
    "vocab_coverage_curve",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w
      FROM documents WHERE {_TOK_FILTER}
    ), tf AS (
      SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w
    ), ranked AS (
      SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rk
      FROM tf
    ), tot AS (
      SELECT SUM(cnt) AS total, COUNT(*) AS v FROM tf
    )
    SELECT CAST(k.k AS BIGINT) AS k,
           CAST(LEAST(k.k, t.v) AS BIGINT) AS vocab_used,
           CAST(COALESCE(SUM(CASE WHEN r.rk <= k.k THEN r.cnt END), 0)
                AS BIGINT) AS covered_tokens,
           CAST(t.total AS BIGINT) AS total_tokens,
           ROUND(COALESCE(SUM(CASE WHEN r.rk <= k.k THEN r.cnt END), 0)
                 * 1.0 / t.total, 6) AS coverage
    FROM ranked r
    CROSS JOIN (VALUES (100), (1000), (10000)) k(k)
    CROSS JOIN tot t
    GROUP BY k.k, t.v, t.total
    ORDER BY k
    """,
    tags=("llmdata", "text", "rank"),
    doc="Vocabulary coverage curve: share of ALL token occurrences "
    "covered by the top-k most frequent terms (k = 100/1k/10k) — the "
    "table a tokenizer budget decision reads (complements "
    "zipf_slope/corpus_heaps_stats with the actionable cumulative "
    "form). Term ranking runs through with_global_rank (range "
    "repartition + prefix-sum) on (-cnt, term) — never a "
    "single-task global window over a 100M-term vocabulary; the "
    "3-row k table broadcasts onto the ranked terms and one "
    "partial agg folds the conditional sums.",
)
def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = (
        _docs_tok(spark, sf_dir)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = with_global_rank(
        tf.withColumn("neg_cnt", -F.col("cnt")),
        "neg_cnt",
        "w",
        rank_col="rk",
    ).select("cnt", "rk")
    tot = tf.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("v")
    )
    ks = tot.select(
        F.explode(
            F.array(F.lit(100), F.lit(1000), F.lit(10000))
        ).alias("k"),
        "total",
        "v",
    )
    covered = F.sum(
        F.when(F.col("rk") <= F.col("k"), F.col("cnt"))
    )
    return (
        ranked.crossJoin(F.broadcast(ks))
        .groupBy("k", "v", "total")
        .agg(F.coalesce(covered, F.lit(0)).alias("covered"))
        .select(
            F.col("k").cast("long").alias("k"),
            F.least("k", "v").cast("long").alias("vocab_used"),
            F.col("covered").cast("long").alias("covered_tokens"),
            F.col("total").cast("long").alias("total_tokens"),
            _r6(F.col("covered") * 1.0 / F.col("total")).alias(
                "coverage"
            ),
        )
        .orderBy("k")
    )


@_register(
    "packing_efficiency_report",
    oracle=f"""
    WITH d AS (
      SELECT len(string_split(text, ' ')) AS toks
      FROM documents WHERE {_TOK_FILTER}
    )
    SELECT CAST(c.ctx AS BIGINT) AS ctx,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEAST(d.toks, c.ctx)) AS BIGINT) AS tokens_kept,
           CAST(CEIL(SUM(LEAST(d.toks, c.ctx)) * 1.0 / c.ctx)
                AS BIGINT) AS packed_bins,
           ROUND(SUM(LEAST(d.toks, c.ctx)) * 1.0
                 / (COUNT(*) * c.ctx), 6) AS util_padded,
           ROUND(SUM(LEAST(d.toks, c.ctx)) * 1.0
                 / (CEIL(SUM(LEAST(d.toks, c.ctx)) * 1.0 / c.ctx)
                    * c.ctx), 6) AS util_packed
    FROM d CROSS JOIN (VALUES (128), (512), (2048)) c(ctx)
    GROUP BY c.ctx
    ORDER BY ctx
    """,
    tags=("llmdata", "agg"),
    doc="Packing efficiency: at context 128/512/2048, the slot "
    "utilization of one-doc-per-sequence padding vs perfect "
    "first-fit packing (lower bound ceil(total/ctx) bins) — "
    "quantifies what doc_pack_sequences buys and picks the context "
    "length. Docs longer than the context are truncated (LEAST). "
    "Pure integer aggregates over one scan crossed with a 3-row "
    "literal — fold-order-free, zero data shuffles beyond the "
    "3-group partial agg.",
)
def q_packing_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select(F.size(F.split("text", " ")).alias("toks"))
    )
    ctxs = spark.range(1).select(
        F.explode(
            F.array(F.lit(128), F.lit(512), F.lit(2048))
        ).alias("ctx")
    )
    kept = F.sum(F.least(F.col("toks"), F.col("ctx")))
    agg = (
        d.crossJoin(F.broadcast(ctxs))
        .groupBy("ctx")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            kept.alias("tokens_kept"),
        )
    )
    packed = F.ceil(F.col("tokens_kept") * 1.0 / F.col("ctx"))
    return agg.select(
        F.col("ctx").cast("long").alias("ctx"),
        "n_docs",
        F.col("tokens_kept").cast("long").alias("tokens_kept"),
        packed.cast("long").alias("packed_bins"),
        _r6(
            F.col("tokens_kept") * 1.0 / (F.col("n_docs") * F.col("ctx"))
        ).alias("util_padded"),
        _r6(
            F.col("tokens_kept") * 1.0 / (packed * F.col("ctx"))
        ).alias("util_packed"),
    ).orderBy("ctx")


@_register(
    "token_frequency_spectrum",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w
      FROM documents WHERE {_TOK_FILTER}
    ), tf AS (
      SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w
    ), banded AS (
      SELECT cnt,
             CASE WHEN cnt = 1 THEN 1 WHEN cnt = 2 THEN 2
                  WHEN cnt < 10 THEN 3 WHEN cnt < 100 THEN 10
                  WHEN cnt < 1000 THEN 100 ELSE 1000 END AS band_lo,
             CASE WHEN cnt = 1 THEN '1' WHEN cnt = 2 THEN '2'
                  WHEN cnt < 10 THEN '3-9' WHEN cnt < 100 THEN '10-99'
                  WHEN cnt < 1000 THEN '100-999'
                  ELSE '1000+' END AS band
      FROM tf
    ), tot AS (SELECT SUM(cnt) AS total FROM tf)
    SELECT b.band,
           CAST(b.band_lo AS BIGINT) AS band_lo,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(b.cnt) AS BIGINT) AS token_mass,
           ROUND(SUM(b.cnt) * 1.0 / t.total, 6) AS mass_share
    FROM banded b CROSS JOIN tot t
    GROUP BY b.band, b.band_lo, t.total
    ORDER BY band_lo
    """,
    tags=("llmdata", "text", "agg"),
    doc="Token frequency-of-frequencies spectrum: how many distinct "
    "terms occur once / twice / 3-9 / 10-99 / 100-999 / 1000+ times "
    "and what share of total token mass each band carries — the "
    "design table for a tokenizer's min-frequency cutoff (hapax "
    "band = OOV exposure). Integer-only except the final share; one "
    "term-count shuffle then a 6-group partial agg.",
)
def q_token_frequency_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = (
        _docs_tok(spark, sf_dir)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    band_lo = (
        F.when(F.col("cnt") == 1, 1)
        .when(F.col("cnt") == 2, 2)
        .when(F.col("cnt") < 10, 3)
        .when(F.col("cnt") < 100, 10)
        .when(F.col("cnt") < 1000, 100)
        .otherwise(1000)
    )
    band = (
        F.when(F.col("cnt") == 1, "1")
        .when(F.col("cnt") == 2, "2")
        .when(F.col("cnt") < 10, "3-9")
        .when(F.col("cnt") < 100, "10-99")
        .when(F.col("cnt") < 1000, "100-999")
        .otherwise("1000+")
    )
    banded = tf.select(
        "cnt", band_lo.alias("band_lo"), band.alias("band")
    )
    tot = tf.agg(F.sum("cnt").alias("total"))
    return (
        banded.crossJoin(F.broadcast(tot))
        .groupBy("band", "band_lo", "total")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("cnt").alias("token_mass"),
        )
        .select(
            "band",
            F.col("band_lo").cast("long").alias("band_lo"),
            F.col("n_terms").cast("long").alias("n_terms"),
            F.col("token_mass").cast("long").alias("token_mass"),
            _r6(F.col("token_mass") * 1.0 / F.col("total")).alias(
                "mass_share"
            ),
        )
        .orderBy("band_lo")
    )


# ---------------------------------------------------------------------------
# Cross-source score calibration — the fix for 'source A's quality
# scores are not on source B's scale' before any global threshold or
# mixture decision:
#
# - quantile_normalize_doclen: EXACT distributed quantile normalization
#   (the genomics-standard transform): each doc's within-source
#   percentile rank is mapped to the global distribution's value at the
#   same rank. Within-source ranks are windows on the source key; the
#   global rank runs through with_global_rank's range-partitioned
#   prefix-sum; the rank->value mapping is a shuffle equi-join on the
#   integer target rank. No approximation, no collect.
# - source_length_calibration: the per-source quantile cutoff table
#   (p10..p90 + a '__all__' row) — the compact artifact a curator reads
#   before trusting a single global length threshold. Exact linear
#   interpolation (Spark percentile == DuckDB quantile_cont, the
#   value_percentiles contract).
#
# Word count stands in for any per-doc quality score; the plan is
# score-agnostic. Determinism: percentile ranks are exact rationals
# computed from window row_numbers with doc_id tiebreaks; the target
# rank is round(pr * (N-1)) + 1 on bit-identical doubles.


_QS = (0.1, 0.25, 0.5, 0.75, 0.9)


def _doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).alias("wc"),
        )
    )


@_register(
    "quantile_normalize_doclen",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS wc
      FROM documents WHERE {_TOK_FILTER}
    ), s AS (
      SELECT doc_id, source, wc,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY wc, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM d
    ), g AS (
      SELECT wc AS gwc,
             ROW_NUMBER() OVER (ORDER BY wc, doc_id) AS gr
      FROM d
    ), tot AS (SELECT COUNT(*) AS nn FROM d),
    pr AS (
      SELECT doc_id, source, wc,
             CASE WHEN n = 1 THEN 0.5
                  ELSE (rn - 1) * 1.0 / (n - 1) END AS pr
      FROM s
    ), tgt AS (
      SELECT p.doc_id, p.source, p.wc, p.pr,
             CAST(round(p.pr * (t.nn - 1)) AS BIGINT) + 1 AS tr
      FROM pr p CROSS JOIN tot t
    )
    SELECT tg.doc_id, tg.source, CAST(tg.wc AS BIGINT) AS n_words,
           ROUND(tg.pr, 6) AS source_pr,
           CAST(g.gwc AS BIGINT) AS calibrated_len
    FROM tgt tg JOIN g ON g.gr = tg.tr
    ORDER BY calibrated_len DESC, doc_id
    LIMIT 20
    """,
    tags=("llmdata", "rank", "window"),
    doc="Exact quantile normalization of per-doc length across "
    "sources: within-source percentile rank (row_number window with "
    "doc_id tiebreak; a 1-doc source pins pr=0.5) mapped to the "
    "global distribution's value at round(pr*(N-1))+1 — a shuffle "
    "equi-join on the integer target rank against the "
    "range-partitioned global rank (with_global_rank), so no "
    "single-task window and no approximation at any corpus size. "
    "Top-20 by calibrated value. The transform that puts source A's "
    "scores on source B's scale before a global cutoff.",
)
def q_quantile_normalize_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _doclen(spark, sf_dir)
    # within-source rank + count via the grouped prefix machinery —
    # the plain source-partitioned window caps parallelism at
    # |sources| (operators/rank.py::with_grouped_global_rank)
    ranked = with_grouped_global_rank(
        d, ["source"], "wc", "doc_id", rank_col="rn"
    )
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    s = ranked.join(
        F.broadcast(counts).withColumnRenamed("source", "__c_src"),
        F.col("source").eqNullSafe(F.col("__c_src")),
    ).drop("__c_src")
    pr = s.select(
        "doc_id",
        "source",
        "wc",
        F.when(F.col("n") == 1, 0.5)
        .otherwise((F.col("rn") - 1) * 1.0 / (F.col("n") - 1))
        .alias("pr"),
    )
    g = with_global_rank(
        d.select("wc", "doc_id"), "wc", "doc_id", rank_col="gr"
    ).select(F.col("wc").alias("gwc"), "gr")
    tot = d.agg(F.count(F.lit(1)).alias("nn"))
    tgt = pr.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "source",
        "wc",
        "pr",
        (
            F.round(F.col("pr") * (F.col("nn") - 1)).cast("bigint") + 1
        ).alias("tr"),
    )
    return (
        tgt.join(g, tgt["tr"] == g["gr"])
        .select(
            "doc_id",
            "source",
            F.col("wc").cast("long").alias("n_words"),
            _r6(F.col("pr")).alias("source_pr"),
            F.col("gwc").cast("long").alias("calibrated_len"),
        )
        .orderBy(F.desc("calibrated_len"), "doc_id")
        .limit(20)
    )


@_register(
    "source_length_calibration",
    oracle=f"""
    WITH d AS (
      SELECT source, len(string_split(text, ' ')) AS wc
      FROM documents WHERE {_TOK_FILTER}
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           {", ".join(
               f"ROUND(quantile_cont(wc, {q}), 6)"
               f" AS p{int(q * 100)}" for q in _QS
           )}
    FROM d GROUP BY source
    UNION ALL
    SELECT '__all__', CAST(COUNT(*) AS BIGINT),
           {", ".join(
               f"ROUND(quantile_cont(wc, {q}), 6)" for q in _QS
           )}
    FROM d
    ORDER BY source
    """,
    tags=("llmdata", "agg", "percentile"),
    doc="Per-source length quantile cutoffs (p10..p90) plus the "
    "global '__all__' row — the calibration table read before "
    "trusting one global length threshold across heterogeneous "
    "sources. Exact interpolated percentiles (Spark percentile == "
    "DuckDB quantile_cont); two partial-agg passes over one scan. "
    "At 100 TB swap percentile_approx per the value_percentiles "
    "note.",
)
def q_source_length_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _doclen(spark, sf_dir).select("source", "wc")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            _r6(F.expr(f"percentile(wc, {q})")).alias(f"p{int(q * 100)}")
            for q in _QS
        ],
    )
    glob = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            _r6(F.expr(f"percentile(wc, {q})")).alias(f"p{int(q * 100)}")
            for q in _QS
        ],
    ).select(F.lit("__all__").alias("source"), "*")
    return per.unionByName(
        glob.select("source", "n_docs", *[f"p{int(q * 100)}" for q in _QS])
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Round-8 curation wave: snippet-containment dedup (the asymmetric
# screen Jaccard-based tiers structurally miss), an exact two-sample KS
# drift monitor, deterministic k-fold assembly, BM25 retrieval scoring,
# distinctive-term profiling, and tokenizer fertility — the remaining
# corpus-curation operators a 100 TB training-data pipeline runs that
# the existing dedup/quality/sampling families don't cover.
#
# Reference parity: the reference's analytics stop at indicator math
# (app/dashboard.py); these extend the LLM-data suite the way the MinHash /
# decontamination / sampling families did in rounds 3-7.
#
# Scale posture (shared by every query here):
# - nothing broadcasts a vocabulary-keyed or shingle-keyed frame — the
#   round-8 sweep (test_no_broadcast_hint_on_vocabulary_frames) fails
#   any hint over an explode-derived key; only 1-row scalars and
#   config-enumerated frames (|sources|, |langs|, |folds|) are hinted;
# - pair expansion is always bounded at the source (shingle df cap) —
#   never a corpus self-join;
# - global order statistics ride the range-partitioned prefix-sum
#   machinery (operators/rank.py), never a single-task window.


# --------------------------------------------------------------------
# exact two-sample Kolmogorov-Smirnov drift by source
# --------------------------------------------------------------------


@_register(
    "ks_drift_by_source",
    oracle="""
    WITH d AS (
      SELECT source, n_chars FROM documents
      WHERE source IS NOT NULL AND n_chars IS NOT NULL
    ), counts AS (
      SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS c
      FROM d GROUP BY source, n_chars
    ), grid AS (
      SELECT v.n_chars, s.source, COALESCE(c.c, 0) AS c
      FROM (SELECT DISTINCT n_chars FROM d) v
      CROSS JOIN (SELECT DISTINCT source FROM d) s
      LEFT JOIN counts c
        ON c.n_chars = v.n_chars AND c.source = s.source
    ), cum AS (
      SELECT source, n_chars,
             SUM(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum_s
      FROM grid
    ), cumall AS (
      SELECT n_chars, SUM(cum_s) AS cum_all
      FROM cum GROUP BY n_chars
    ), ns AS (
      SELECT source, SUM(c) AS n_s FROM counts GROUP BY source
    ), tot AS (
      SELECT SUM(c) AS n FROM counts
    ), dstat AS (
      SELECT c.source,
             MAX(ABS(c.cum_s * 1.0 / ns.n_s
                     - (ca.cum_all - c.cum_s) * 1.0 / (tot.n - ns.n_s)))
               AS ks
      FROM cum c
      JOIN cumall ca ON c.n_chars = ca.n_chars
      JOIN ns ON c.source = ns.source
      CROSS JOIN tot
      WHERE ns.n_s < tot.n
      GROUP BY c.source
    )
    SELECT d.source,
           CAST(ns.n_s AS BIGINT) AS n_docs,
           ROUND(d.ks, 6) AS ks_stat,
           ROUND(1.358 * sqrt(tot.n * 1.0 / (ns.n_s * (tot.n - ns.n_s))),
                 6) AS critical_05,
           d.ks > 1.358 * sqrt(tot.n * 1.0 / (ns.n_s * (tot.n - ns.n_s)))
             AS drifted
    FROM dstat d JOIN ns ON d.source = ns.source CROSS JOIN tot
    ORDER BY d.source
    """,
    tags=("llmdata", "stats", "quality"),
    doc="Exact two-sample Kolmogorov-Smirnov drift per source "
    "(source vs rest-of-corpus) on document length: D = sup over "
    "observed lengths of |ECDF_s - ECDF_rest|, with the asymptotic "
    "5% critical value 1.358*sqrt((n+m)/(n*m)) — the distribution- "
    "free drift monitor that catches shape changes PSI's fixed bins "
    "smooth over (complement to psi_value_drift).  Shape: one "
    "(source, length) partial-agg shuffle; the ECDF grid is "
    "|distinct lengths| x |sources| — value-DOMAIN-sized (doc "
    "lengths, not doc counts) x config-enumerated — cumulated by a "
    "PER-SOURCE window (parallelism |sources|, each over the length "
    "domain), and the pooled ECDF is recovered as the SUM of the "
    "per-source cumulatives at each length (one metadata-sized "
    "groupBy), so no global single-task window exists anywhere.  "
    "Only the |sources| grid frame is broadcast.",
)
def q_ks_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("n_chars").isNotNull()
    )
    counts = d.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("c")
    )
    vals = d.select("n_chars").distinct()
    # source is a config-enumerated set (|sources| ~ dozens):
    # broadcasting the source list is metadata, not data
    srcs = d.select("source").distinct()
    grid = (
        vals.crossJoin(F.broadcast(srcs))
        .join(counts, ["source", "n_chars"], "left")
        .select(
            "source", "n_chars", F.coalesce("c", F.lit(0)).alias("c")
        )
    )
    cum = grid.select(
        "source",
        "n_chars",
        F.sum("c")
        .over(
            Window.partitionBy("source")
            .orderBy("n_chars")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("cum_s"),
    )
    cumall = cum.groupBy("n_chars").agg(F.sum("cum_s").alias("cum_all"))
    ns = counts.groupBy("source").agg(F.sum("c").alias("n_s"))
    tot = counts.agg(F.sum("c").alias("n"))
    dstat = (
        cum.join(cumall, "n_chars")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("n_s") < F.col("n"))
        .groupBy("source")
        .agg(
            F.max(
                F.abs(
                    F.col("cum_s") * 1.0 / F.col("n_s")
                    - (F.col("cum_all") - F.col("cum_s"))
                    * 1.0
                    / (F.col("n") - F.col("n_s"))
                )
            ).alias("ks")
        )
    )
    crit = 1.358 * F.sqrt(
        F.col("n") * 1.0 / (F.col("n_s") * (F.col("n") - F.col("n_s")))
    )
    return (
        dstat.join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_s").cast("bigint").alias("n_docs"),
            _r6(F.col("ks")).alias("ks_stat"),
            _r6(crit).alias("critical_05"),
            (F.col("ks") > crit).alias("drifted"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# deterministic k-fold assembly
# --------------------------------------------------------------------

_KFOLDS = 10


@_register(
    "kfold_assignment_report",
    oracle=f"""
    WITH f AS (
      SELECT {hex_to_int_sql("md5(CAST(doc_id AS VARCHAR))")} % {_KFOLDS}
               AS fold,
             doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), agg AS (
      SELECT fold,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
      FROM f GROUP BY fold
    ), tot AS (
      SELECT SUM(n_docs) AS n FROM agg
    )
    SELECT a.fold, a.n_docs, a.n_tokens, a.n_langs,
           ROUND(a.n_docs * 1.0 / t.n, 6) AS share,
           ABS(a.n_docs * 1.0 / t.n - 1.0 / {_KFOLDS}) <= 0.03
             AS balanced
    FROM agg a CROSS JOIN tot t
    ORDER BY a.fold
    """,
    tags=("llmdata", "sampling", "ml"),
    doc=f"Deterministic {_KFOLDS}-fold cross-validation assignment: "
    "fold = md5(doc_id) mod k — content-independent (id-keyed, so a "
    "doc keeps its fold across corpus versions) and seedless-"
    "reproducible across engines, the property a training pipeline "
    "needs to re-derive any fold on demand instead of persisting "
    "membership lists.  The report certifies the split: per-fold doc "
    "and token counts, language coverage, and a +-3pp balance flag "
    "against the ideal 1/k share.  One partial-agg shuffle on the "
    "fold key (k cells); the total joins back as a broadcast 1-row "
    "scalar.  The grouped companion to doc_train_test_split's "
    "two-way split.",
)
def q_kfold_assignment_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # Spark spells the string cast STRING, DuckDB VARCHAR — same
    # rendered digits, same md5 bytes, same fold
    f = d.select(
        (
            F.expr(hex_to_int_sql("md5(cast(doc_id as string))"))
            % _KFOLDS
        ).alias("fold"),
        "lang",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    agg = f.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
    )
    tot = agg.agg(F.sum("n_docs").alias("n"))
    share = F.col("n_docs") * 1.0 / F.col("n")
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "fold",
            "n_docs",
            "n_tokens",
            "n_langs",
            _r6(share).alias("share"),
            (F.abs(share - 1.0 / _KFOLDS) <= 0.03).alias("balanced"),
        )
        .orderBy("fold")
    )


# --------------------------------------------------------------------
# BM25 retrieval scoring
# --------------------------------------------------------------------

_BM25_QUERY = ("merge", "window", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75


@_register(
    "bm25_topk_docs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks
      GROUP BY doc_id
    ), avgdl AS (
      SELECT AVG(dl) AS avgdl, COUNT(*) AS n FROM dl
    ), qtf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
      WHERE term IN {_BM25_QUERY!r}
      GROUP BY doc_id, term
    ), qdf AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM qtf GROUP BY term
    ), scored AS (
      SELECT q.doc_id,
             SUM(ln(1.0 + (a.n - d.df + 0.5) / (d.df + 0.5))
                 * q.tf * ({_BM25_K1} + 1.0)
                 / (q.tf + {_BM25_K1}
                    * (1.0 - {_BM25_B}
                       + {_BM25_B} * l.dl / a.avgdl))) AS score,
             CAST(COUNT(*) AS BIGINT) AS n_terms_hit
      FROM qtf q
      JOIN qdf d ON q.term = d.term
      JOIN dl l ON q.doc_id = l.doc_id
      CROSS JOIN avgdl a
      GROUP BY q.doc_id
    )
    SELECT doc_id, n_terms_hit, ROUND(score, 6) AS bm25
    FROM scored
    ORDER BY score DESC, doc_id LIMIT 20
    """,
    tags=("llmdata", "text", "topk"),
    doc=f"BM25 (k1={_BM25_K1}, b={_BM25_B}) top-20 documents for the "
    f"fixed query {list(_BM25_QUERY)} with corpus-derived statistics "
    "— the lexical-retrieval scorer a curation pipeline uses for "
    "targeted corpus search and hard-negative seeding (complement to "
    "tfidf_top_terms, which profiles docs rather than answering "
    "queries).  Scale shape: the term scan filters to the query's "
    "literal term set BEFORE any aggregation, so tf/df frames are "
    "bounded by |query| x matching docs; doc length is one partial-"
    "agg shuffle; avgdl and N are a broadcast 1-row scalar; top-20 "
    "is a TakeOrdered, never a global sort.  No vocabulary-sized "
    "frame is built at all — BM25 over a fixed query needs only the "
    "query slice of the index.",
)
def q_bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    avgdl = dl.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n")
    )
    qtf = (
        toks.filter(F.col("term").isin(*_BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    qdf = qtf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = (
        idf
        * F.col("tf")
        * (_BM25_K1 + 1.0)
        / (
            F.col("tf")
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        qtf.join(qdf, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .groupBy("doc_id")
        .agg(
            F.sum(contrib).alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .select(
            "doc_id",
            "n_terms_hit",
            _r6(F.col("score")).alias("bm25"),
            F.col("score").alias("__s"),
        )
        .orderBy(F.desc("__s"), "doc_id")
        .limit(20)
        .drop("__s")
    )


# --------------------------------------------------------------------
# distinctive terms per source (smoothed log-odds)
# --------------------------------------------------------------------


@_register(
    "source_log_odds_terms",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS term
      FROM documents WHERE source IS NOT NULL
    ), cst AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY source, term
    ), ct AS (
      SELECT term, SUM(c) AS ct FROM cst GROUP BY term
    ), ns AS (
      SELECT source, SUM(c) AS n_s FROM cst GROUP BY source
    ), scal AS (
      SELECT SUM(c) AS n_tok,
             COUNT(DISTINCT term) AS v
      FROM cst
    ), scored AS (
      SELECT cst.source, cst.term, cst.c,
             ln(((cst.c + 1.0) / (ns.n_s + s.v))
                / ((ct.ct - cst.c + 1.0) / (s.n_tok - ns.n_s + s.v)))
               AS score
      FROM cst
      JOIN ct ON cst.term = ct.term
      JOIN ns ON cst.source = ns.source
      CROSS JOIN scal s
    ), ranked AS (
      SELECT source, term, c, score,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY score DESC, term) AS rank
      FROM scored
    )
    SELECT source, CAST(rank AS BIGINT) AS rank, term,
           c AS term_count, ROUND(score, 6) AS log_odds
    FROM ranked WHERE rank <= 5
    ORDER BY source, rank
    """,
    tags=("llmdata", "text", "quality"),
    doc="Distinctive terms per source: add-one-smoothed log-odds of "
    "each term in a source vs the rest of the corpus, top-5 per "
    "source — the register/domain profile a mixture designer reads "
    "before setting source weights (which source is code-like, "
    "which is chatty).  Scale shape: two partial-agg shuffles over "
    "the (source, term) and term keys; the per-term marginal joins "
    "back UNHINTED (vocabulary-sized — the round-8 broadcast gate "
    "fails a hint here); |sources| totals and the 2-scalar frame "
    "broadcast.  The per-source top-5 rides "
    "with_grouped_global_rank's range-partitioned prefix sum over "
    "the (source x vocab) frame, so rank parallelism is the cluster "
    "width, not |sources|.",
)
def q_source_log_odds_terms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from stockpulse_spark.operators.rank import with_grouped_global_rank

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    )
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    )
    cst = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    ct = cst.groupBy("term").agg(F.sum("c").alias("ct"))
    ns = cst.groupBy("source").agg(F.sum("c").alias("n_s"))
    scal = cst.agg(
        F.sum("c").alias("n_tok"), F.countDistinct("term").alias("v")
    )
    scored = (
        cst.join(ct, "term")  # unhinted: vocabulary-sized marginal
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(scal))
        .select(
            "source",
            "term",
            "c",
            F.log(
                ((F.col("c") + 1.0) / (F.col("n_s") + F.col("v")))
                / (
                    (F.col("ct") - F.col("c") + 1.0)
                    / (F.col("n_tok") - F.col("n_s") + F.col("v"))
                )
            ).alias("score"),
        )
    )
    return (
        with_grouped_global_rank(
            scored, ["source"], "-score", "term", rank_col="rank"
        )
        .filter(F.col("rank") <= 5)
        .select(
            "source",
            F.col("rank").cast("bigint").alias("rank"),
            "term",
            F.col("c").alias("term_count"),
            _r6(F.col("score")).alias("log_odds"),
        )
        .orderBy("source", "rank")
    )


# --------------------------------------------------------------------
# tokenizer fertility by language
# --------------------------------------------------------------------

_TOKEN_RE = "[a-z]+|[0-9]|[^a-z0-9 ]"


@_register(
    "tokenizer_fertility_by_lang",
    oracle=f"""
    WITH d AS (
      SELECT lang, text,
             len(string_split(text, ' ')) AS n_words,
             len(regexp_extract_all(text, '{_TOKEN_RE}')) AS n_subtok,
             length(text) AS n_chars
      FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
    ), agg AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_words) AS BIGINT) AS n_words,
             CAST(SUM(n_subtok) AS BIGINT) AS n_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM d GROUP BY lang
    )
    SELECT lang, n_docs, n_words, n_tokens,
           CASE WHEN n_words > 0
                THEN ROUND(n_tokens * 1.0 / n_words, 6) END AS fertility,
           CASE WHEN n_tokens > 0
                THEN ROUND(n_chars * 1.0 / n_tokens, 6) END
             AS chars_per_token
    FROM agg ORDER BY lang
    """,
    tags=("llmdata", "text", "tokenizer"),
    doc="Tokenizer fertility by language: sub-tokens per whitespace "
    "word and bytes-per-token under a BPE-ish pre-tokenization regex "
    "(letter runs | single digits | punctuation) — the per-language "
    "cost model a multilingual budget planner needs, since fertility "
    "differences of 2-4x between languages change effective token "
    "budgets by the same factor.  Entirely in-row (regexp_extract_all "
    "+ array lengths inside the scan projection, no explode, no "
    "join) followed by one |langs|-cell partial-agg shuffle — the "
    "cheapest possible corpus pass.  Ratio guards keep empty "
    "languages NULL instead of raising under ANSI division.",
)
def q_tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select(
            "lang",
            F.size(F.split("text", " ")).alias("n_words"),
            F.size(
                F.expr(f"regexp_extract_all(text, '{_TOKEN_RE}', 0)")
            ).alias("n_subtok"),
            F.length("text").alias("n_chars"),
        )
    )
    agg = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.sum("n_subtok").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_words",
        "n_tokens",
        F.when(
            F.col("n_words") > 0,
            _r6(F.col("n_tokens") * 1.0 / F.col("n_words")),
        ).alias("fertility"),
        F.when(
            F.col("n_tokens") > 0,
            _r6(F.col("n_chars") * 1.0 / F.col("n_tokens")),
        ).alias("chars_per_token"),
    ).orderBy("lang")


# --------------------------------------------------------------------
# code-vs-prose screen with planted codeified cohort
# --------------------------------------------------------------------

_CODE_SYM_THRESHOLD = 0.05
_CODE_PAREN_PER100 = 1.0


@_register(
    "code_detect_eval",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text,
             {hex_to_int_sql("md5(text)")} % 100 AS bucket
      FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ), corpus AS (
      -- no synthetic ids at all: the screen reads features per row
      -- and ids never join, so the corpus carries only (text, cohort)
      SELECT text, 'natural' AS cohort FROM base
      UNION ALL
      SELECT 'def f(' || replace(text, ' ', '(x); ') || ') {{ return 0; }}',
             'planted_code'
      FROM base WHERE bucket >= 90
    ), feat AS (
      SELECT cohort,
             length(text) AS n_chars,
             length(text)
               - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
               AS n_sym,
             length(text) - length(replace(text, '(', '')) AS n_paren
      FROM corpus
    ), scored AS (
      SELECT cohort,
             n_sym * 1.0 / n_chars AS sym_ratio,
             n_paren * 100.0 / n_chars AS paren_per_100
      FROM feat WHERE n_chars > 0
    )
    SELECT cohort,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN sym_ratio > {_CODE_SYM_THRESHOLD}
                          AND paren_per_100 > {_CODE_PAREN_PER100}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           ROUND(SUM(CASE WHEN sym_ratio > {_CODE_SYM_THRESHOLD}
                           AND paren_per_100 > {_CODE_PAREN_PER100}
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
             AS flag_rate,
           ROUND(AVG(sym_ratio), 6) AS avg_sym_ratio,
           ROUND(AVG(paren_per_100), 6) AS avg_paren_per_100
    FROM scored GROUP BY cohort ORDER BY cohort
    """,
    tags=("llmdata", "text", "quality", "evaluation"),
    doc="Code-vs-prose screen with a measured catch rate: flags a "
    f"document as code when symbol density > {_CODE_SYM_THRESHOLD} "
    f"AND parentheses per 100 chars > {_CODE_PAREN_PER100} — the "
    "register filter a prose-corpus curator runs (code contaminating "
    "a prose corpus shifts every downstream quality metric), with "
    "the same planted-cohort honesty contract as the containment "
    "tier: every eval-bucket document is codeified "
    "deterministically (words wrapped in '(x); ' call syntax) and "
    "the per-cohort flag rates are the driver-hashed evidence that "
    "the screen separates the cohorts (natural word-salad prose has "
    "ZERO symbols, so its rate is exactly 0.0 and the planted rate "
    "1.0 — closed form, asserted in tests).  Entirely in-row feature "
    "extraction (length/replace/regexp_replace inside the scan "
    "projection, no explode) + one |cohorts|-cell partial agg — the "
    "cheapest corpus-pass shape, same as tokenizer_fertility.",
)
def q_code_detect_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select(
            "doc_id",
            "text",
            (F.expr(hex_to_int_sql("md5(text)")) % 100).alias("bucket"),
        )
    )
    corpus = base.select(
        "text", F.lit("natural").alias("cohort")
    ).unionAll(
        base.filter(F.col("bucket") >= 90).select(
            F.concat(
                F.lit("def f("),
                F.regexp_replace("text", " ", "(x); "),
                F.lit(") { return 0; }"),
            ).alias("text"),
            F.lit("planted_code").alias("cohort"),
        )
    )
    feat = corpus.select(
        "cohort",
        F.length("text").alias("n_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
        ).alias("n_sym"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "\\(", ""))
        ).alias("n_paren"),
    ).filter(F.col("n_chars") > 0)
    scored = feat.select(
        "cohort",
        (F.col("n_sym") * 1.0 / F.col("n_chars")).alias("sym_ratio"),
        (F.col("n_paren") * 100.0 / F.col("n_chars")).alias(
            "paren_per_100"
        ),
    )
    is_code = (F.col("sym_ratio") > _CODE_SYM_THRESHOLD) & (
        F.col("paren_per_100") > _CODE_PAREN_PER100
    )
    return (
        scored.groupBy("cohort")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(is_code, 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
            _r6(
                F.sum(F.when(is_code, 1).otherwise(0))
                * 1.0
                / F.count(F.lit(1))
            ).alias("flag_rate"),
            _r6(F.avg("sym_ratio")).alias("avg_sym_ratio"),
            _r6(F.avg("paren_per_100")).alias("avg_paren_per_100"),
        )
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# 2. per-domain document caps

_DOMAIN_CAP = 64


@_register(
    "domain_cap_enforcement",
    oracle=f"""
    WITH base AS (
      SELECT source, doc_id, md5(text) AS fp,
             CASE WHEN text IS NULL THEN 0
                  ELSE len(string_split(text, ' ')) END AS n_tok
      FROM documents
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY fp, doc_id) AS rnk
      FROM base
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rnk <= {_DOMAIN_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN rnk <= {_DOMAIN_CAP} THEN n_tok ELSE 0 END)
                AS BIGINT) AS tokens_kept,
           ROUND(SUM(CASE WHEN rnk <= {_DOMAIN_CAP} THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS keep_rate
    FROM ranked GROUP BY source ORDER BY source
    """,
    tags=("llmdata", "curation", "topk"),
    doc=f"C4-style per-domain document quota: keep at most "
    f"{_DOMAIN_CAP} docs per source, selected by a DETERMINISTIC "
    "content rank (md5(text), doc_id ascending — a content hash "
    "spreads the keep set across the domain instead of biasing to "
    "early ids), and report the per-domain enforcement economics "
    "(docs/tokens kept vs total).  The quota step every web-scale "
    "corpus runs so no single domain dominates the mixture.  Scale "
    "shape: the rank rides with_grouped_global_rank's range-"
    "partitioned prefix sum — parallelism stays cluster-width when "
    "'source' is millions of domains AND when one domain holds half "
    "the crawl (the hot-domain rows spread over many range "
    "partitions; the per-(partition, group) counts frame the offsets "
    "window runs on is metadata-sized).",
)
def q_domain_cap_enforcement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_spark.operators.rank import with_grouped_global_rank

    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "source",
        "doc_id",
        F.md5(F.encode(F.col("text"), "utf-8")).alias("fp"),
        F.when(F.col("text").isNull(), F.lit(0))
        .otherwise(F.size(F.split("text", " ")))
        .alias("n_tok"),
    )
    ranked = with_grouped_global_rank(
        base, ["source"], "fp", "doc_id", rank_col="rnk"
    )
    kept = F.col("rnk") <= _DOMAIN_CAP
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum("n_tok").cast("bigint").alias("tokens_total"),
            F.sum(F.when(kept, F.col("n_tok")).otherwise(0))
            .cast("bigint")
            .alias("tokens_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            "tokens_total",
            "tokens_kept",
            _r6(F.col("n_kept") * 1.0 / F.col("n_docs")).alias("keep_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# 3. chunking economics (size/stride token expansion), closed form

_CHUNK_SIZE = 64
_CHUNK_STRIDE = 48


@_register(
    "chunk_stride_plan",
    oracle=f"""
    WITH base AS (
      SELECT source,
             CASE WHEN text IS NULL THEN 0
                  ELSE len(string_split(text, ' ')) END AS n
      FROM documents
    ), per_doc AS (
      SELECT source, n,
             CASE WHEN n <= 0 THEN 0
                  WHEN n <= {_CHUNK_SIZE} THEN 1
                  ELSE 1 + (n - {_CHUNK_SIZE} + {_CHUNK_STRIDE} - 1)
                           // {_CHUNK_STRIDE}
             END AS m
      FROM base
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(m) AS BIGINT) AS n_chunks,
           CAST(SUM(n) AS BIGINT) AS tokens_in,
           CAST(SUM(CASE WHEN m >= 1
                    THEN n + ({_CHUNK_SIZE} - {_CHUNK_STRIDE}) * (m - 1)
                    ELSE 0 END) AS BIGINT) AS tokens_emitted,
           ROUND(SUM(CASE WHEN m >= 1
                     THEN n + ({_CHUNK_SIZE} - {_CHUNK_STRIDE}) * (m - 1)
                     ELSE 0 END) * 1.0 / nullif(SUM(n), 0), 6)
             AS expansion_factor
    FROM per_doc GROUP BY source ORDER BY source
    """,
    tags=("llmdata", "curation"),
    doc=f"Chunking economics for a size-{_CHUNK_SIZE}/stride-"
    f"{_CHUNK_STRIDE} overlapping chunker (the RAG-indexing / "
    "long-context packing prepass): chunks per doc, token expansion "
    "from the overlap, per source.  Deliberately CLOSED FORM — "
    "chunk count is 1 + ceil((n - size)/stride) and emitted tokens "
    "are n + (size - stride)(m - 1), so the per-doc work is integer "
    "arithmetic in the scan projection and the query never explodes "
    "chunk rows it only needs to COUNT.  At 100 TB that is the "
    "difference between a metadata report and a full rewrite of the "
    "corpus; the actual chunk materialization belongs to the writer "
    "that needs the chunks.  All-integer: bit-identical under any "
    "partitioning.",
)
def q_chunk_stride_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    n = (
        F.when(F.col("text").isNull(), F.lit(0))
        .otherwise(F.size(F.split("text", " ")))
    )
    base = d.select("source", n.alias("n"))
    m = (
        F.when(F.col("n") <= 0, F.lit(0))
        .when(F.col("n") <= _CHUNK_SIZE, F.lit(1))
        .otherwise(
            1
            + F.floor(
                (F.col("n") - _CHUNK_SIZE + _CHUNK_STRIDE - 1) / _CHUNK_STRIDE
            )
        )
    )
    per_doc = base.select("source", "n", m.cast("long").alias("m"))
    emitted = F.when(
        F.col("m") >= 1,
        F.col("n") + (_CHUNK_SIZE - _CHUNK_STRIDE) * (F.col("m") - 1),
    ).otherwise(0)
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("m").cast("bigint").alias("n_chunks"),
            F.sum("n").cast("bigint").alias("tokens_in"),
            F.sum(emitted).cast("bigint").alias("tokens_emitted"),
        )
        .select(
            "source",
            "n_docs",
            "n_chunks",
            "tokens_in",
            "tokens_emitted",
            _r6(
                F.col("tokens_emitted")
                * 1.0
                / F.nullif(F.col("tokens_in"), F.lit(0))
            ).alias("expansion_factor"),
        )
        .orderBy("source")
    )

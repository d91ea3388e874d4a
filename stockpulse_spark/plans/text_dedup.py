"""Near-duplicate detection over `documents`: exact, MinHash-LSH,
SimHash, n-gram Jaccard, containment, edit distance and semantic
dedup, the composed dedup funnels and keeper assignment, benchmark
decontamination, and the recall/precision evaluations of each tier.

Near-dup queries run over a corpus + mutated-copy union
(`_mutated_corpus`: drop the last 5 words; residue-class ids,
original = 2i, mutation = 2i+1, so synthetic ids never collide with
input ids) built identically on both sides, so the operators FIND
the planted near-duplicates instead of vacuously returning no rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stockpulse_spark.functions.localrel import values_df
from stockpulse_spark.llmdata.dedup import (
    exact_dedup,
    exact_jaccard_pairs_inverted_from_shingles,
    minhash_lsh_pairs,
    minhash_lsh_pairs_from_shingles,
    minhash_signature,
    ngram_jaccard_pairs,
    shingles,
    simhash32,
    word_ngrams,
)
from stockpulse_spark.llmdata.hashing import hex_to_int_sql, word32_sql
from stockpulse_spark.llmdata.similarity import _as_double, dot, norm
from stockpulse_spark.plans.registry import _r6, _register, _t
from stockpulse_spark.plans.text_curation import (
    _N_WORDS,
    _SHINGLES5_DUCK,
    _SHINGLES_DUCK,
    _TOK_FILTER,
)
from stockpulse_spark.plans.vectors import _NORM_DUCK, _plane_duck


# ---------------------------------------------------------------------------
# Training-data operator registrations over documents/embeddings
# (north-star M5: dedup families, similarity search, text analysis,
# multimodal plumbing). Every query keeps a DuckDB oracle: hashes are
# md5 (identical in both engines), folds are sequential in both, planes
# are shared literals.
#
# Near-dup queries run over a corpus + mutated-copy union (drop the last
# 5 words; residue-class ids: original = 2i, mutation = 2i+1, so the
# synthetic ids can never collide with input ids at any corpus scale)
# built identically on both sides, so the dedup operators demonstrably
# FIND the planted near-duplicates instead of vacuously returning zero
# rows.


# ---------------------------------------------------------------------------
# shared corpus construction (Spark + SQL sides must match exactly)


def _mutated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-dup copies (last 5 words dropped; residue-class
    ids — original = 2*id, mutation = 2*id+1 — so synthetic ids can
    never collide with input ids at ANY corpus scale).

    Repartitioned to the session parallelism: the documents parquet is
    a single small file → 1-2 scan partitions, which would pin the
    16×md5 shingle transforms to 2 cores. One cheap shuffle of raw
    text buys full-width parallelism for the hash-heavy stages (at
    production scale the input arrives in many files and this becomes
    a no-op knob).
    """
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    w = F.split("text", " ")
    # greatest(…, 0): a doc under 6 words would feed slice() a negative
    # length (runtime error); DuckDB's l[1:n] clamps to empty, so the
    # guard keeps the engines aligned. NULL text stays NULL (concat_ws
    # would silently turn it into '' while array_to_string keeps NULL).
    # residue-class synthetic ids (original = 2*id, mutation = 2*id+1):
    # collision-free for ANY input id range, unlike the additive
    # +1000000 offset this replaced — the 100x decade smoke caught the
    # offset colliding with replica ids (a collided empty-shingle doc
    # turned a jaccard denominator to 0: DIVIDE_BY_ZERO at scale)
    orig = d.select(
        (F.col("doc_id") * 2).alias("doc_id"), "source", "text"
    )
    mut = d.select(
        (F.col("doc_id") * 2 + 1).alias("doc_id"),
        "source",
        F.when(
            F.col("text").isNotNull(),
            F.concat_ws(
                " ", F.slice(w, 1, F.greatest(F.size(w) - 5, F.lit(0)))
            ),
        ).alias("text"),
    )
    # width from spark.sql.shuffle.partitions, NOT defaultParallelism:
    # the session default keeps them equal (32 locally), but a
    # data-proportional run (the 1000x decade smoke sets 256) must be
    # able to shrink the per-task row count — at 6M mutated docs the
    # 32-wide pin put 190k docs' shingle/md5 work in ONE task (~50 min
    # per task wave, G1 humongous-allocation storms), which is a
    # local-harness artifact a real cluster never sees precisely
    # because its partition count scales with the data.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return orig.unionAll(mut).repartition(n_part)


_MUT_CTE = """
WITH corpus AS (
  SELECT doc_id * 2 AS doc_id, source, text FROM documents
  UNION ALL
  -- <=5-word docs mutate to '' EXPLICITLY: DuckDB list slicing reads
  -- a NEGATIVE end index from the END of the list, so the unguarded
  -- l[1:len-5] KEPT words for 1-4-word docs (a 4-word doc's
  -- "mutation" was the original minus nothing) while Spark's
  -- slice(w, 1, greatest(len-5, 0)) gives '' — the round-9 deep
  -- property hunt caught the divergence (duck-only est=1.0 LSH
  -- pairs).  coalesce: array_to_string of an empty slice is NULL in
  -- DuckDB but Spark's concat_ws gives ''; NULL text stays NULL
  SELECT doc_id * 2 + 1 AS doc_id, source,
         CASE WHEN text IS NULL THEN NULL
              WHEN len(string_split(text, ' ')) <= 5 THEN ''
              ELSE coalesce(array_to_string((string_split(text, ' '))[1:len(string_split(text, ' ')) - 5], ' '), '')
         END AS text
  FROM documents
)
"""


# ---------------------------------------------------------------------------
# dedup family


@_register(
    "doc_dedup_exact",
    oracle="""
    WITH doubled AS (
      SELECT * FROM documents UNION ALL SELECT * FROM documents
    )
    SELECT md5(text) AS text_md5,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies
    FROM doubled
    GROUP BY md5(text)
    """,
    tags=("llmdata", "dedup"),
    doc="exact dedup: hash-groupBy on md5(text) over a deliberately "
    "doubled corpus — one shuffle on a 32-byte key, keeper = min id.",
)
def q_doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return exact_dedup(d.unionAll(d))


def _sig_sql(k: int) -> str:
    mins = ", ".join(
        f"list_min(list_transform({_SHINGLES_DUCK}, s -> md5(concat('{j}|', s))))"
        for j in range(k)
    )
    return f"[{mins}]"


@_register(
    "doc_minhash_lsh",
    oracle=_MUT_CTE
    + f"""
    , sig AS (
      SELECT doc_id, {_sig_sql(16)} AS sig FROM corpus
    ), banded AS (
      SELECT doc_id, sig, b.band_idx,
             md5(array_to_string(sig[b.band_idx * 2 + 1 : b.band_idx * 2 + 2], '|')) AS band_hash
      FROM sig, (SELECT unnest(range(0, 8)) AS band_idx) b
    ), ok_buckets AS (
      -- boilerplate guard, mirrored from the Spark side: buckets with
      -- more than 64 members are dropped before the self-join
      SELECT band_idx, band_hash FROM banded
      GROUP BY band_idx, band_hash HAVING COUNT(*) <= 64
    ), pairs AS (
      SELECT DISTINCT l.doc_id AS doc_id_1, r.doc_id AS doc_id_2,
             l.sig AS sig1, r.sig AS sig2
      FROM banded l JOIN banded r
        ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
       AND l.doc_id < r.doc_id
      JOIN ok_buckets ob
        ON ob.band_idx = l.band_idx AND ob.band_hash = l.band_hash
    )
    SELECT doc_id_1, doc_id_2,
           ROUND(list_sum(list_transform(range(1, 17),
                 i -> CASE WHEN sig1[i] = sig2[i] THEN 1 ELSE 0 END)) / 16.0, 6) AS est_jaccard
    FROM pairs
    WHERE list_sum(list_transform(range(1, 17),
          i -> CASE WHEN sig1[i] = sig2[i] THEN 1 ELSE 0 END)) / 16.0 >= 0.5
    """,
    headline=True,
    tags=("llmdata", "dedup", "join"),
    doc="MinHash-LSH near-dup pairs: 16-permutation signature (min "
    "md5 over 3-gram shingles), 8 bands x 2 rows, self-join on band "
    "buckets (sub-quadratic), estimated Jaccard >= 0.5. Finds the "
    "planted near-duplicates (residue ids 2i vs 2i+1). Band buckets larger "
    "than 64 members are dropped on BOTH sides (boilerplate guard, "
    "llmdata/dedup.py:minhash_lsh_pairs) so a shared crawl header "
    "can't turn the self-join quadratic on the hottest key; the cap "
    "is exercised by a planted hot bucket in tests/test_llmdata.py "
    "and tools/scale_smoke.py.",
)
def q_doc_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _mutated_corpus(spark, sf_dir)
    pairs = minhash_lsh_pairs(corpus, k=16, bands=8, threshold=0.5)
    return pairs.select(
        "doc_id_1", "doc_id_2", _r6(F.col("est_jaccard")).alias("est_jaccard")
    )


_SIMHASH_VOTES_DUCK = ", ".join(
    f"SUM(CASE WHEN floor(h / {float(2**b)!r}) % 2 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(32)
)
_SIMHASH_ASSEMBLE = " + ".join(
    f"(CASE WHEN v{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)" for b in range(32)
)


@_register(
    "doc_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {word32_sql('tok')} AS h
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    ), votes AS (
      SELECT doc_id, {_SIMHASH_VOTES_DUCK}
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id, {_SIMHASH_ASSEMBLE} AS simhash FROM votes
    """,
    tags=("llmdata", "dedup"),
    doc="32-bit SimHash per document (Charikar sign-vote over md5 "
    "token hashes): explode -> hash once per token -> 32 conditional "
    "sums in one linear aggregation. Equal hashes bucket near-dups.",
)
def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return simhash32(d)


@_register(
    "doc_ngram_jaccard",
    oracle=_MUT_CTE
    + f"""
    , sh AS (
      SELECT doc_id, source, {_SHINGLES_DUCK} AS sh FROM corpus
    ), tok AS (
      SELECT doc_id, source, unnest(sh) AS g FROM sh
    ), sizes AS (
      SELECT doc_id, len(sh) AS n FROM sh
    ), inter AS (
      -- inverted index: only co-shingle pairs materialize (identical
      -- output for threshold > 0; the old within-group row join was
      -- quadratic in group size — 62M list intersections at sf1)
      SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
             COUNT(*) AS i
      FROM tok a JOIN tok b
        ON a.source = b.source AND a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_id_1, i.doc_id_2,
           ROUND(CAST(i.i AS DOUBLE) / (s1.n + s2.n - i.i), 6) AS jaccard
    FROM inter i
    JOIN sizes s1 ON i.doc_id_1 = s1.doc_id
    JOIN sizes s2 ON i.doc_id_2 = s2.doc_id
    WHERE CAST(i.i AS DOUBLE) / (s1.n + s2.n - i.i) >= 0.2
    """,
    tags=("llmdata", "dedup", "join"),
    doc="exact word-3-gram Jaccard >= 0.2 within candidate groups "
    "(source; at scale: an LSH bucket) via a per-group inverted "
    "index — the verify stage of the dedup funnel. Rebuilt round 8: "
    "the within-group row-level self-join was quadratic in group "
    "size (62M array intersections at the sf1 sweep's 2.5k-doc "
    "source groups); the index form costs sum(df^2) per (group, "
    "shingle) and emits the identical pair set for any positive "
    "threshold.",
)
def q_doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _mutated_corpus(spark, sf_dir)
    pairs = ngram_jaccard_pairs(corpus, group_col="source", threshold=0.2)
    return pairs.select(
        "doc_id_1", "doc_id_2", _r6(F.col("jaccard")).alias("jaccard")
    )


# LSH candidate pairs as a reusable oracle fragment (the same banding
# the doc_minhash_lsh oracle replays), for queries that need the
# candidate set as an input rather than as the answer.
_LSH_CAND_CTES = f"""
    , sig AS (
      SELECT doc_id, {_sig_sql(16)} AS sig FROM corpus
    ), banded AS (
      SELECT doc_id, sig, b.band_idx,
             md5(array_to_string(sig[b.band_idx * 2 + 1 : b.band_idx * 2 + 2], '|')) AS band_hash
      FROM sig, (SELECT unnest(range(0, 8)) AS band_idx) b
    ), ok_buckets AS (
      SELECT band_idx, band_hash FROM banded
      GROUP BY band_idx, band_hash HAVING COUNT(*) <= 64
    ), cand AS (
      SELECT DISTINCT l.doc_id AS doc_id_1, r.doc_id AS doc_id_2
      FROM banded l JOIN banded r
        ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
       AND l.doc_id < r.doc_id
      JOIN ok_buckets ob
        ON ob.band_idx = l.band_idx AND ob.band_hash = l.band_hash
      WHERE list_sum(list_transform(range(1, 17),
            i -> CASE WHEN l.sig[i] = r.sig[i] THEN 1 ELSE 0 END)) / 16.0 >= 0.5
    )
"""


@_register(
    "minhash_lsh_recall_eval",
    oracle=_MUT_CTE
    + f"""
    , tok0 AS (
      SELECT doc_id, unnest(sh) AS s FROM (
        SELECT doc_id, {_SHINGLES_DUCK} AS sh FROM corpus
      ) WHERE len(sh) > 0
    ), rare AS (
      -- boilerplate guard mirrored from the Spark side: shingles in
      -- more than 64 docs leave the vocabulary (a crawl banner's
      -- shingles cost df^2 pairs each on the hottest index keys)
      SELECT s FROM tok0 GROUP BY s HAVING COUNT(*) <= 64
    ), tok AS (
      SELECT tok0.doc_id, tok0.s FROM tok0 JOIN rare USING (s)
    ), shn AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM tok GROUP BY doc_id
    ), inter AS (
      SELECT l.doc_id AS doc_id_1, r.doc_id AS doc_id_2,
             COUNT(*) AS n_inter
      FROM tok l JOIN tok r ON l.s = r.s AND l.doc_id < r.doc_id
      GROUP BY 1, 2
    ), truth AS (
      SELECT i.doc_id_1, i.doc_id_2,
             CAST(i.n_inter AS DOUBLE)
               / (a.n_sh + b.n_sh - i.n_inter) AS jac
      FROM inter i JOIN shn a ON a.doc_id = i.doc_id_1
                   JOIN shn b ON b.doc_id = i.doc_id_2
    ){_LSH_CAND_CTES}
    SELECT CAST(least(floor(t.jac * 10), 9) AS INT) AS jaccard_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN c.doc_id_1 IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_caught,
           ROUND(SUM(CASE WHEN c.doc_id_1 IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS catch_rate
    FROM truth t
    LEFT JOIN cand c
      ON c.doc_id_1 = t.doc_id_1 AND c.doc_id_2 = t.doc_id_2
    GROUP BY 1 ORDER BY 1
    """,
    tags=("llmdata", "dedup", "join", "evaluation"),
    doc="Measures the LSH S-curve instead of assuming it: exact "
    "shingle-Jaccard ground truth for every co-shingle pair "
    "(inverted-index join — a J=0 pair never materializes; "
    "llmdata/dedup.py:exact_jaccard_pairs_inverted) LEFT JOIN the "
    "minhash_lsh_pairs candidate set, rolled up into per-Jaccard-"
    "decile catch rates. High deciles must approach 1.0 (recall on "
    "true near-dups), low deciles near 0 (LSH not wasting verify "
    "budget) — the recall/cost trade every banded-LSH deployment "
    "tunes blind unless it runs exactly this query on a sample. At "
    "100 TB the truth side runs over a sampled subset and caps "
    "shingle document-frequency, mirroring the band-bucket cap.",
)
def q_minhash_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pin ONE shingle frame once per invocation: the exact-Jaccard
    # truth and the LSH candidate stage both consume it, so the
    # mutation chain AND the shingle transform run once instead of
    # once per stage (optimization r11 — this subsumes the earlier
    # corpus-level pin: the only non-shingle column either stage needs
    # is doc_id, which the shingle frame carries)
    corpus = _mutated_corpus(spark, sf_dir)
    sh = corpus.select(
        "doc_id", shingles("text").alias("sh")
    ).localCheckpoint(eager=False)
    truth = exact_jaccard_pairs_inverted_from_shingles(sh, sh_col="sh")
    cand = minhash_lsh_pairs_from_shingles(
        sh, sh_col="sh", k=16, bands=8, threshold=0.5
    ).select("doc_id_1", "doc_id_2", F.lit(1).alias("__hit"))
    j = truth.join(cand, ["doc_id_1", "doc_id_2"], "left")
    bucket = F.least(F.floor(F.col("jaccard") * 10), F.lit(9)).cast("int")
    out = (
        j.groupBy(bucket.alias("jaccard_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("bigint").alias(
                "n_caught"
            ),
        )
        .select(
            "jaccard_bucket",
            "n_pairs",
            "n_caught",
            _r6(F.col("n_caught") * 1.0 / F.col("n_pairs")).alias("catch_rate"),
        )
        .orderBy("jaccard_bucket")
    )
    return out


# ---------------------------------------------------------------------------
# The composed dedup funnel and embedding-cosine near-dup pairs —
# the remaining two training-data dedup entries (task list: exact,
# MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup).


@_register(
    "doc_dedup_funnel",
    oracle=_MUT_CTE
    + f"""
    , sig AS (
      SELECT doc_id, {_sig_sql(16)} AS sig, {_SHINGLES_DUCK} AS sh FROM corpus
    ), banded AS (
      SELECT doc_id,
             md5(array_to_string(sig[b.band_idx * 2 + 1 : b.band_idx * 2 + 2], '|')) AS band_hash,
             b.band_idx
      FROM sig, (SELECT unnest(range(0, 8)) AS band_idx) b
    ), ok_buckets AS (
      -- boilerplate bucket cap, mirrored from minhash_lsh_pairs
      SELECT band_idx, band_hash FROM banded
      GROUP BY band_idx, band_hash HAVING COUNT(*) <= 64
    ), cand AS (
      SELECT DISTINCT l.doc_id AS doc_id_1, r.doc_id AS doc_id_2
      FROM banded l JOIN banded r
        ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
       AND l.doc_id < r.doc_id
      JOIN ok_buckets ob
        ON ob.band_idx = l.band_idx AND ob.band_hash = l.band_hash
    )
    SELECT c.doc_id_1, c.doc_id_2,
           ROUND(CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
                 / nullif(len(list_distinct(list_concat(s1.sh, s2.sh))), 0), 6) AS jaccard
    FROM cand c
    JOIN sig s1 ON c.doc_id_1 = s1.doc_id
    JOIN sig s2 ON c.doc_id_2 = s2.doc_id
    WHERE CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
          / nullif(len(list_distinct(list_concat(s1.sh, s2.sh))), 0) >= 0.6
    """,
    tags=("llmdata", "dedup", "pipeline"),
    doc="the full near-dup FUNNEL in one plan: MinHash-LSH generates "
    "sub-quadratic candidates, exact shingle-Jaccard verifies them "
    "(>= 0.6) — cheap-filter-then-exact-verify, the shape every 100 TB "
    "dedup pipeline runs. Candidates come from the LSH band join, so "
    "the expensive exact Jaccard touches ~|near-dups| pairs, not n².",
)
def q_doc_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_spark.llmdata.dedup import (
        minhash_lsh_pairs_from_shingles,
        shingles,
    )

    corpus = _mutated_corpus(spark, sf_dir)
    # one shingle computation per invocation, shared by the candidate
    # stage (signatures) and the verify stage (exact Jaccard): pin the
    # shingle frame with a lazy per-invocation localCheckpoint
    # (optimization r11 — the corpus mutation + shingle transform
    # previously ran twice, once inside minhash_lsh_pairs and once for
    # the verify rejoin)
    sh = corpus.select(
        "doc_id", shingles("text").alias("sh")
    ).localCheckpoint(eager=False)
    # stage 1: sub-quadratic candidates (ids only)
    cand = minhash_lsh_pairs_from_shingles(
        sh, sh_col="sh", k=16, bands=8, threshold=0.0
    ).select("doc_id_1", "doc_id_2")
    # stage 2: exact Jaccard computed ONLY for candidate pairs — the
    # expensive set intersection touches ~|near-dups| pairs, never n²
    s1 = sh.select(F.col("doc_id").alias("doc_id_1"), F.col("sh").alias("sh1"))
    s2 = sh.select(F.col("doc_id").alias("doc_id_2"), F.col("sh").alias("sh2"))
    enriched = cand.join(s1, "doc_id_1").join(s2, "doc_id_2")
    inter = F.size(F.array_intersect("sh1", "sh2"))
    # nullif: shingle-less docs (short/empty text) have an UNDEFINED
    # Jaccard -> NULL -> dropped by the threshold (oracle mirrors)
    union = F.size(F.array_union("sh1", "sh2"))
    jac = inter.cast("double") / F.nullif(union, F.lit(0))
    return (
        enriched.select("doc_id_1", "doc_id_2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.6)
        .select("doc_id_1", "doc_id_2", _r6(F.col("jaccard")).alias("jaccard"))
    )


# Cardinality-ADAPTIVE SRP buckets for the semantic-dedup oracle.
# The Spark side picks n_planes = clamp(ceil(log2(n/64)), 4, 12) from
# the parquet footer count so per-bucket pair work stays ~constant as
# the corpus grows; the oracle must bucket IDENTICALLY at every scale
# or the candidate sets (and so the components) diverge — round 5's
# sf0.1 sweep caught exactly that (static 4-plane oracle vs adaptive
# 5-plane Spark side). Plane j >= 4 participates iff n > 64 * 2**j —
# the exact integer form of ceil(log2(n/64)) > j — via a CASE on a
# COUNT(*) scalar, so both engines derive the plane count from the
# same arithmetic with no float boundary.
_SEM_MAX_PLANES = 12


def _bucket_duck_adaptive(table: int) -> str:
    from stockpulse_spark.llmdata.similarity import pseudo_planes

    planes = pseudo_planes(_SEM_MAX_PLANES, 64, table=table)
    bits = []
    for j, pl in enumerate(planes):
        bit = (
            "(CASE WHEN list_reduce(list_transform(range(1, 65), "
            f"i -> e[i] * ({_plane_duck(pl)})[i]), (x, y) -> x + y) > 0 "
            f"THEN {2**j} ELSE 0 END)"
        )
        if j >= 4:
            bit = f"(CASE WHEN nn > {64 * 2**j} THEN {bit} ELSE 0 END)"
        bits.append(bit)
    return " + ".join(bits)


_SEM_BUCKETS_DUCK = (
    "[" + ", ".join(_bucket_duck_adaptive(t) for t in range(8)) + "]"
)


@_register(
    "doc_simhash_hamming_pairs",
    oracle=_MUT_CTE
    + f"""
    , toks AS (
      SELECT doc_id, {word32_sql('tok')} AS h
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus)
    ), votes AS (
      SELECT doc_id, {_SIMHASH_VOTES_DUCK} FROM toks GROUP BY doc_id
    ), sim AS (
      SELECT doc_id, {_SIMHASH_ASSEMBLE} AS simhash FROM votes
    ), halves AS (
      SELECT doc_id, simhash,
             CAST(simhash // 65536 AS BIGINT) AS hi,
             CAST(simhash % 65536 AS BIGINT) AS lo
      FROM sim
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
             a.simhash AS s1, b.simhash AS s2
      FROM halves a JOIN halves b
        ON (a.hi = b.hi OR a.lo = b.lo) AND a.doc_id < b.doc_id
    )
    SELECT doc_id_1, doc_id_2,
           CAST(bit_count(xor(s1, s2)) AS INTEGER) AS hamming
    FROM pairs
    WHERE bit_count(xor(s1, s2)) <= 6
    """,
    tags=("llmdata", "dedup", "join"),
    doc="SimHash Hamming-distance near-dup join: pigeonhole on 16-bit "
    "halves (hamming <= 6 over 32 bits means some half differs by "
    "<= 3; the half-equality join is the sub-quadratic candidate "
    "filter for the common all-but-few-bits case), then exact "
    "popcount(xor) verify. Completes the simhash dedup tier.",
)
def q_doc_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_spark.llmdata.dedup import simhash32

    corpus = _mutated_corpus(spark, sf_dir)
    # pin once per invocation: the two pigeonhole half-joins read this
    # frame on FOUR plan branches (each join's two sides), and without
    # the pin each branch re-ran simhash32's token explode + 32-vote
    # aggregation over the mutated corpus (optimization r11)
    sim = simhash32(corpus).select(
        "doc_id",
        "simhash",
        F.expr("CAST(simhash div 65536 AS BIGINT)").alias("hi"),
        (F.col("simhash") % 65536).alias("lo"),
    ).localCheckpoint(eager=False)
    # an OR join condition would plan as BroadcastNestedLoopJoin (n²);
    # pigeonhole as TWO hash equi-joins (one per half) unioned+distinct
    def half_join(col: str):
        a = sim.select(
            F.col("doc_id").alias("doc_id_1"),
            F.col("simhash").alias("s1"),
            F.col(col).alias("__k"),
        )
        b = sim.select(
            F.col("doc_id").alias("doc_id_2"),
            F.col("simhash").alias("s2"),
            F.col(col).alias("__k"),
        )
        return (
            a.join(b, "__k")
            .filter(F.col("doc_id_1") < F.col("doc_id_2"))
            .select("doc_id_1", "doc_id_2", "s1", "s2")
        )

    pairs = half_join("hi").unionAll(half_join("lo")).distinct()
    hamming = F.bit_count(F.expr("s1 ^ s2")).cast("int")
    return (
        pairs.select("doc_id_1", "doc_id_2", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 6)
    )


_DOT64 = (
    "list_reduce(list_transform(range(1, 65), i -> v1[i] * v2[i]), (x, y) -> x + y)"
)


@_register(
    "embedding_near_dup_pairs",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
           ROUND({_DOT64.replace('v1', 'a.e').replace('v2', 'b.e')}
                 / ({_NORM_DUCK.format(v='a.e')} * {_NORM_DUCK.format(v='b.e')}), 6) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE {_DOT64.replace('v1', 'a.e').replace('v2', 'b.e')}
          / ({_NORM_DUCK.format(v='a.e')} * {_NORM_DUCK.format(v='b.e')}) >= 0.5
    """,
    tags=("llmdata", "dedup", "similarity"),
    doc="embedding-cosine near-dup pairs (cosine >= 0.5) — the exact "
    "baseline; the SRP-LSH bucketing (embedding_srp_ann) is the "
    "sub-quadratic candidate generator for the same predicate at "
    "scale. Self-join keyed id<id halves the pair space; the dot fold "
    "is sequential in both engines.",
)
def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        _t(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(F.col("vec_id"), _as_double(F.col("embedding")).alias("e"))
        .withColumn("n", norm(F.col("e")))
    )
    a = emb.select(
        F.col("vec_id").alias("vec_id_1"), F.col("e").alias("e1"), F.col("n").alias("n1")
    )
    b = emb.select(
        F.col("vec_id").alias("vec_id_2"), F.col("e").alias("e2"), F.col("n").alias("n2")
    )
    pairs = a.join(b, a.vec_id_1 < b.vec_id_2)
    cos = dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2"))
    return (
        pairs.select("vec_id_1", "vec_id_2", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.5)
        .select("vec_id_1", "vec_id_2", _r6(F.col("cosine")).alias("cosine"))
    )


@_register(
    "doc_edit_distance_pairs",
    oracle=_MUT_CTE
    + """
    , keyed AS (
      SELECT doc_id, text,
             md5(array_to_string((string_split(text, ' '))[1:10], ' ')) AS pfx
      FROM corpus
    ), cand AS (
      SELECT l.doc_id AS doc_id_1, r.doc_id AS doc_id_2,
             l.text AS t1, r.text AS t2
      FROM keyed l JOIN keyed r ON l.pfx = r.pfx AND l.doc_id < r.doc_id
    )
    SELECT doc_id_1, doc_id_2,
           levenshtein(t1, t2) AS edit_dist,
           -- nullif: two empty texts have max length 0; their edit
           -- similarity is UNDEFINED -> NULL -> dropped on both engines
           ROUND(1.0 - levenshtein(t1, t2)
                 / CAST(nullif(greatest(length(t1), length(t2)), 0)
                        AS DOUBLE), 6)
             AS edit_sim
    FROM cand
    WHERE 1.0 - levenshtein(t1, t2)
          / CAST(nullif(greatest(length(t1), length(t2)), 0) AS DOUBLE)
          >= 0.5
    """,
    tags=("llmdata", "dedup"),
    doc="character-level edit-distance verification — the dedup-family "
    "member that catches typo-level mutations token hashing misses. "
    "Candidates come from cheap prefix-hash blocking (never all "
    "pairs); levenshtein runs only within blocks and pairs keep "
    "edit_sim = 1 - dist/max_len ≥ 0.5. Both engines implement "
    "classic Wagner-Fischer so the integer distances agree exactly. "
    "At 100 TB the block is an LSH bucket and the O(len²) distance is "
    "bounded by a length cap before the verify.",
)
def q_doc_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _mutated_corpus(spark, sf_dir)
    pfx = F.md5(
        F.encode(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 10)), "utf-8")
    )
    # pin once per invocation: both sides of the blocking self-join
    # read this frame, so the corpus mutation + prefix hash previously
    # ran twice (optimization r11)
    keyed = corpus.select(
        "doc_id", "text", pfx.alias("pfx")
    ).localCheckpoint(eager=False)
    l = keyed.select(
        F.col("doc_id").alias("doc_id_1"), F.col("text").alias("t1"), "pfx"
    )
    r = keyed.select(
        F.col("doc_id").alias("doc_id_2"), F.col("text").alias("t2"), "pfx"
    )
    cand = l.join(r, "pfx").filter(F.col("doc_id_1") < F.col("doc_id_2"))
    dist = F.levenshtein("t1", "t2")
    sim = 1.0 - dist / F.nullif(
        F.greatest(F.length("t1"), F.length("t2")).cast("double"), F.lit(0.0)
    )
    scored = cand.select(
        "doc_id_1",
        "doc_id_2",
        dist.alias("edit_dist"),
        sim.alias("__sim"),
    )
    return scored.filter(F.col("__sim") >= 0.5).select(
        "doc_id_1", "doc_id_2", "edit_dist", _r6(F.col("__sim")).alias("edit_sim")
    )


_COS_AB = (
    _DOT64.replace("v1", "a.e").replace("v2", "b.e")
    + " / (" + _NORM_DUCK.format(v="a.e") + " * " + _NORM_DUCK.format(v="b.e") + ")"
)


@_register(
    "semantic_dedup_keepers",
    oracle=f"""
    WITH RECURSIVE n AS (
      SELECT COUNT(*) AS nn FROM embeddings
    ), v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             {{buckets_duck}} AS buckets
      FROM embeddings, n
    ), exp AS (
      SELECT vec_id, e, t.i AS tidx, buckets[t.i + 1] AS bucket
      FROM v, range({{n_tables}}) t(i)
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2,
             a.e AS ae, b.e AS be
      FROM exp a JOIN exp b
        ON a.tidx = b.tidx AND a.bucket = b.bucket
       AND a.vec_id < b.vec_id
    ), pairs AS (
      SELECT id1, id2 FROM cand
      WHERE {_COS_AB.replace('a.e', 'ae').replace('b.e', 'be')} >= 0.5
    ), sym AS (
      SELECT id1 AS a, id2 AS b FROM pairs
      UNION SELECT id2, id1 FROM pairs
    ), reach AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ), comp AS (
      SELECT a AS vec_id, MIN(b) AS mn FROM reach GROUP BY a
    ), labeled AS (
      SELECT v.vec_id,
             LEAST(v.vec_id, COALESCE(c.mn, v.vec_id)) AS keeper_id
      FROM v LEFT JOIN comp c USING (vec_id)
    )
    SELECT vec_id, keeper_id,
           vec_id != keeper_id AS is_duplicate,
           COUNT(*) OVER (PARTITION BY keeper_id) AS cluster_size
    FROM labeled
    """.replace("{buckets_duck}", _SEM_BUCKETS_DUCK).replace("{n_tables}", "8"),
    tags=("llmdata", "dedup", "similarity", "iterative"),
    doc="SemDeDup-style semantic dedup at the SCALE shape: candidate "
    "pairs come from the multi-table SRP-LSH buckets (8 deterministic "
    "md5-derived plane families — the same bucketing embedding_srp_ann "
    "oracle-pins), exact cosine >= 0.5 verifies them, connected "
    "components elect one keeper per cluster with cluster sizes for "
    "pruning-rate accounting. Sub-quadratic by construction: the only "
    "pair work is within (table, bucket) groups. The first 10x scale "
    "smoke MEASURED the previous exact self-join variant at 132x "
    "(729 s) — this rewrite is the measure-don't-guess fix, with the "
    "oracle mirroring the bucketing so recall trade-offs are explicit "
    "and value-checked, never silent.",
)
def q_semantic_dedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from pyspark.sql import Window

    from stockpulse_spark.llmdata.similarity import pseudo_planes
    from stockpulse_spark.operators.dedup import connected_components
    from stockpulse_spark.sources.tables import footer_row_count

    spark_emb = (
        _t(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(F.col("vec_id"), _as_double(F.col("embedding")).alias("e"))
    )
    # plane count adapts to corpus cardinality (parquet footer metadata,
    # zero jobs) targeting ~64-vector buckets, so per-bucket pair work
    # stays constant as the corpus grows: n=500 (the oracle gate scale)
    # -> 4 planes, matching the oracle's static bucket SQL; n=20k -> 9.
    n_rows = footer_row_count(sf_dir, "embeddings") or 500
    n_tables = 8
    n_planes = max(
        4, min(12, math.ceil(math.log2(max(n_rows, 64) / 64)))
    )  # cap mirrors the oracle's embedded plane families

    # one row per TABLE carrying its plane matrix (VALUES LocalRelation
    # — functions/localrel.py, optimization r11), bucket assembled
    # IN-ROW with interpreted higher-order functions (optimization r12):
    # the per-(table, plane) row form paid a (vec × table × plane)
    # broadcast nested-loop expansion plus a (vec_id, tidx) groupBy
    # exchange to reassemble the bits; the in-row fold computes the
    # same dot signs (identical zip_with/aggregate expression, same
    # fold order) and the same ascending-j integer sum with no
    # exchange and table-count rows per vector. Interpreted HOFs are
    # CodegenFallback, so the plane matrices do NOT hit the 10 s
    # whole-stage-codegen compile that inlining them as per-plane
    # literal expressions did (the r11 note on srp_lsh_topk).
    # Interleaved A/B at sf0.1: 4.44 -> 3.74 s, identical rows.
    tbl_rows = [
        (t, pseudo_planes(n_planes, 64, table=t)) for t in range(n_tables)
    ]
    tbl_df = values_df(spark, tbl_rows, ["tidx", "planes"])
    bucket = F.expr(
        "CAST(aggregate(transform(planes, (p, j) -> CASE WHEN "
        "aggregate(zip_with(e, p, (x, y) -> x * y), CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + x) > 0 THEN shiftleft(1, j) ELSE 0 END), "
        "0, (a, b) -> a + b) AS INT)"
    )
    buckets = spark_emb.crossJoin(F.broadcast(tbl_df)).select(
        "vec_id", "tidx", bucket.alias("bucket")
    )
    # ids-only through the bucket join and the pair dedup (optimization
    # r11): the earlier shape carried both 64-double vectors through
    # the join and the dropDuplicates shuffle (~60x the bytes) and
    # recomputed norm() per CANDIDATE (2 interpreted 64-element folds
    # on each of ~460k pairs at sf0.1); norms are per-VECTOR values,
    # so compute them once per vector and rejoin vectors only for the
    # post-dedup cosine. Pair set and cosine bits are unchanged.
    a = buckets.select(F.col("vec_id").alias("id1"), "tidx", "bucket")
    b = buckets.select(F.col("vec_id").alias("id2"), "tidx", "bucket")
    cand = (
        a.join(b, ["tidx", "bucket"])
        .filter(F.col("id1") < F.col("id2"))
        .dropDuplicates(["id1", "id2"])
    )
    vec = spark_emb.select("vec_id", "e", norm(F.col("e")).alias("n"))
    edges = (
        cand.join(
            vec.select(
                F.col("vec_id").alias("id1"),
                F.col("e").alias("e1"),
                F.col("n").alias("n1"),
            ),
            "id1",
        )
        .join(
            vec.select(
                F.col("vec_id").alias("id2"),
                F.col("e").alias("e2"),
                F.col("n").alias("n2"),
            ),
            "id2",
        )
        .filter(
            dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2"))
            >= 0.5
        )
        .select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    )
    labels = connected_components(
        edges, vertices=spark_emb.select(F.col("vec_id")), id_col="vec_id"
    )
    return labels.select(
        "vec_id",
        F.col("label").alias("keeper_id"),
        (F.col("vec_id") != F.col("label")).alias("is_duplicate"),
        F.count(F.lit(1))
        .over(Window.partitionBy("label"))
        .alias("cluster_size"),
    )


@_register(
    "doc_dedup_pipeline_full",
    oracle=_MUT_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + f"""
    , sig AS (
      SELECT doc_id, {_sig_sql(16)} AS sig, {_SHINGLES_DUCK} AS sh FROM corpus
    ), banded AS (
      SELECT doc_id,
             md5(array_to_string(sig[b.band_idx * 2 + 1 : b.band_idx * 2 + 2], '|')) AS band_hash,
             b.band_idx
      FROM sig, (SELECT unnest(range(0, 8)) AS band_idx) b
    ), ok_buckets AS (
      SELECT band_idx, band_hash FROM banded
      GROUP BY band_idx, band_hash HAVING COUNT(*) <= 64
    ), cand AS (
      SELECT DISTINCT l.doc_id AS doc_id_1, r.doc_id AS doc_id_2
      FROM banded l JOIN banded r
        ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
       AND l.doc_id < r.doc_id
      JOIN ok_buckets ob
        ON ob.band_idx = l.band_idx AND ob.band_hash = l.band_hash
    ), verified AS (
      SELECT c.doc_id_1, c.doc_id_2
      FROM cand c
      JOIN sig s1 ON c.doc_id_1 = s1.doc_id
      JOIN sig s2 ON c.doc_id_2 = s2.doc_id
      WHERE CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
            / nullif(len(list_distinct(list_concat(s1.sh, s2.sh))), 0) >= 0.6
    ), sym AS (
      SELECT doc_id_1 AS a, doc_id_2 AS b FROM verified
      UNION SELECT doc_id_2, doc_id_1 FROM verified
    ), reach AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ), comp AS (
      SELECT a AS doc_id, MIN(b) AS mn FROM reach GROUP BY a
    )
    SELECT c.doc_id,
           LEAST(c.doc_id, COALESCE(m.mn, c.doc_id)) AS keeper_id,
           LEAST(c.doc_id, COALESCE(m.mn, c.doc_id)) != c.doc_id
             AS is_duplicate
    FROM corpus c LEFT JOIN comp m USING (doc_id)
    """,
    tags=("llmdata", "dedup", "pipeline", "iterative"),
    doc="the COMPLETE text dedup pipeline in one plan — what a corpus "
    "build actually runs end to end: MinHash-LSH candidates (bucket "
    "cap included) -> exact shingle-Jaccard verify (>= 0.6) -> "
    "connected components over the verified pairs -> one keeper per "
    "cluster. Composes minhash_lsh_pairs, the Jaccard verify stage, "
    "and operators/dedup.py:connected_components; every stage's "
    "oracle discipline carries through to the closed-form recursive-"
    "CTE closure. Each stage is the same sub-quadratic/bounded shape "
    "proven individually (PARITY + SCALE.md), so the composition "
    "inherits the 100 TB posture.",
)
def q_doc_dedup_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_spark.llmdata.dedup import (
        minhash_lsh_pairs_from_shingles,
        shingles,
    )
    from stockpulse_spark.operators.dedup import connected_components

    corpus = _mutated_corpus(spark, sf_dir)
    # pin the shingle frame once per invocation — candidates, verify
    # and the vertex set all read it (optimization r11; previously the
    # corpus mutation ran three times and the shingle transform twice)
    sh = corpus.select(
        "doc_id", shingles("text").alias("sh")
    ).localCheckpoint(eager=False)
    cand = minhash_lsh_pairs_from_shingles(
        sh, sh_col="sh", k=16, bands=8, threshold=0.0
    ).select("doc_id_1", "doc_id_2")
    s1 = sh.select(F.col("doc_id").alias("doc_id_1"), F.col("sh").alias("sh1"))
    s2 = sh.select(F.col("doc_id").alias("doc_id_2"), F.col("sh").alias("sh2"))
    jac = (
        F.size(F.array_intersect("sh1", "sh2")).cast("double")
        / F.nullif(F.size(F.array_union("sh1", "sh2")), F.lit(0))
    )
    verified = (
        cand.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .filter(jac >= 0.6)
        .select(F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst"))
    )
    # vertices from the pinned frame (row-for-row the corpus ids) —
    # avoids a third execution of the corpus mutation chain
    labels = connected_components(
        verified, vertices=sh.select("doc_id"), id_col="doc_id"
    )
    return labels.select(
        "doc_id",
        F.col("label").alias("keeper_id"),
        (F.col("doc_id") != F.col("label")).alias("is_duplicate"),
    )


# incremental batch construction for the gate below, shared by both
# engines: exact copies (doc_id % 5 == 0), 5-word-dropped mutations
# (% 5 == 1, the planted near-dups), word-REVERSED texts (% 5 == 2 —
# reversal destroys every shingle, so genuinely new content)
_BATCH_CTE = """
WITH RECURSIVE batch AS (
  SELECT doc_id + 1000000 AS batch_id, text FROM documents
  WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 1000000,
         -- <=5-word guard: DuckDB reads a negative slice end from the
         -- END of the list (a 4-word doc would keep all its words),
         -- while the Spark side's greatest(len-5, 0) gives '' — same
         -- divergence class the round-9 deep hunt caught in _MUT_CTE
         CASE WHEN text IS NULL THEN NULL
              WHEN len(string_split(text, ' ')) <= 5 THEN ''
              ELSE coalesce(array_to_string(
                (string_split(text, ' '))[1:len(string_split(text, ' ')) - 5],
                ' '), '')
         END
  FROM documents WHERE doc_id % 5 = 1
  UNION ALL
  SELECT doc_id + 1000000,
         array_to_string(list_reverse(string_split(text, ' ')), ' ')
  FROM documents WHERE doc_id % 5 = 2
), corpus AS (
  SELECT doc_id, text FROM documents
)
"""


@_register(
    "incremental_dedup_gate",
    oracle=_BATCH_CTE
    + f"""
    , bsig AS (
      SELECT batch_id, md5(text) AS th, {_sig_sql(16)} AS sig FROM batch
    ), csig AS (
      SELECT doc_id, md5(text) AS th, {_sig_sql(16)} AS sig FROM corpus
    ), exact AS (
      SELECT DISTINCT b.batch_id FROM bsig b JOIN csig c ON b.th = c.th
    ), bband AS (
      SELECT batch_id, sig, t.band_idx,
             md5(array_to_string(sig[t.band_idx * 2 + 1 : t.band_idx * 2 + 2], '|')) AS band_hash
      FROM bsig, (SELECT unnest(range(0, 8)) AS band_idx) t
    ), cband AS (
      SELECT doc_id, sig, t.band_idx,
             md5(array_to_string(sig[t.band_idx * 2 + 1 : t.band_idx * 2 + 2], '|')) AS band_hash
      FROM csig, (SELECT unnest(range(0, 8)) AS band_idx) t
    ), near AS (
      SELECT DISTINCT b.batch_id
      FROM bband b JOIN cband c
        ON b.band_idx = c.band_idx AND b.band_hash = c.band_hash
      WHERE list_sum(list_transform(range(1, 17),
            i -> CASE WHEN b.sig[i] = c.sig[i] THEN 1 ELSE 0 END)) / 16.0 >= 0.5
    )
    SELECT s.batch_id,
           CASE WHEN e.batch_id IS NOT NULL THEN 'exact_dup'
                WHEN n.batch_id IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS verdict
    FROM bsig s
    LEFT JOIN exact e USING (batch_id)
    LEFT JOIN near n USING (batch_id)
    """,
    tags=("llmdata", "dedup", "join", "pipeline"),
    doc="INCREMENTAL dedup gate — the production shape: a new batch "
    "arrives and must be admitted against the existing corpus without "
    "recomputing it. Exact tier: content-hash LEFT SEMI join. Near "
    "tier: TWO-SIDED MinHash-LSH — batch bands equi-join corpus bands "
    "(not a self-join; the corpus side's signatures would be "
    "precomputed+stored in production, so the incremental cost is "
    "O(batch) map work + one band-keyed shuffle against the corpus "
    "index). Verdict precedence exact > near > new. The batch plants "
    "all three cases: exact copies, 5-word-dropped mutations, and "
    "word-reversed texts (reversal destroys every shingle).",
)
def q_incremental_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_spark.llmdata.dedup import dedup_gate

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism
    )
    w = F.split("text", " ")
    n = F.size(w)
    batch = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select((F.col("doc_id") + 1000000).alias("batch_id"), "text")
        .unionAll(
            docs.filter(F.col("doc_id") % 5 == 1).select(
                (F.col("doc_id") + 1000000).alias("batch_id"),
                # negative-length guard + NULL passthrough, mirroring
                # DuckDB's clamping l[1:n] / NULL-propagating
                # array_to_string (see _mutated_corpus)
                F.when(
                    F.col("text").isNotNull(),
                    F.concat_ws(
                        " ", F.slice(w, 1, F.greatest(n - 5, F.lit(0)))
                    ),
                ).alias("text"),
            )
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 5 == 2).select(
                (F.col("doc_id") + 1000000).alias("batch_id"),
                F.when(
                    F.col("text").isNotNull(),
                    F.concat_ws(" ", F.reverse(w)),
                ).alias("text"),
            )
        )
    )
    return dedup_gate(batch, docs)


# ---------------------------------------------------------------------------
# Corpus statistics: TF-IDF top terms and the dedup keeper-assignment
# step — the last mile of the text-analysis / dedup stories.


@_register(
    "dedup_keeper_assignment",
    oracle=_MUT_CTE
    + """
    , pairs AS (
      SELECT l.doc_id AS doc_id_1, r.doc_id AS doc_id_2
      FROM corpus l JOIN corpus r
        ON md5(array_to_string((string_split(l.text, ' '))[1:10], ' '))
         = md5(array_to_string((string_split(r.text, ' '))[1:10], ' '))
       AND l.doc_id < r.doc_id
    ), members AS (
      SELECT doc_id_1 AS doc_id, doc_id_1 AS other FROM pairs
      UNION SELECT doc_id_1, doc_id_2 FROM pairs
      UNION SELECT doc_id_2, doc_id_1 FROM pairs
      UNION SELECT doc_id_2, doc_id_2 FROM pairs
    )
    SELECT doc_id, MIN(other) AS keeper_id,
           CAST(doc_id != MIN(other) AS BOOLEAN) AS is_duplicate
    FROM members GROUP BY doc_id
    """,
    tags=("llmdata", "dedup"),
    doc="keeper assignment — the final dedup step deciding who "
    "survives: near-dup pairs (first-10-words prefix hash buckets the "
    "planted mutations with their originals) → 1-hop min-id label per "
    "member. For multi-hop chains this iterates to a fixpoint "
    "(connected components / label propagation, each iteration one "
    "self-join — genuinely iterative, noted as the non-SQL extension); "
    "1 hop is exact for the pairwise near-dup structure here; for "
    "chained evidence see dedup_keeper_transitive, which iterates "
    "min_label_components to the fixpoint.",
)
def q_dedup_keeper_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _mutated_corpus(spark, sf_dir)
    # NULL text -> NULL prefix: concat_ws would silently produce '',
    # bucketing every NULL-text doc with the empty-text docs while the
    # oracle's md5(array_to_string(NULL)) stays NULL (and NULL join
    # keys never match, on either engine)
    prefix = F.when(
        F.col("text").isNotNull(),
        F.md5(
            F.encode(
                F.concat_ws(" ", F.slice(F.split("text", " "), 1, 10)),
                "utf-8",
            )
        ),
    )
    keyed = corpus.select("doc_id", prefix.alias("pfx"))
    l = keyed.select(F.col("doc_id").alias("doc_id_1"), "pfx")
    r = keyed.select(F.col("doc_id").alias("doc_id_2"), "pfx")
    pairs = l.join(r, "pfx").filter(F.col("doc_id_1") < F.col("doc_id_2")).select(
        "doc_id_1", "doc_id_2"
    )
    members = (
        pairs.select(F.col("doc_id_1").alias("doc_id"), F.col("doc_id_1").alias("other"))
        .union(pairs.select(F.col("doc_id_1"), F.col("doc_id_2")))
        .union(pairs.select(F.col("doc_id_2"), F.col("doc_id_1")))
        .union(pairs.select(F.col("doc_id_2"), F.col("doc_id_2")))
        .distinct()
    )
    return members.groupBy("doc_id").agg(
        F.min("other").alias("keeper_id"),
        (F.col("doc_id") != F.min("other")).alias("is_duplicate"),
    )


# ---------------------------------------------------------------------------
# transitive keeper assignment (connected components over chained evidence)

_CHAIN_CTE = f"""
WITH RECURSIVE corpus3 AS (
  -- residue-class synthetic ids (4i / 4i+1 / 4i+2): collision-free
  -- for any input id range (the 100x smoke caught additive offsets
  -- colliding with replica ids), and A stays the smallest per trio
  -- A: first 5 words dropped (keeps the SUFFIX), smallest ids
  SELECT doc_id * 4 AS doc_id,
         array_to_string((string_split(text, ' '))[6:{_N_WORDS}], ' ') AS text
  FROM documents WHERE {_N_WORDS} >= 21
  UNION ALL
  -- B: the original, mid ids
  SELECT doc_id * 4 + 1, text FROM documents WHERE {_N_WORDS} >= 21
  UNION ALL
  -- C: last 5 words dropped (keeps the PREFIX), largest ids
  SELECT doc_id * 4 + 2,
         array_to_string((string_split(text, ' '))[1:{_N_WORDS} - 5], ' ')
  FROM documents WHERE {_N_WORDS} >= 21
), keyed AS (
  SELECT doc_id,
         md5(array_to_string((string_split(text, ' '))[1:10], ' ')) AS pfx,
         md5(array_to_string(
           (string_split(text, ' '))[{_N_WORDS} - 9:{_N_WORDS}], ' ')) AS sfx
  FROM corpus3
), pfx_ok AS (
  -- boilerplate guard (round 9): a prefix-10 shared by more than 64
  -- docs is a banner/header, not duplication evidence — the 10x
  -- replicated corpus measured the uncapped self-join at 23x shuffle
  -- growth because its planted banner bucket is quadratic in exactly
  -- this join.  Same cap doctrine as minhash_lsh_pairs.
  SELECT pfx FROM keyed GROUP BY pfx HAVING COUNT(*) <= 64
), sfx_ok AS (
  SELECT sfx FROM keyed GROUP BY sfx HAVING COUNT(*) <= 64
), edges AS (
  SELECT l.doc_id AS src, r.doc_id AS dst
  FROM keyed l JOIN keyed r ON l.pfx = r.pfx AND l.doc_id < r.doc_id
  JOIN pfx_ok ok ON ok.pfx = l.pfx
  UNION
  SELECT l.doc_id, r.doc_id
  FROM keyed l JOIN keyed r ON l.sfx = r.sfx AND l.doc_id < r.doc_id
  JOIN sfx_ok ok ON ok.sfx = l.sfx
), sym AS (
  SELECT src AS a, dst AS b FROM edges UNION SELECT dst, src FROM edges
), reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), comp AS (
  SELECT a AS doc_id, MIN(b) AS min_reach FROM reach GROUP BY a
)
"""


@_register(
    "dedup_keeper_transitive",
    oracle=_CHAIN_CTE
    + """
    SELECT k.doc_id,
           LEAST(k.doc_id, COALESCE(c.min_reach, k.doc_id)) AS keeper_id,
           LEAST(k.doc_id, COALESCE(c.min_reach, k.doc_id)) != k.doc_id
             AS is_duplicate
    FROM keyed k LEFT JOIN comp c USING (doc_id)
    """,
    tags=("llmdata", "dedup", "iterative"),
    doc="TRANSITIVE keeper assignment — connected components over "
    "chained near-dup evidence. The corpus plants genuine A–B–C "
    "chains: A (front-5-words dropped) matches the original B only on "
    "the suffix-10 key, C (back-5-words dropped) matches B only on the "
    "prefix-10 key, and A carries the smallest id — so C can only "
    "learn its keeper through B, which 1-hop min-id gets WRONG and "
    "connected components (operators/dedup.py:connected_components) "
    "gets right: min-label propagation under a tight cap — near-dup "
    "components are dense, diameter 2-3 — with automatic fallback to "
    "alternating large-star/small-star (Kiveris et al. SoCC'14, "
    "O(log² n) rounds on ANY shape) when the cap trips, so a 100 TB "
    "pathological chain can neither unroll unboundedly nor yield "
    "silently wrong labels. Oracle = DuckDB recursive-CTE transitive "
    "closure — exact for any component shape.",
)
def q_dedup_keeper_transitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_spark.operators.dedup import connected_components

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split("text", " ")
    n = F.size(w)
    d = d.filter(n >= 21)
    a = d.select(
        (F.col("doc_id") * 4).alias("doc_id"),
        F.concat_ws(" ", F.slice(w, 6, n - 5)).alias("text"),
    )
    b = d.select((F.col("doc_id") * 4 + 1).alias("doc_id"), "text")
    c = d.select(
        (F.col("doc_id") * 4 + 2).alias("doc_id"),
        F.concat_ws(" ", F.slice(w, 1, n - 5)).alias("text"),
    )
    corpus3 = a.unionAll(b).unionAll(c).repartition(
        spark.sparkContext.defaultParallelism
    )
    w2 = F.split("text", " ")
    n2 = F.size(w2)
    # pin once per invocation: this frame is read on EIGHT plan
    # branches (per key: both self-join sides + the hot-bucket agg;
    # plus the CC vertex set and the final join spine), each of which
    # otherwise re-ran the 3-way corpus union + both md5 block keys
    # (optimization r11)
    keyed = corpus3.select(
        "doc_id",
        F.md5(F.encode(F.concat_ws(" ", F.slice(w2, 1, 10)), "utf-8")).alias("pfx"),
        F.md5(F.encode(F.concat_ws(" ", F.slice(w2, n2 - 9, 10)), "utf-8")).alias(
            "sfx"
        ),
    ).localCheckpoint(eager=False)
    # unpivot the two block keys into one (key_type, key_value) stream
    # (optimization r12): the per-key formulation ran 2 hot-bucket
    # groupBy jobs + 4 broadcast anti-joins + 2 self-joins + a distinct
    # over the union; one exploded stream needs ONE window-count cap
    # (the §2.4 df-cap pattern — same ≤64 bucket rule, same rows out)
    # and ONE self-join whose both sides reuse the window's
    # (kt, kv) exchange. edges need no distinct: a pair surfacing via
    # both keys is collapsed by the symmetric-edge distinct inside
    # connected_components, which was already paying that shuffle.
    tok = keyed.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("kt"), F.col("pfx").alias("kv")),
                F.struct(F.lit(1).alias("kt"), F.col("sfx").alias("kv")),
            )
        ).alias("k"),
    ).select("doc_id", "k.kt", "k.kv")
    # boilerplate guard (round 9): drop over-64 key buckets before the
    # self-join — a prefix shared by hundreds of docs is a banner, and
    # its bucket is quadratic in exactly this join (measured 23x
    # shuffle growth at 10x on the planted-banner corpus before the
    # cap).
    ok = (
        tok.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("kt", "kv"))
        )
        .filter(F.col("__df") <= 64)
        .drop("__df")
    )
    edges = (
        ok.select(F.col("doc_id").alias("src"), "kt", "kv")
        .join(ok.select(F.col("doc_id").alias("dst"), "kt", "kv"), ["kt", "kv"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
    )
    labels = connected_components(
        edges, vertices=keyed.select(F.col("doc_id")), id_col="doc_id"
    )
    # labels carries exactly one row per keyed doc_id (the vertex set
    # IS keyed's ids, and self-loops label every vertex), so the old
    # join-back onto keyed was the identity — return labels directly
    # (optimization r12; one exchange + one join removed).
    return labels.select(
        "doc_id",
        F.col("label").alias("keeper_id"),
        (F.col("label") != F.col("doc_id")).alias("is_duplicate"),
    )


_NGRAM_N = 5


@_register(
    "decontamination_overlap",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, source, text,
             {hex_to_int_sql("md5(text)")} % 100 AS bucket
      FROM documents
    ), eval_grams AS (
      SELECT DISTINCT md5(g) AS gh
      FROM b, unnest({_SHINGLES5_DUCK}) AS t(g)
      WHERE bucket >= 90
    ), train_grams AS (
      SELECT DISTINCT doc_id, source, md5(g) AS gh
      FROM b, unnest({_SHINGLES5_DUCK}) AS t(g)
      WHERE bucket < 90
    ), hits AS (
      SELECT t.doc_id, t.source, COUNT(*) AS n_hits
      FROM train_grams t JOIN eval_grams e ON t.gh = e.gh
      GROUP BY t.doc_id, t.source
    )
    SELECT b.source,
           COUNT(*) AS n_train_docs,
           COUNT(h.doc_id) AS n_contaminated,
           ROUND(COUNT(h.doc_id) * 1.0 / COUNT(*), 6) AS contaminated_pct,
           CAST(COALESCE(SUM(h.n_hits), 0) AS BIGINT) AS total_gram_hits
    FROM b LEFT JOIN hits h ON h.doc_id = b.doc_id
    WHERE b.bucket < 90
    GROUP BY b.source ORDER BY b.source
    """,
    tags=("llmdata", "dedup", "join"),
    doc="Benchmark decontamination: hash every 5-gram of the held-out "
    "split (content-md5 bucket >= 90, the same split key as "
    "doc_train_test_split so dedup can't leak across it), then flag "
    "train docs sharing any 5-gram hash. The train->eval check is an "
    "equi-join on 32-byte gram hashes — hash-partitioned, "
    "sub-quadratic, never all-pairs; per-doc grams are DISTINCT'd "
    "map-side before the shuffle. At 100 TB the eval gram set is "
    "still benchmark-sized: broadcast it, or bloom-prefilter "
    "(operators/bloom.py) before the residual join.",
)
def q_decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # round 10: zip_with n-grams — the old transform(sequence, slice)
    # re-split the text per gram position (interpreted HOF capture;
    # see llmdata/dedup.word_ngrams)
    shingles = word_ngrams(F.col("text"), _NGRAM_N)
    b = d.select(
        "doc_id",
        "source",
        shingles.alias("grams"),
        (F.expr(hex_to_int_sql("md5(text)")) % 100).alias("bucket"),
    )
    # pin once per invocation: b is read by the eval-gram pass, the
    # train-gram pass and the final per-source join — unpinned, the
    # n-gram transform over the whole corpus executed 3x
    # (optimization r11)
    b = b.localCheckpoint(eager=False)
    eval_grams = (
        b.filter(F.col("bucket") >= 90)
        .select(F.explode("grams").alias("g"))
        .select(F.md5("g").alias("gh"))
        .distinct()
    )
    train = b.filter(F.col("bucket") < 90)
    train_grams = train.select(
        "doc_id", "source", F.explode("grams").alias("g")
    ).select("doc_id", "source", F.md5("g").alias("gh")).distinct()
    hits = (
        train_grams.join(F.broadcast(eval_grams), "gh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        train.join(F.broadcast(hits), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.count("n_hits").alias("n_contaminated"),
            _r6(
                F.count("n_hits") * 1.0 / F.count(F.lit(1))
            ).alias("contaminated_pct"),
            F.coalesce(F.sum("n_hits"), F.lit(0)).alias("total_gram_hits"),
        )
        .orderBy("source")
    )


# the funnel variant shares the exact op's oracle verbatim: the bloom
# stage has no false negatives and the residual equi-join removes the
# false positives, so the outputs are identical by construction
@_register(
    "decontamination_bloom_funnel",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, source, text,
             {hex_to_int_sql("md5(text)")} % 100 AS bucket
      FROM documents
    ), eval_grams AS (
      SELECT DISTINCT md5(g) AS gh
      FROM b, unnest({_SHINGLES5_DUCK}) AS t(g)
      WHERE bucket >= 90
    ), train_grams AS (
      SELECT DISTINCT doc_id, source, md5(g) AS gh
      FROM b, unnest({_SHINGLES5_DUCK}) AS t(g)
      WHERE bucket < 90
    ), hits AS (
      SELECT t.doc_id, t.source, COUNT(*) AS n_hits
      FROM train_grams t JOIN eval_grams e ON t.gh = e.gh
      GROUP BY t.doc_id, t.source
    )
    SELECT b.source,
           COUNT(*) AS n_train_docs,
           COUNT(h.doc_id) AS n_contaminated,
           ROUND(COUNT(h.doc_id) * 1.0 / COUNT(*), 6) AS contaminated_pct,
           CAST(COALESCE(SUM(h.n_hits), 0) AS BIGINT) AS total_gram_hits
    FROM b LEFT JOIN hits h ON h.doc_id = b.doc_id
    WHERE b.bucket < 90
    GROUP BY b.source ORDER BY b.source
    """,
    tags=("llmdata", "dedup", "join", "bloom"),
    doc="Benchmark decontamination through the 100 TB funnel: the "
    "eval-split 5-gram hashes build a Bloom bitset (operators/"
    "bloom.py — one map-side-combinable bit_or shuffle, bitset "
    "embedded as an array<long> literal in whole-stage codegen), the "
    "corpus-sized train gram stream is pre-filtered to ~true hits + "
    "FP rate BEFORE any join, and the residual broadcast equi-join "
    "removes the false positives — output identical to "
    "decontamination_overlap (same oracle, byte-for-byte), which IS "
    "the point: the approximate stage only prunes, never decides. At "
    "100 TB this is the difference between shuffling every train "
    "gram and shuffling ~the contaminated ones.",
)
def q_decontamination_bloom_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_spark.operators.bloom import bloom_semi_join

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # round 10: zip_with n-grams — the old transform(sequence, slice)
    # re-split the text per gram position (interpreted HOF capture;
    # see llmdata/dedup.word_ngrams)
    shingles = word_ngrams(F.col("text"), _NGRAM_N)
    b = d.select(
        "doc_id",
        "source",
        shingles.alias("grams"),
        (F.expr(hex_to_int_sql("md5(text)")) % 100).alias("bucket"),
    )
    # pin once per invocation: b is read on four plan branches (the
    # eval grams feed the bloom build EAGERLY and the exact residual
    # join — see bloom_semi_join — plus the train-gram pass and the
    # final per-source join), each of which otherwise re-ran the
    # n-gram transform over the whole corpus (optimization r11)
    b = b.localCheckpoint(eager=False)
    # the eval gram-hash set is itself read twice (bloom build + exact
    # residual semi-join) — pin the narrow distinct set too
    eval_grams = (
        b.filter(F.col("bucket") >= 90)
        .select(F.explode("grams").alias("g"))
        .select(F.md5("g").alias("gh"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    train = b.filter(F.col("bucket") < 90)
    train_grams = train.select(
        "doc_id", "source", F.explode("grams").alias("g")
    ).select("doc_id", "source", F.md5("g").alias("gh")).distinct()
    # bloom prefilter + exact residual join (exact by construction)
    survivors = bloom_semi_join(train_grams, eval_grams, "gh", "gh")
    hits = survivors.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        train.join(F.broadcast(hits), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.count("n_hits").alias("n_contaminated"),
            _r6(
                F.count("n_hits") * 1.0 / F.count(F.lit(1))
            ).alias("contaminated_pct"),
            F.coalesce(F.sum("n_hits"), F.lit(0)).alias("total_gram_hits"),
        )
        .orderBy("source")
    )


@_register(
    "decontamination_recall_eval",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, text,
             {hex_to_int_sql("md5(text)")} % 100 AS bucket,
             string_split(text, ' ') AS w
      FROM documents
    ), ev AS (
      SELECT doc_id, text, w FROM b
      WHERE bucket >= 90 AND len(w) >= 25
    ), planted AS (
      -- residue-class planted ids (k=4, cohort offsets 0-3): injective
      -- for ANY input id range — round 9 migrated off the additive
      -- +3M/+4M/+5M offsets for uniformity with the engine-wide
      -- synthetic-id scheme (tests/test_synthetic_ids.py)
      SELECT doc_id * 4 AS doc_id, 'clean_train' AS cohort, text
      FROM b WHERE bucket < 90
      UNION ALL
      SELECT doc_id * 4 + 1, 'copy_full', text FROM ev
      UNION ALL
      SELECT doc_id * 4 + 2, 'copy_span10',
             array_to_string(w[9:18], ' ') FROM ev
      UNION ALL
      SELECT doc_id * 4 + 3, 'copy_span4',
             array_to_string(w[9:12], ' ') FROM ev
    ), eval_grams AS (
      SELECT DISTINCT md5(g) AS gh
      FROM ev, unnest({_SHINGLES5_DUCK}) AS t(g)
    ), train_grams AS (
      SELECT DISTINCT doc_id, cohort, md5(g) AS gh
      FROM planted, unnest({_SHINGLES5_DUCK}) AS t(g)
    ), flagged AS (
      SELECT DISTINCT t.doc_id, t.cohort
      FROM train_grams t JOIN eval_grams e ON t.gh = e.gh
    )
    SELECT p.cohort,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           ROUND(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS flag_rate
    FROM planted p LEFT JOIN flagged f USING (doc_id, cohort)
    GROUP BY p.cohort ORDER BY p.cohort
    """,
    tags=("llmdata", "dedup", "join", "evaluation"),
    doc="Measured decontamination recall on PLANTED contamination — "
    "the third evaluation harness beside the LSH S-curve and ANN "
    "recall: every eval doc is re-planted into the train side at "
    "three copy strengths (verbatim, a 10-word span, a 4-word span), "
    "and the 5-gram-hash detector (decontamination_overlap's exact "
    "machinery) is scored per cohort. The boundary is the point: "
    "verbatim and 10-word spans must flag at 1.0 (any >=5-word "
    "contiguous overlap survives shingling), the 4-word span at "
    "EXACTLY 0.0 — an asserted contract "
    "(tests/test_llmdata.py::test_decontamination_recall_boundary "
    "pins all four cohort rates), not a documented gap: 4-word "
    "overlaps are deliberately out of decontamination scope because "
    "a 4-gram band would ~1.25x the gram volume and flag mostly "
    "idiom-level collocations (false-positive noise) while carrying "
    "negligible eval signal. The MinHash fuzzy tier does NOT cover "
    "this blind spot and no longer claims to — its measured catch "
    "rate on 4-word snippets is 0.0 "
    "(test_decontamination_fuzzy_tier_catch_rate_measured pins it, "
    "with the reason: a 4-word snippet shares <=2 shingles with its "
    "25+-word source). The fuzzy tier's decontamination value is "
    "near-VERBATIM copies (measured 1.0 on verbatim re-plants); "
    "dense paraphrase evades both lexical tiers and belongs to the "
    "embedding-similarity family. clean_train shows the organic "
    "false-positive base rate. Same join shape and scale posture as "
    "decontamination_overlap (broadcast benchmark gram set).",
)
def q_decontamination_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    b = d.select(
        "doc_id",
        "text",
        (F.expr(hex_to_int_sql("md5(text)")) % 100).alias("bucket"),
        F.split("text", " ").alias("w"),
    )
    # pin once per invocation: b feeds the eval-gram pass plus all
    # four planted-cohort branches, and the planted union is itself
    # read twice (gram explode + final recall join) — unpinned, the
    # split + md5-bucket scan executed up to 9x (optimization r11)
    b = b.localCheckpoint(eager=False)
    ev = b.filter((F.col("bucket") >= 90) & (F.size("w") >= 25))
    # residue-class planted ids (k=4, offsets 0-3): injective for any
    # input id range — migrated round 9 off the additive +3M/+4M/+5M
    # offsets (whose collisions the (doc_id, cohort) keying tolerated
    # flag-correctly, but which double-counted a collided physical doc
    # in two cohorts' n_docs at 100x)
    planted = (
        b.filter(F.col("bucket") < 90).select(
            (F.col("doc_id") * 4).alias("doc_id"),
            F.lit("clean_train").alias("cohort"),
            "text",
        )
        .unionAll(
            ev.select(
                (F.col("doc_id") * 4 + 1).alias("doc_id"),
                F.lit("copy_full").alias("cohort"),
                "text",
            )
        )
        .unionAll(
            ev.select(
                (F.col("doc_id") * 4 + 2).alias("doc_id"),
                F.lit("copy_span10").alias("cohort"),
                F.array_join(F.slice("w", 9, 10), " ").alias("text"),
            )
        )
        .unionAll(
            ev.select(
                (F.col("doc_id") * 4 + 3).alias("doc_id"),
                F.lit("copy_span4").alias("cohort"),
                F.array_join(F.slice("w", 9, 4), " ").alias("text"),
            )
        )
    )
    # round 10: zip_with n-grams (see llmdata/dedup.word_ngrams)
    grams = word_ngrams(F.col("text"), _NGRAM_N)
    eval_grams = (
        ev.select(F.explode(grams).alias("g"))
        .select(F.md5("g").alias("gh"))
        .distinct()
    )
    train_grams = (
        planted.select("doc_id", "cohort", F.explode(grams).alias("g"))
        .select("doc_id", "cohort", F.md5("g").alias("gh"))
        .distinct()
    )
    # flagged keys on (doc_id, cohort) — mirrors the oracle; with
    # residue ids the pair key is redundant (ids are injective) but
    # keeps the join contract explicit
    flagged = (
        train_grams.join(F.broadcast(eval_grams), "gh")
        .select("doc_id", "cohort")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        planted.join(flagged, ["doc_id", "cohort"], "left")
        .groupBy("cohort")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_flagged"),
        )
        .select(
            "cohort",
            "n_docs",
            "n_flagged",
            _r6(F.col("n_flagged") * 1.0 / F.col("n_docs")).alias("flag_rate"),
        )
        .orderBy("cohort")
    )


@_register(
    "doc_substring_dup_pairs",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents WHERE text IS NOT NULL
    ), sh AS (
      SELECT DISTINCT doc_id, h FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w) - 8),
                      i -> md5(array_to_string(w[i:i+9], ' ')))) AS h
        FROM words WHERE len(w) >= 10
      )
    ), grp AS (
      SELECT h, COUNT(DISTINCT doc_id) AS d FROM sh GROUP BY h
    ), keep AS (
      SELECT h FROM grp WHERE d BETWEEN 2 AND 8
    ), pair AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM sh a JOIN sh b USING (h) JOIN keep USING (h)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), tot AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    )
    SELECT p.d1, p.d2, p.shared,
           ROUND(CAST(p.shared AS DOUBLE) / LEAST(t1.n_sh, t2.n_sh), 6)
             AS overlap
    FROM pair p
    JOIN tot t1 ON p.d1 = t1.doc_id
    JOIN tot t2 ON p.d2 = t2.doc_id
    ORDER BY p.shared DESC, p.d1, p.d2
    LIMIT 20
    """,
    tags=("llmdata", "dedup"),
    doc="duplicated-substring pair discovery (the shingle-join proxy "
    "for exact substring dedup a la 'Deduplicating Training Data "
    "Makes Language Models Better'): every word-10-gram is md5 "
    "fingerprinted (stride 1), shingles shared by 2-8 docs nominate "
    "candidate pairs — the df cap drops boilerplate hot shingles, "
    "bounding any bucket's pair fan-out at C(8,2)=28, so the pair "
    "generator is never corpus-quadratic. Pairs expand in-row over "
    "each shingle's collected doc set (no shingle-table self-join); "
    "overlap normalizes by the smaller doc's shingle count. Top-20 "
    "by the integer shared-count, so selection is float-free.",
)
def q_doc_substring_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sh = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 10)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 9), "
                    "i -> md5(concat_ws(' ', slice(w, i, 10))))"
                )
            ).alias("h"),
        )
        .distinct()
    )
    grp = (
        sh.groupBy("h")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= 8))
    )
    pair = (
        grp.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds)), "
                    "y -> struct(x AS d1, y AS d2))))"
                )
            ).alias("q")
        )
        .groupBy(F.col("q.d1").alias("d1"), F.col("q.d2").alias("d2"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    tot = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    t1 = tot.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1"))
    t2 = tot.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2"))
    return (
        pair.join(t1, "d1")
        .join(t2, "d2")
        .orderBy(F.desc("shared"), "d1", "d2")
        .limit(20)
        .select(
            "d1",
            "d2",
            "shared",
            _r6(
                F.col("shared").cast("double") / F.least("n1", "n2")
            ).alias("overlap"),
        )
    )


@_register(
    "dup_cluster_size_stats",
    oracle=_CHAIN_CTE
    + """
    , assign AS (
      SELECT k.doc_id,
             LEAST(k.doc_id, COALESCE(c.min_reach, k.doc_id)) AS keeper_id
      FROM keyed k LEFT JOIN comp c USING (doc_id)
    ), sizes AS (
      SELECT keeper_id, COUNT(*) AS cluster_size
      FROM assign GROUP BY keeper_id
    )
    SELECT cluster_size, COUNT(*) AS n_clusters
    FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """,
    tags=("llmdata", "dedup", "iterative"),
    doc="Duplicate-cluster size distribution over the SAME planted "
    "A-B-C chain corpus and label-propagation components as "
    "dedup_keeper_transitive: group members by elected keeper, then "
    "histogram the cluster sizes. The curator's sanity table — a fat "
    "tail here means boilerplate super-clusters that need a bucket "
    "cap before pair generation. Adds two group-by shuffles over "
    "(id, label) pairs on top of the component iteration; the "
    "histogram itself is cluster-size-sized (tiny).",
)
def q_dup_cluster_size_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign = q_dedup_keeper_transitive(spark, sf_dir)
    sizes = assign.groupBy("keeper_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


@_register(
    "doc_ngram_novelty",
    oracle="""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(w) - 3),
                    i -> array_to_string(w[i:i+4], ' '))) AS g
      FROM ws WHERE len(w) >= 5
    ), first_seen AS (
      SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g
    )
    SELECT gr.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN fs.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN fs.first_doc = gr.doc_id
                          THEN 1.0 ELSE 0.0 END) / COUNT(*), 6)
             AS novelty
    FROM grams gr JOIN first_seen fs ON gr.g = fs.g
    GROUP BY gr.doc_id ORDER BY gr.doc_id
    """,
    tags=("llmdata", "text", "dedup"),
    doc="novelty decay: per document (in doc_id arrival order), the "
    "fraction of its distinct 5-gram shingles first introduced by "
    "THIS document. first-seen is min(doc_id) per gram — one shuffle "
    "on the gram key with map-side combine; the re-join broadcasts "
    "nothing bigger than the gram table it already built. The curve "
    "every data-mixing pipeline reads to decide a source is mined "
    "out.",
)
def q_doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.split("text", " ").alias("w")
    ).filter(F.size("w") >= 5)
    grams = words.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 4), "
                "i -> concat_ws(' ', slice(w, i, 5)))"
            )
        ).alias("g"),
    ).distinct()
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        grams.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(novel).alias("n_novel"),
            _r6(
                F.sum(novel.cast("double")) / F.count(F.lit(1))
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Corpus-level segment (line) deduplication — the CCNet/RefinedWeb
# transform that removes text repeated ACROSS documents (nav bars,
# license footers, templated headers) before training.
#
# The corpus has no newline characters (TESTDATA.md synthetic text), so
# the "line" unit is a normalized fixed-width segment: non-overlapping
# 8-word windows of the whitespace token stream — the same unit a
# paragraph/line splitter produces after whitespace normalization.
# This is deliberately DISJOINT from the neighbouring operators:
# `doc_repetition_score` measures repetition WITHIN a document,
# `doc_substring_dup_pairs` finds overlapping-shingle pairs BETWEEN
# 2-8 documents; this one measures the corpus-wide duplicated-segment
# mass and flags majority-boilerplate documents — the signal line-dedup
# pipelines act on.
#
# Scale shape (100 TB): ONE corpus scan and one explode; the
# (doc, segment-hash) rollup partial-aggregates map-side before its
# shuffle; cross-document multiplicity comes from a COUNT window over
# the hash on the pair table (doc-count-sized skinny rows, not the
# token stream) — a freq-table self-join was rejected because column
# pruning specializes the two branches and defeats exchange reuse,
# re-scanning the corpus. Hot boilerplate hashes concentrate their
# pair rows in one window partition; those rows are 3 ints + a hash
# wide, so even a segment shared by 10^7 docs is a few hundred MB —
# bounded, unlike a second 100 TB scan. No driver state, no Python.


_SEG_WORDS = 8


@_register(
    "corpus_segment_dedup",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source, string_split(text, ' ') AS w
      FROM documents WHERE text IS NOT NULL
    ), seg AS (
      SELECT doc_id, source,
             unnest(list_transform(range(0, len(w) // {_SEG_WORDS}),
               i -> md5(array_to_string(
                      w[i * {_SEG_WORDS} + 1 : i * {_SEG_WORDS} + {_SEG_WORDS}],
                      ' ')))) AS h
      FROM w WHERE len(w) >= {_SEG_WORDS}
    ), pair AS (
      SELECT doc_id, source, h, COUNT(*) AS n_occ
      FROM seg GROUP BY doc_id, source, h
    ), marked AS (
      -- one window count instead of a freq-table self-join: the join
      -- formulation re-scans and re-explodes the whole corpus for its
      -- second branch (column pruning defeats exchange reuse); the
      -- window keeps a single lineage — ONE corpus scan at any scale
      SELECT doc_id, source, n_occ,
             COUNT(*) OVER (PARTITION BY h) AS n_docs_h
      FROM pair
    ), docstat AS (
      SELECT doc_id, source,
             SUM(n_occ) AS n_seg,
             SUM(CASE WHEN n_docs_h >= 2 THEN n_occ ELSE 0 END) AS n_dup
      FROM marked
      GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_seg) AS BIGINT) AS n_segments,
           CAST(SUM(n_dup) AS BIGINT) AS n_dup_segments,
           ROUND(SUM(n_dup) * 1.0 / nullif(SUM(n_seg), 0), 6) AS dup_ratio,
           CAST(SUM(CASE WHEN 2 * n_dup > n_seg THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_flagged
    FROM docstat GROUP BY source ORDER BY source
    """,
    tags=("llmdata", "dedup", "text"),
    doc="CCNet-style cross-document segment dedup report: hash "
    "non-overlapping 8-word segments, count how much of each "
    "source's segment mass also occurs in at least one OTHER "
    "document, and flag majority-boilerplate docs (>50% duplicated "
    "segments). A segment repeated only inside one document does "
    "NOT count (that is doc_repetition_score's intra-doc signal). "
    "Docs under 8 words have no segments and are out of scope. "
    "Ratio is nullif-guarded; counts are BIGINT on both engines.",
)
def q_corpus_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "source", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= _SEG_WORDS)
    )
    n_seg_expr = F.floor(F.size("w") / _SEG_WORDS).cast("int")
    segs = d.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_seg_expr - 1),
                lambda i: F.md5(
                    F.array_join(
                        F.slice("w", i * _SEG_WORDS + 1, _SEG_WORDS), " "
                    )
                ),
            )
        ).alias("h"),
    )
    pair = segs.groupBy("doc_id", "source", "h").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    marked = pair.withColumn(
        "n_docs_h",
        F.count(F.lit(1)).over(Window.partitionBy("h")),
    )
    docstat = (
        marked.groupBy("doc_id", "source")
        .agg(
            F.sum("n_occ").alias("n_seg"),
            F.sum(
                F.when(F.col("n_docs_h") >= 2, F.col("n_occ")).otherwise(0)
            ).alias("n_dup"),
        )
    )
    return (
        docstat.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_seg").alias("n_segments"),
            F.sum("n_dup").alias("n_dup_segments"),
            _r6(
                F.try_divide(
                    F.sum("n_dup") * F.lit(1.0),
                    F.nullif(F.sum("n_seg"), F.lit(0)),
                )
            ).alias("dup_ratio"),
            F.sum(
                F.when(
                    2 * F.col("n_dup") > F.col("n_seg"), 1
                ).otherwise(0)
            ).alias("n_docs_flagged"),
        )
        .orderBy("source")
    )


@_register(
    "cross_source_dup_matrix",
    oracle=f"""
    WITH hs AS (
      SELECT DISTINCT
             md5(array_to_string(string_split(text, ' ')[1:8], ' '))
               AS h,
             source
      FROM documents WHERE {_TOK_FILTER}
    ), per AS (
      SELECT source, COUNT(*) AS n FROM hs GROUP BY source
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(COUNT(*) AS BIGINT) AS shared_texts,
           ROUND(COUNT(*) * 1.0 / (pa.n + pb.n - COUNT(*)), 6)
             AS jaccard
    FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
    JOIN per pa ON pa.source = a.source
    JOIN per pb ON pb.source = b.source
    GROUP BY a.source, b.source, pa.n, pb.n
    ORDER BY shared_texts DESC, src_a, src_b
    """,
    tags=("llmdata", "dedup", "agg"),
    doc="Cross-source duplication matrix: for every source pair, how "
    "many distinct leading fingerprints (md5 of the first 8 words — "
    "the header/boilerplate signature mirrors and syndicated copies "
    "share even when trailing content drifts) they have in common, "
    "plus the Jaccard of their fingerprint sets — the mirror-site "
    "detector run BEFORE paying near-dup compute. The Spark plan "
    "never self-joins the hash table: each "
    "hash's distinct source set is collected in-row (bounded by "
    "source cardinality, ~dozens at any corpus scale) and pairs "
    "expand combinatorially inside the row, then one partial-agg "
    "shuffle on the (src_a, src_b) pair — the same in-row expansion "
    "as doc_substring_dup_pairs. Per-source totals are tiny and "
    "broadcast.",
)
def q_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    hs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select(
            F.md5(
                F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8))
            ).alias("h"),
            "source",
        )
        .distinct()
    )
    per = hs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    pair = (
        hs.groupBy("h")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .filter(F.size("ss") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) -> "
                    "transform(slice(ss, i + 2, size(ss)), "
                    "y -> struct(x AS src_a, y AS src_b))))"
                )
            ).alias("q")
        )
        .groupBy(
            F.col("q.src_a").alias("src_a"),
            F.col("q.src_b").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_texts"))
    )
    pa = per.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    pb = per.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        pair.join(F.broadcast(pa), "src_a")
        .join(F.broadcast(pb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared_texts",
            _r6(
                F.col("shared_texts")
                * 1.0
                / (F.col("na") + F.col("nb") - F.col("shared_texts"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("shared_texts"), "src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup — the storage-dedup technique
# (Rabin/gear rolling-hash boundaries) applied at word granularity to a
# text corpus: a chunk boundary falls wherever the word's hash satisfies
# a mask, so boundaries are a function of CONTENT, not position.
# Inserting one word near the start of a near-copy re-chunks only the
# chunk it lands in — every later chunk still hashes identically —
# which is exactly the shift-robustness fixed-stride segmenting
# (corpus_segment_dedup's 8-word windows) lacks and the reason dedup
# storage (and long-document near-dup at corpus scale) uses CDC.
#
# Everything is one scan + per-doc windows + one chunk-hash shuffle:
# posexplode the words, flag boundary words by md5 mask (expected chunk
# length = _MASK words), running-sum the flags into chunk ids, reform
# each chunk's text in-order, md5 it, and group corpus-wide.


_MASK = 16  # boundary when word32(w) % 16 == 0 -> ~16-word chunks
_MIN_WORDS = 2  # ignore sub-chunk fragments shorter than this


def _chunk_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chunk-hash groups (one scan, per-doc boundary window, one
    chunk-hash shuffle) — split out unpinned so the plan-shape test can
    assert the window/shuffle structure that the builder's
    localCheckpoint pin hides from the outer explain."""
    tok = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("p0", "word"))
        .select(
            "doc_id",
            (F.col("p0") + 1).alias("pos"),
            "word",
            F.when(
                F.expr(word32_sql("word")) % _MASK == 0, 1
            ).otherwise(0).alias("bnd"),
        )
    )
    wc = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ch = tok.withColumn("chunk_id", F.sum("bnd").over(wc))
    chunks = (
        ch.groupBy("doc_id", "chunk_id")
        .agg(
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "word"))
                        ),
                        lambda s: s.getField("word"),
                    ),
                )
            ).alias("h"),
            F.count(F.lit(1)).alias("n_words"),
        )
        .filter(F.col("n_words") >= _MIN_WORDS)
    )
    return chunks.groupBy("h").agg(
        F.max("n_words").alias("n_words"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )


@_register(
    "content_defined_chunk_dedup",
    oracle=f"""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents WHERE text IS NOT NULL AND text <> ''
    ), tok AS (
      SELECT doc_id, u.pos AS pos, u.word AS word,
             CASE WHEN {word32_sql('u.word')} % {_MASK} = 0
                  THEN 1 ELSE 0 END AS bnd
      FROM (
        SELECT doc_id,
               unnest(list_transform(w,
                      (x, i) -> {{'pos': i, 'word': x}})) AS u
        FROM ws
      )
    ), ch AS (
      SELECT doc_id, pos, word,
             SUM(bnd) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS chunk_id
      FROM tok
    ), chunks AS (
      SELECT doc_id, chunk_id,
             md5(string_agg(word, ' ' ORDER BY pos)) AS h,
             COUNT(*) AS n_words
      FROM ch GROUP BY doc_id, chunk_id
      HAVING COUNT(*) >= {_MIN_WORDS}
    ), grp AS (
      SELECT h, MAX(n_words) AS n_words,
             COUNT(DISTINCT doc_id) AS n_docs,
             COUNT(*) AS n_occurrences
      FROM chunks GROUP BY h
    )
    SELECT h AS chunk_hash,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_occurrences AS BIGINT) AS n_occurrences,
           ROUND(n_words * (n_occurrences - 1) * 1.0 /
                 (SELECT SUM(n_words * n_occurrences) FROM grp), 6)
             AS dedupable_mass_share
    FROM grp WHERE n_docs >= 2
    ORDER BY n_docs DESC, n_occurrences DESC, chunk_hash
    LIMIT 20
    """,
    tags=("llmdata", "dedup", "window"),
    doc="Content-defined chunk dedup: word-hash-mask boundaries "
    f"(expected {_MASK}-word chunks) make chunk identity "
    "shift-robust — a one-word insertion re-chunks one chunk, not "
    "the document tail — then chunks dedupe corpus-wide by md5. "
    "Top-20 cross-document chunks with the share of corpus word "
    "mass that deduplicating each would reclaim. One scan, two "
    "per-doc windows (boundary cumsum, in-order reform), one "
    "chunk-hash shuffle — the CDC storage-dedup plan, and the "
    "long-document complement to fixed-stride corpus_segment_dedup.",
)
def q_content_defined_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pin once per invocation: the dedupable-mass total and the
    # n_docs>=2 report branch both read this frame — unpinned, the
    # whole chunk pipeline (posexplode + boundary window + two aggs)
    # executed twice (optimization r11). The pinned frame is four
    # narrow columns per distinct chunk hash.
    grp = _chunk_groups(spark, sf_dir).localCheckpoint(eager=False)
    tot = grp.agg(
        F.sum(F.col("n_words") * F.col("n_occurrences")).alias("tot")
    )
    return (
        grp.filter(F.col("n_docs") >= 2)
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("h").alias("chunk_hash"),
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            _r6(
                F.col("n_words")
                * (F.col("n_occurrences") - 1)
                * 1.0
                / F.col("tot")
            ).alias("dedupable_mass_share"),
        )
        .orderBy(
            F.desc("n_docs"), F.desc("n_occurrences"), "chunk_hash"
        )
        .limit(20)
    )


# --------------------------------------------------------------------
# snippet containment: shared planted-corpus + shingle machinery
# --------------------------------------------------------------------

#: max docs sharing a 3-shingle before the shingle is dropped from the
#: inverted index — the same boilerplate guard as minhash_lsh_pairs'
#: bucket_cap: a shingle held by B docs contributes B^2/2 candidate
#: pairs, so one crawl banner would otherwise turn the index join
#: quadratic on exactly the hottest key.
_CONTAIN_DF_CAP = 32
_CONTAIN_THRESHOLD = 0.8
_SHINGLE3_SQL = (
    "list_transform(range(1, len(w) - 1), "
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])"
)
_CONTAIN_BASE_SQL = f"""
    WITH base AS (
      SELECT doc_id, text,
             {hex_to_int_sql("md5(text)")} % 100 AS bucket,
             string_split(text, ' ') AS w
      FROM documents
    ), ev AS (
      SELECT doc_id, w FROM base WHERE bucket >= 90 AND len(w) >= 25
    ), corpus AS (
      -- residue-class synthetic ids (4i / 4i+1 / 4i+2): collision-free
      -- for any input id range — the 100x decade smoke caught additive
      -- offsets colliding with replica ids
      SELECT doc_id * 4 AS doc_id, text FROM base
      UNION ALL
      SELECT doc_id * 4 + 1, array_to_string(w[9:18], ' ') FROM ev
      UNION ALL
      SELECT doc_id * 4 + 2, array_to_string(w[9:12], ' ') FROM ev
    ), cw AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM corpus
    ), sh AS (
      SELECT DISTINCT doc_id, unnest({_SHINGLE3_SQL}) AS g
      FROM cw WHERE len(w) >= 3
    ), sdf AS (
      SELECT g FROM sh GROUP BY g HAVING COUNT(*) <= {_CONTAIN_DF_CAP}
    ), keep AS (
      SELECT s.doc_id, s.g FROM sh s JOIN sdf USING (g)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM keep GROUP BY doc_id
    ), cand AS (
      SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
             COUNT(*) AS n_common
      FROM keep a JOIN keep b
        ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT c.doc_id_1, c.doc_id_2, c.n_common,
             c.n_common * 1.0 / LEAST(s1.n_sh, s2.n_sh) AS containment
      FROM cand c
      JOIN sizes s1 ON c.doc_id_1 = s1.doc_id
      JOIN sizes s2 ON c.doc_id_2 = s2.doc_id
      WHERE c.n_common * 1.0 / LEAST(s1.n_sh, s2.n_sh)
            >= {_CONTAIN_THRESHOLD}
    )
"""


def _planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snippet-planted corpus shared by the containment family
    (and, since round 8b, split_leakage_audit): documents plus a
    10-word and a 4-word span extracted from every eval-bucket doc
    (md5 bucket >= 90, length >= 25 words); residue-class ids
    (original = 4i, span10 = 4i+1, span4 = 4i+2, collision-free at
    any corpus scale).  Mirrors the ``corpus`` CTE of
    _CONTAIN_BASE_SQL exactly."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    base = docs.select(
        "doc_id",
        "text",
        (F.expr(hex_to_int_sql("md5(text)")) % 100).alias("bucket"),
        F.split("text", " ").alias("w"),
    )
    ev = base.filter((F.col("bucket") >= 90) & (F.size("w") >= 25))
    # residue-class synthetic ids (original = 4i, span10 = 4i+1,
    # span4 = 4i+2): collision-free for any input id range — the 100x
    # decade smoke caught the previous +4M/+5M offsets colliding with
    # replica ids, which silently aliases planted pairs at scale
    return (
        docs.select((F.col("doc_id") * 4).alias("doc_id"), "text")
        .unionAll(
            ev.select(
                (F.col("doc_id") * 4 + 1).alias("doc_id"),
                F.array_join(F.slice("w", 9, 10), " ").alias("text"),
            )
        )
        .unionAll(
            ev.select(
                (F.col("doc_id") * 4 + 2).alias("doc_id"),
                F.array_join(F.slice("w", 9, 4), " ").alias("text"),
            )
        )
    )


def _containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-corpus shingle-containment pairs (Spark side of
    _CONTAIN_BASE_SQL, kept structurally parallel for auditability).

    Plants two snippet cohorts (a 10-word and a 4-word span of every
    eval-bucket doc) into the corpus, then finds (doc, doc) pairs
    whose kept-3-shingle intersection covers >= 80% of the SMALLER
    side's shingles.  Containment is the asymmetric measure: a
    snippet extracted from a long document scores 1.0 where its
    Jaccard is ~|snippet|/|doc| — invisible to every MinHash tier
    (measured 0.0 in test_decontamination_fuzzy_tier_catch_rate).

    Scale: one shingle-key shuffle builds the inverted index; the df
    cap bounds every index key at {cap} docs so the candidate join
    contributes <= cap^2/2 pairs per shingle (boilerplate shingles
    are dropped, same posture as the LSH bucket cap); sizes/pair
    joins are equi-joins on doc-id keys.  No broadcast hints — every
    frame here is corpus- or vocabulary-sized.
    """.format(cap=_CONTAIN_DF_CAP)
    from stockpulse_spark.llmdata.dedup import shingles as _sh3

    corpus = _planted_corpus(spark, sf_dir)
    # round 10: shared zip_with shingles — the old transform(sequence,
    # slice) form re-split the text per shingle position (interpreted
    # HOF capture; see llmdata/dedup.word_ngrams)
    shingle3 = _sh3(F.col("text"), 3)
    sh = corpus.select("doc_id", F.explode(shingle3).alias("g"))
    # df-cap as ONE window count over the g exchange instead of
    # groupBy(g) + join-back: the old shape shuffled the full shingle
    # table by g twice (count pass + cap semi-join); the window form
    # shuffles it once and filters in place — same rows out
    # (count(*) over (partition by g) == the groupBy count), verified
    # bit-identical (optimization r11, guide §2.4). keep is pinned
    # once per invocation: it feeds the sizes pass and both candidate
    # self-join sides — unpinned, the planted-corpus shingle explode
    # executed 4x.
    keep = (
        sh.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("g"))
        )
        .filter(F.col("__df") <= _CONTAIN_DF_CAP)
        .drop("__df")
        .localCheckpoint(eager=False)
    )
    sizes = keep.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = keep.select(F.col("doc_id").alias("doc_id_1"), "g")
    b = keep.select(F.col("doc_id").alias("doc_id_2"), "g")
    cand = (
        a.join(b, ["g"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s1 = sizes.select(
        F.col("doc_id").alias("doc_id_1"), F.col("n_sh").alias("__n1")
    )
    s2 = sizes.select(
        F.col("doc_id").alias("doc_id_2"), F.col("n_sh").alias("__n2")
    )
    contain = F.col("n_common") * 1.0 / F.least("__n1", "__n2")
    return (
        cand.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .filter(contain >= _CONTAIN_THRESHOLD)
        .select(
            "doc_id_1",
            "doc_id_2",
            "n_common",
            contain.alias("containment"),
        )
    )


@_register(
    "snippet_containment_pairs",
    oracle=_CONTAIN_BASE_SQL
    + """
    SELECT doc_id_1, doc_id_2, n_common,
           ROUND(containment, 6) AS containment
    FROM pairs
    ORDER BY doc_id_1, doc_id_2
    """,
    tags=("llmdata", "dedup", "join"),
    doc="Asymmetric shingle-containment near-dup pairs over a corpus "
    "with planted snippet extractions: |S1 ∩ S2| / min(|S1|, |S2|) "
    ">= 0.8 on distinct 3-word shingles, via a df-capped inverted "
    "index (cap 32 — the boilerplate guard, same posture as the LSH "
    "bucket cap: over-cap shingles are dropped, bounding the index "
    "self-join at cap^2/2 pairs per shingle).  Containment is the "
    "measure Jaccard-family tiers structurally lack: a snippet "
    "extracted into another doc scores containment 1.0 while its "
    "Jaccard is ~|snippet|/|doc| — the class "
    "test_decontamination_fuzzy_tier_catch_rate measured MinHash "
    "missing entirely.  One shingle-key shuffle + equi-joins; no "
    "broadcast hints (every frame is vocabulary- or corpus-sized).",
)
def q_snippet_containment_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return (
        _containment_pairs(spark, sf_dir)
        .select(
            "doc_id_1",
            "doc_id_2",
            "n_common",
            _r6(F.col("containment")).alias("containment"),
        )
        .orderBy("doc_id_1", "doc_id_2")
    )


@_register(
    "containment_recall_eval",
    oracle=_CONTAIN_BASE_SQL
    + """
    , planted AS (
      SELECT doc_id * 4 + 1 AS planted_id, doc_id * 4 AS src_id,
             'copy_span10' AS cohort FROM ev
      UNION ALL
      SELECT doc_id * 4 + 2, doc_id * 4, 'copy_span4' FROM ev
    ), hits AS (
      SELECT pl.cohort, pl.planted_id
      FROM planted pl JOIN pairs p
        ON p.doc_id_1 = LEAST(pl.src_id, pl.planted_id)
       AND p.doc_id_2 = GREATEST(pl.src_id, pl.planted_id)
    )
    SELECT pl.cohort,
           CAST(COUNT(*) AS BIGINT) AS n_planted,
           CAST(COUNT(h.planted_id) AS BIGINT) AS n_caught,
           ROUND(COUNT(h.planted_id) * 1.0 / COUNT(*), 6) AS catch_rate
    FROM planted pl
    LEFT JOIN hits h
      ON pl.cohort = h.cohort AND pl.planted_id = h.planted_id
    GROUP BY pl.cohort ORDER BY pl.cohort
    """,
    tags=("llmdata", "dedup", "evaluation"),
    doc="Measured recall of the containment tier on the SAME planted "
    "snippet cohorts the decontamination harness uses — the honest "
    "closure of the 4-word story: the 5-gram exact tier is blind "
    "below 5 words by construction (flag_rate 0.0, asserted) and "
    "MinHash measures 0.0 there too, but a 4-word snippet still "
    "carries two 3-shingles, ALL of which come from its source doc — "
    "containment 1.0, caught.  This query reports per-cohort catch "
    "rates of snippet_containment_pairs' exact machinery "
    "(copy_span10 and copy_span4), so the layered-defense claim is "
    "a measured number with a driver-hashed certificate, not prose. "
    "(A planted snippet is only missed if its shingles are df-capped "
    "boilerplate — the documented precision/recall trade of the "
    "cap.)  Same plan as snippet_containment_pairs plus one "
    "metadata-sized cohort rollup.",
)
def q_containment_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    base = docs.select(
        "doc_id",
        (F.expr(hex_to_int_sql("md5(text)")) % 100).alias("bucket"),
        F.split("text", " ").alias("w"),
    )
    ev = base.filter((F.col("bucket") >= 90) & (F.size("w") >= 25))
    planted = ev.select(
        (F.col("doc_id") * 4 + 1).alias("planted_id"),
        (F.col("doc_id") * 4).alias("src_id"),
        F.lit("copy_span10").alias("cohort"),
    ).unionAll(
        ev.select(
            (F.col("doc_id") * 4 + 2).alias("planted_id"),
            (F.col("doc_id") * 4).alias("src_id"),
            F.lit("copy_span4").alias("cohort"),
        )
    )
    # pin once per invocation: the hit join AND the final recall join
    # both read the planted union, and each branch of the union reads
    # the md5-bucket + split filter — unpinned, that filter executed
    # 4x. The pinned frame is three id/label columns, nothing wide
    # (optimization r11).
    planted = planted.localCheckpoint(eager=False)
    pairs = _containment_pairs(spark, sf_dir)
    hits = planted.join(
        pairs,
        (pairs.doc_id_1 == F.least("src_id", "planted_id"))
        & (pairs.doc_id_2 == F.greatest("src_id", "planted_id")),
    ).select("cohort", F.col("planted_id").alias("__hit_id"))
    return (
        planted.join(
            hits.withColumnRenamed("__hit_id", "planted_id").withColumn(
                "__hit", F.lit(1)
            ),
            ["cohort", "planted_id"],
            "left",
        )
        .groupBy("cohort")
        .agg(
            F.count(F.lit(1)).alias("n_planted"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("bigint").alias(
                "n_caught"
            ),
        )
        .select(
            "cohort",
            "n_planted",
            "n_caught",
            _r6(F.col("n_caught") * 1.0 / F.col("n_planted")).alias(
                "catch_rate"
            ),
        )
        .orderBy("cohort")
    )


# --------------------------------------------------------------------
# split leakage audit
# --------------------------------------------------------------------

_SPLIT_SQL = (
    f"CASE WHEN {hex_to_int_sql('md5(text)')} % 100 < 80 THEN 'train' "
    f"WHEN {hex_to_int_sql('md5(text)')} % 100 < 90 THEN 'val' "
    "ELSE 'test' END"
)


@_register(
    "split_leakage_audit",
    oracle=_CONTAIN_BASE_SQL
    + f"""
    , spl AS (
      SELECT doc_id, {_SPLIT_SQL} AS split FROM corpus
    ), lab AS (
      SELECT LEAST(s1.split, s2.split) AS split_a,
             GREATEST(s1.split, s2.split) AS split_b
      FROM pairs p
      JOIN spl s1 ON p.doc_id_1 = s1.doc_id
      JOIN spl s2 ON p.doc_id_2 = s2.doc_id
    ), agg AS (
      SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM lab GROUP BY 1, 2
    ), tot AS (
      SELECT SUM(n_pairs) AS t,
             SUM(CASE WHEN split_a <> split_b THEN n_pairs ELSE 0 END)
               AS x
      FROM agg
    )
    SELECT a.split_a, a.split_b,
           a.split_a <> a.split_b AS crosses_split,
           a.n_pairs,
           CASE WHEN t.t > 0
                THEN ROUND(a.n_pairs * 1.0 / t.t, 6) END AS pair_share,
           CASE WHEN t.t > 0
                THEN ROUND(t.x * 1.0 / t.t, 6) END AS corpus_leak_rate
    FROM agg a CROSS JOIN tot t
    ORDER BY split_a, split_b
    """,
    tags=("llmdata", "dedup", "evaluation", "governance"),
    doc="Near-duplicate leakage across the content-keyed 80/10/10 "
    "split, measured on the snippet-planted containment corpus: for "
    "every containment>=0.8 pair, which (split, split) cell it lands "
    "in, plus the corpus-wide cross-split leak rate.  The honest "
    "closure of doc_train_test_split's guarantee: an md5(text)-keyed "
    "split makes EXACT duplicate leakage impossible by construction "
    "(identical text, identical bucket — the within-split cells "
    "prove the planted snippets exist), but a NEAR-duplicate hashes "
    "independently, so ~2*p*(1-p) of near-dup pairs cross — this "
    "query turns that from an argument into a driver-hashed number, "
    "and is the evidence for running dedup BEFORE splitting (the "
    "funnel's ordering).  Same bounded plan as "
    "snippet_containment_pairs plus two metadata-sized rollups; the "
    "split labels join the pairs on doc-id equi-keys.",
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = F.expr(hex_to_int_sql("md5(text)")) % 100
    split = (
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
    )
    spl = _planted_corpus(spark, sf_dir).select(
        "doc_id", split.alias("split")
    )
    pairs = _containment_pairs(spark, sf_dir)
    s1 = spl.select(
        F.col("doc_id").alias("doc_id_1"), F.col("split").alias("__s1")
    )
    s2 = spl.select(
        F.col("doc_id").alias("doc_id_2"), F.col("split").alias("__s2")
    )
    lab = (
        pairs.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .select(
            F.least("__s1", "__s2").alias("split_a"),
            F.greatest("__s1", "__s2").alias("split_b"),
        )
    )
    # pin: agg feeds the corpus-total branch AND the final report
    # crossJoin — unpinned, the whole containment-pairs pipeline (two
    # corpus builds + shingle index + self-join) executed twice per
    # invocation. The pinned frame is <= |splits|^2 rows
    # (optimization r11).
    agg = lab.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).alias("n_pairs")
    ).localCheckpoint(eager=False)
    tot = agg.agg(
        F.sum("n_pairs").alias("t"),
        F.sum(
            F.when(
                F.col("split_a") != F.col("split_b"), F.col("n_pairs")
            ).otherwise(F.lit(0))
        ).alias("x"),
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "split_a",
            "split_b",
            (F.col("split_a") != F.col("split_b")).alias("crosses_split"),
            "n_pairs",
            F.when(
                F.col("t") > 0, _r6(F.col("n_pairs") * 1.0 / F.col("t"))
            ).alias("pair_share"),
            F.when(
                F.col("t") > 0, _r6(F.col("x") * 1.0 / F.col("t"))
            ).alias("corpus_leak_rate"),
        )
        .orderBy("split_a", "split_b")
    )


# --------------------------------------------------------------------
# LSH tuning curve (closed-form S-curve certificate)
# --------------------------------------------------------------------

_LSH_CONFIGS = ((8, 4), (16, 4), (32, 4), (8, 8), (16, 8), (64, 2))
_LSH_JACCARDS = (0.3, 0.5, 0.7, 0.8, 0.9, 0.95)


@_register(
    "lsh_tuning_curve",
    oracle=f"""
    WITH cfg AS (
      SELECT * FROM (VALUES
        {", ".join(f"({b}, {r})" for b, r in _LSH_CONFIGS)}
      ) AS t(bands, rows_per_band)
    ), jj AS (
      SELECT * FROM (VALUES
        {", ".join(f"(CAST({j} AS DOUBLE))" for j in _LSH_JACCARDS)}
      ) AS t(jaccard)
    )
    SELECT bands, rows_per_band, jaccard,
           ROUND(1.0 - POWER(1.0 - POWER(jaccard, rows_per_band),
                             bands), 6) AS p_detect,
           ROUND(POWER(1.0 / bands, 1.0 / rows_per_band), 6)
             AS s_curve_threshold
    FROM cfg CROSS JOIN jj
    ORDER BY bands, rows_per_band, jaccard
    """,
    tags=("llmdata", "dedup", "planner"),
    doc="The closed-form LSH S-curve over candidate (bands, "
    "rows-per-band) configurations x a Jaccard grid: detection "
    "probability 1-(1-j^r)^b and the curve's threshold (1/b)^(1/r) — "
    "the tuning table that justifies doc_minhash_lsh's operating "
    "point as arithmetic instead of prose (at (16,4): j=0.8 is "
    "caught w.p. ~0.9997 while j=0.5 stays under 0.64 — read the "
    "certified numbers off the result, they are driver-hashed).  A "
    "config-enumerated literal grid (|configs| x |jaccards| rows, "
    "metadata-sized by construction): zero table scans, zero "
    "shuffles — the one query class where a broadcast-sized frame "
    "claim is exact rather than argued.",
)
def q_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the grid is expanded driver-side (36 literal rows): a crossJoin
    # of two unbroadcast literal frames would plan a CartesianProduct
    # with |left partitions| x |right partitions| tasks — measured
    # 1024 tasks / 45 s for 36 rows before this was flattened.
    # VALUES LocalRelation, not createDataFrame: the pickled-RDD form
    # of this zero-scan query still ran 32 Python-worker tasks per
    # action — 4.4 s measured for 36 rows (optimization r11).
    grid = values_df(
        spark,
        [(b, r, float(j)) for b, r in _LSH_CONFIGS for j in _LSH_JACCARDS],
        ["bands", "rows_per_band", "jaccard"],
    )
    p = 1.0 - F.pow(
        1.0 - F.pow(F.col("jaccard"), F.col("rows_per_band")),
        F.col("bands"),
    )
    thr = F.pow(1.0 / F.col("bands"), 1.0 / F.col("rows_per_band"))
    return (
        grid
        .select(
            "bands",
            "rows_per_band",
            "jaccard",
            _r6(p).alias("p_detect"),
            _r6(thr).alias("s_curve_threshold"),
        )
        .orderBy("bands", "rows_per_band", "jaccard")
    )


# ---------------------------------------------------------------------------
# Round-9 wave: curation economics + index-maintenance instrumentation.
#
# Six queries a production training-data pipeline runs around the dedup/
# retrieval core the earlier waves built:
#
# - measured LSH PRECISION (the recall side has minhash_lsh_recall_eval
#   and lsh_tuning_curve; this closes the other half of the operating-
#   point evidence: of the candidate pairs the deployed tier emits, how
#   many are true near-dups at each estimated-similarity level),
# - per-domain document caps (C4-style source quotas with a
#   deterministic keep rank),
# - chunking economics for RAG/packing (size/stride token expansion,
#   closed form — no explode),
# - freshness-decay sampling weights (exact dyadic weights so the sums
#   are bit-reproducible under ANY partial-sum order),
# - LSH band churn under document edits (the CDC cost of an incremental
#   LSH index: which fraction of each band's entries an edit rewrites),
# - exact-dedup token savings per source (the storage/compute case for
#   running the dedup funnel at all).
#
# Reference parity: outside the reference's indicator scope (its dedup
# is drop_duplicates on a pandas frame — StockPulse
# src/preprocessing/preprocessing_pipeline.py:125); these extend the
# LLM-data pipeline family
# the north-star extensions call for.
#
# Scale posture: every query is scan-shaped or candidate-bounded. The
# precision sample only scores pairs the LSH tier already emitted
# (bounded by the band-bucket cap); the churn delta joins each doc to
# its single edited twin (1:1, never quadratic); caps/chunks/weights/
# savings are one groupBy over a scan projection. No global windows,
# no driver collects, no Python rows.


# ---------------------------------------------------------------------------
# 1. measured LSH precision by estimated-similarity level


@_register(
    "lsh_precision_sample",
    oracle=_MUT_CTE
    + f"""
    , sig AS (
      SELECT doc_id, {_sig_sql(16)} AS sig FROM corpus
    ), banded AS (
      SELECT doc_id, sig, b.band_idx,
             md5(array_to_string(sig[b.band_idx * 2 + 1 : b.band_idx * 2 + 2], '|')) AS band_hash
      FROM sig, (SELECT unnest(range(0, 8)) AS band_idx) b
    ), ok_buckets AS (
      SELECT band_idx, band_hash FROM banded
      GROUP BY band_idx, band_hash HAVING COUNT(*) <= 64
    ), cand AS (
      SELECT DISTINCT l.doc_id AS doc_id_1, r.doc_id AS doc_id_2,
             list_sum(list_transform(range(1, 17),
               i -> CASE WHEN l.sig[i] = r.sig[i] THEN 1 ELSE 0 END)) / 16.0
               AS est
      FROM banded l JOIN banded r
        ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
       AND l.doc_id < r.doc_id
      JOIN ok_buckets ob
        ON ob.band_idx = l.band_idx AND ob.band_hash = l.band_hash
    ), sh AS (
      SELECT doc_id, {_SHINGLES_DUCK} AS sh FROM corpus
    ), scored AS (
      SELECT c.est,
             len(list_intersect(a.sh, b.sh)) AS i,
             len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS u
      FROM cand c
      JOIN sh a ON c.doc_id_1 = a.doc_id
      JOIN sh b ON c.doc_id_2 = b.doc_id
      WHERE c.est >= 0.5
    )
    SELECT est AS est_jaccard,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN u > 0 AND i * 2 >= u THEN 1 ELSE 0 END)
                AS BIGINT) AS n_true,
           ROUND(SUM(CASE WHEN u > 0 AND i * 2 >= u THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS precision,
           ROUND(SUM(i) * 1.0 / nullif(SUM(u), 0), 6) AS micro_jaccard
    FROM scored GROUP BY est ORDER BY est
    """,
    tags=("llmdata", "dedup", "evaluation"),
    doc="Measured PRECISION of the deployed MinHash-LSH tier, by "
    "estimated-Jaccard level: every candidate pair the tier emits "
    "(est >= 0.5, the doc_minhash_lsh operating point) is verified "
    "against EXACT 3-gram Jaccard, reported per signature-agreement "
    "level (est is m/16 — nine possible levels).  Closes the "
    "operating-point evidence the recall side (minhash_lsh_recall_"
    "eval, lsh_tuning_curve) leaves open: recall says what the tier "
    "finds, this says what fraction of its candidate volume is real "
    "— the number that prices the downstream exact-verify stage.  "
    "truth test is integer (2i >= u), the micro average is a ratio "
    "of exact integer sums: no float-summation-order hazard.  Scale "
    "shape: exact Jaccard is computed ONLY on LSH-emitted pairs "
    "(band-bucket cap bounds them), via two id-keyed joins against "
    "the shingle-set frame — the funnel's verify-stage cost, "
    "measured not argued.",
)
def q_lsh_precision_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _mutated_corpus(spark, sf_dir)
    # pin the shingle frame once per invocation — the LSH candidate
    # stage (signatures) and the exact-Jaccard scoring both read it
    # (optimization r11; previously the corpus mutation + shingle
    # transform ran twice)
    sh = corpus.select(
        "doc_id", shingles("text", 3).alias("sh")
    ).localCheckpoint(eager=False)
    pairs = minhash_lsh_pairs_from_shingles(
        sh, sh_col="sh", k=16, bands=8, threshold=0.5
    )
    a = sh.select(F.col("doc_id").alias("doc_id_1"), F.col("sh").alias("sh1"))
    b = sh.select(F.col("doc_id").alias("doc_id_2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2"))
    scored = (
        pairs.join(a, "doc_id_1")
        .join(b, "doc_id_2")
        .select(
            F.col("est_jaccard").alias("est"),
            inter.alias("i"),
            (F.size("sh1") + F.size("sh2") - inter).alias("u"),
        )
    )
    true_hit = F.when((F.col("u") > 0) & (F.col("i") * 2 >= F.col("u")), 1).otherwise(0)
    return (
        scored.groupBy(F.col("est").alias("est_jaccard"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(true_hit).cast("bigint").alias("n_true"),
            F.sum("i").alias("__si"),
            F.sum("u").alias("__su"),
        )
        .select(
            "est_jaccard",
            "n_pairs",
            "n_true",
            _r6(F.col("n_true") * 1.0 / F.col("n_pairs")).alias("precision"),
            _r6(
                F.col("__si") * 1.0 / F.nullif(F.col("__su"), F.lit(0))
            ).alias("micro_jaccard"),
        )
        .orderBy("est_jaccard")
    )


# ---------------------------------------------------------------------------
# 5. LSH band churn under document edits (incremental-index CDC cost)


@_register(
    "lsh_band_churn",
    oracle=_MUT_CTE
    + f"""
    , sig AS (
      SELECT doc_id, {_sig_sql(16)} AS sig FROM corpus
    ), banded AS (
      SELECT doc_id, b.band_idx,
             md5(array_to_string(sig[b.band_idx * 2 + 1 : b.band_idx * 2 + 2], '|')) AS band_hash
      FROM sig, (SELECT unnest(range(0, 8)) AS band_idx) b
    ), joined AS (
      SELECT o.band_idx,
             o.band_hash IS DISTINCT FROM m.band_hash AS changed
      FROM banded o JOIN banded m
        ON m.doc_id = o.doc_id + 1 AND m.band_idx = o.band_idx
      WHERE o.doc_id % 2 = 0
    )
    SELECT band_idx,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed,
           ROUND(SUM(CASE WHEN changed THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS churn_rate
    FROM joined GROUP BY band_idx ORDER BY band_idx
    """,
    tags=("llmdata", "dedup", "cdc"),
    doc="LSH index-maintenance cost under document edits: each "
    "original (residue id 2i) is joined to its edited twin (2i+1, "
    "last 5 words dropped — _mutated_corpus) and, per band, the "
    "fraction of band hashes the edit changed is reported.  This is "
    "the CDC bill for an INCREMENTAL LSH index at 100 TB: an edit "
    "rewrites only the changed bands' (bucket -> id) entries, so "
    "churn_rate x |edits| x |bands| prices the index update stream "
    "— measured per band rather than assumed uniform (a tail-biased "
    "edit, like this suffix drop, churns the bands whose min-shingle "
    "lives near the tail more).  Scale shape: signature scan + one "
    "1:1 id-equi-join (never quadratic) + an 8-group aggregate.  "
    "IS DISTINCT FROM (null-safe) keeps empty/NULL-text docs "
    "comparable on both engines.",
)
def q_lsh_band_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _mutated_corpus(spark, sf_dir)
    k, bands = 16, 8
    r = k // bands
    sig = corpus.select(
        "doc_id", minhash_signature("text", k, 3).alias("sig")
    )
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.md5(
                            F.encode(
                                F.concat_ws(
                                    "|", F.slice("sig", b * r + 1, r)
                                ),
                                "utf-8",
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_hash")
    # pin once per invocation: the orig and mut branches both read the
    # banded frame, so the MinHash signature previously computed twice
    # (optimization r11)
    banded = banded.localCheckpoint(eager=False)
    orig = banded.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("oid"),
        "band_idx",
        F.col("band_hash").alias("h_orig"),
    )
    mut = banded.select(
        (F.col("doc_id") - 1).alias("oid"),
        "band_idx",
        F.col("band_hash").alias("h_mut"),
    )
    joined = orig.join(mut, ["oid", "band_idx"]).select(
        "band_idx",
        (~F.col("h_orig").eqNullSafe(F.col("h_mut"))).alias("changed"),
    )
    return (
        joined.groupBy("band_idx")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("changed"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_changed"),
        )
        .select(
            "band_idx",
            "n_docs",
            "n_changed",
            _r6(F.col("n_changed") * 1.0 / F.col("n_docs")).alias(
                "churn_rate"
            ),
        )
        .orderBy("band_idx")
    )


# ---------------------------------------------------------------------------
# 6. exact-dedup token savings per source


@_register(
    "dedup_token_savings",
    oracle="""
    WITH doubled AS (
      SELECT doc_id * 2 AS doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id * 2 + 1 AS doc_id, source, text FROM documents
    ), base AS (
      SELECT doc_id, source, md5(text) AS fp,
             CASE WHEN text IS NULL THEN 0
                  ELSE len(string_split(text, ' ')) END AS n_tok
      FROM doubled
    ), keepers AS (
      SELECT fp, MIN(doc_id) AS keeper_id
      FROM base WHERE fp IS NOT NULL GROUP BY fp
    ), marked AS (
      SELECT b.source, b.n_tok,
             CASE WHEN b.fp IS NULL THEN FALSE
                  WHEN b.doc_id = k.keeper_id THEN FALSE
                  ELSE TRUE END AS dropped
      FROM base b LEFT JOIN keepers k ON b.fp = k.fp
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN dropped THEN n_tok ELSE 0 END) AS BIGINT)
             AS tokens_dropped,
           ROUND(SUM(CASE WHEN dropped THEN n_tok ELSE 0 END) * 1.0
                 / nullif(SUM(n_tok), 0), 6) AS savings_rate
    FROM marked GROUP BY source ORDER BY source
    """,
    tags=("llmdata", "dedup", "agg"),
    doc="Exact-dedup token economics per source, over a deliberately "
    "doubled corpus (residue ids 2i/2i+1 so the planted copies can "
    "never collide with input ids): keeper = global MIN doc_id per "
    "md5(text) cluster, every other copy is dropped and its tokens "
    "billed to ITS OWN source — the per-source storage/compute case "
    "for running the dedup funnel, and the attribution rule that "
    "matters when a mirror site re-hosts another domain's content "
    "(the mirror pays, the origin keeps).  NULL-text docs are always "
    "keepers (no content to deduplicate on; md5(NULL) groups would "
    "otherwise merge unrelated empty docs into one fake cluster).  "
    "Scale shape: one 32-byte-key shuffle builds the keeper frame, "
    "one id-keyed join back, one |sources| aggregate.",
)
def q_dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    doubled = d.select(
        (F.col("doc_id") * 2).alias("doc_id"), "source", "text"
    ).unionAll(
        d.select((F.col("doc_id") * 2 + 1).alias("doc_id"), "source", "text")
    )
    base = doubled.select(
        "doc_id",
        "source",
        F.md5(F.encode(F.col("text"), "utf-8")).alias("fp"),
        F.when(F.col("text").isNull(), F.lit(0))
        .otherwise(F.size(F.split("text", " ")))
        .alias("n_tok"),
    )
    # pin once per invocation: the keeper aggregation and the marking
    # join both read this frame, so the md5 fingerprint + token count
    # over the doubled corpus previously computed twice (optimization
    # r11)
    base = base.localCheckpoint(eager=False)
    keepers = (
        base.filter(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_id"))
    )
    marked = base.join(keepers, "fp", "left").select(
        "source",
        "n_tok",
        F.when(F.col("fp").isNull(), F.lit(False))
        .when(F.col("doc_id") == F.col("keeper_id"), F.lit(False))
        .otherwise(F.lit(True))
        .alias("dropped"),
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("dropped"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dropped"),
            F.sum("n_tok").cast("bigint").alias("tokens_total"),
            F.sum(F.when(F.col("dropped"), F.col("n_tok")).otherwise(0))
            .cast("bigint")
            .alias("tokens_dropped"),
        )
        .select(
            "source",
            "n_docs",
            "n_dropped",
            "tokens_total",
            "tokens_dropped",
            _r6(
                F.col("tokens_dropped")
                * 1.0
                / F.nullif(F.col("tokens_total"), F.lit(0))
            ).alias("savings_rate"),
        )
        .orderBy("source")
    )


@_register(
    "quality_keeper_selection",
    oracle="""
    WITH base AS (
      SELECT doc_id, source,
             md5(array_to_string((string_split(text, ' '))[1:10], ' '))
               AS pfx,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS n_unique,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents WHERE text IS NOT NULL
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY pfx
                                ORDER BY n_unique DESC, doc_id) AS q_rnk,
             MIN(doc_id) OVER (PARTITION BY pfx) AS min_id,
             COUNT(*) OVER (PARTITION BY pfx) AS csize
      FROM base
    )
    SELECT source,
           CAST(COUNT(DISTINCT pfx) AS BIGINT) AS n_clusters,
           CAST(COUNT(DISTINCT CASE WHEN csize > 1 THEN pfx END)
                AS BIGINT) AS n_multi,
           CAST(SUM(CASE WHEN q_rnk = 1 AND doc_id != min_id
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_keeper_changed,
           CAST(SUM(CASE WHEN q_rnk = 1 THEN n_tok ELSE 0 END)
              - SUM(CASE WHEN doc_id = min_id THEN n_tok ELSE 0 END)
                AS BIGINT) AS tokens_kept_delta
    FROM ranked GROUP BY source ORDER BY source
    """,
    tags=("llmdata", "dedup", "curation"),
    doc="Quality-aware canonical selection: within each prefix-10 "
    "near-dup cluster, compare the MIN-ID keeper rule (what "
    "doc_dedup_exact / the keeper chain use) against a QUALITY rule "
    "(keep the member with the most distinct words, ties to the "
    "smaller id) — production pipelines keep the best copy, not the "
    "first, and this measures per source how often the rules "
    "disagree and the token delta of upgrading.  Quality is an "
    "INTEGER (distinct-word count), so the argmax is exact on both "
    "engines — no float-ranking hazard.  Scale shape: one pfx-keyed "
    "shuffle carries (two window functions + a rank) over clusters "
    "that are near-dup-sized by construction; one |sources| "
    "aggregate.  doc_id-attributed so a cluster spanning sources "
    "bills each side's own docs.",
)
def q_quality_keeper_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = F.split("text", " ")
    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            "source",
            F.md5(
                F.encode(F.concat_ws(" ", F.slice(w, 1, 10)), "utf-8")
            ).alias("pfx"),
            F.size(F.array_distinct(w)).cast("long").alias("n_unique"),
            F.size(w).cast("long").alias("n_tok"),
        )
    )
    cw = Window.partitionBy("pfx")
    ranked = base.select(
        "*",
        F.row_number()
        .over(cw.orderBy(F.col("n_unique").desc(), F.col("doc_id")))
        .alias("q_rnk"),
        F.min("doc_id").over(cw).alias("min_id"),
        F.count(F.lit(1)).over(cw).alias("csize"),
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.countDistinct("pfx").alias("n_clusters"),
            F.countDistinct(
                F.when(F.col("csize") > 1, F.col("pfx"))
            ).alias("n_multi"),
            F.sum(
                F.when(
                    (F.col("q_rnk") == 1) & (F.col("doc_id") != F.col("min_id")),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_keeper_changed"),
            (
                F.sum(F.when(F.col("q_rnk") == 1, F.col("n_tok")).otherwise(0))
                - F.sum(
                    F.when(F.col("doc_id") == F.col("min_id"), F.col("n_tok"))
                    .otherwise(0)
                )
            ).cast("bigint").alias("tokens_kept_delta"),
        )
        .orderBy("source")
    )

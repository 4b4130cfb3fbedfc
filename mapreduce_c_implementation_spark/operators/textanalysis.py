"""Text-analysis operators for LLM training-data pipelines (BASELINE.json
north star): language ID, quality scoring, token counting, document
fingerprinting.  All run over ``documents`` with DuckDB oracles.

Everything is built-in column expressions (whole-stage codegen, zero
Python in the hot path).  Scale: each op is a narrow per-row map — no
shuffle at all — so they pipeline into whatever downstream groupBy/join
needs them; at 100 TB the cost is one pass over the text bytes.

Cross-engine determinism: token hashing goes through md5 (identical in
both engines) with the first 8 hex chars parsed as an integer; ratio
features use single IEEE divisions; fold-based hashes force the same
left-to-right order via Spark ``aggregate`` vs DuckDB ``list_reduce``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_c_implementation_spark.functions.iterate import fixed_rounds
from mapreduce_c_implementation_spark.functions.prefix import running_by_bucket
from mapreduce_c_implementation_spark.functions.text import (
    DUCKDB_TOKENIZE,
    duckdb_ngrams,
    ngrams,
    tokenize,
)
from mapreduce_c_implementation_spark.functions.vector import SQL_DOT, spark_dot
from mapreduce_c_implementation_spark.registry import register
from mapreduce_c_implementation_spark.sources import load_table
from mapreduce_c_implementation_spark.sources.tables import (
    compute_scan,
    local_frame,
    parallel_scan,
)

_TOK = DUCKDB_TOKENIZE.format(col="text")

# Stopword profiles for the rule-based language scorer.  Deterministic
# data-driven scoring (the fixture's text is synthetic, so the point is
# the *operator contract*: same text -> same language decision in any
# engine), modeled on real n-gram/stopword language-ID heuristics.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "is", "fast", "slow"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit"),
    "es": ("el", "la", "los", "y", "es", "con", "por"),
    "fr": ("le", "la", "les", "et", "est", "avec", "pour"),
}


def _spark_lang_score(tokens: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.array_intersect(tokens, F.array(*[F.lit(w) for w in words])))


def _sql_lang_score(words: tuple[str, ...]) -> str:
    lits = ", ".join(f"'{w}'" for w in words)
    return f"len(list_intersect(tokens, [{lits}]))"


_LANG_CASE_SQL = (
    # argmax with fixed priority order en > de > es > fr; all-zero -> 'und'
    "CASE WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'und' "
    "WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en' "
    "WHEN s_de >= s_es AND s_de >= s_fr THEN 'de' "
    "WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END"
)


@register(
    "text_lang_id",
    oracle_sql=f"""
    WITH scored AS (
      SELECT doc_id, lang AS labeled_lang,
             {_sql_lang_score(LANG_PROFILES["en"])} AS s_en,
             {_sql_lang_score(LANG_PROFILES["de"])} AS s_de,
             {_sql_lang_score(LANG_PROFILES["es"])} AS s_es,
             {_sql_lang_score(LANG_PROFILES["fr"])} AS s_fr
      FROM (SELECT doc_id, lang, {_TOK} AS tokens FROM documents)
    )
    SELECT doc_id, labeled_lang, {_LANG_CASE_SQL} AS predicted_lang
    FROM scored
    """,
    tags=("text", "langid"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based language ID: stopword-profile intersection scoring with
    a deterministic argmax (priority en>de>es>fr, all-zero -> 'und')."""
    d = parallel_scan(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.col("lang").alias("labeled_lang"), tokenize(F.col("text")).alias("tokens")
    )
    scored = toks.select(
        "doc_id",
        "labeled_lang",
        *[
            _spark_lang_score(F.col("tokens"), ws).alias(f"s_{lg}")
            for lg, ws in LANG_PROFILES.items()
        ],
    )
    s = {lg: F.col(f"s_{lg}") for lg in LANG_PROFILES}
    zero = (s["en"] == 0) & (s["de"] == 0) & (s["es"] == 0) & (s["fr"] == 0)
    pred = (
        F.when(zero, "und")
        .when((s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] >= s["fr"]), "en")
        .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]), "de")
        .when(s["es"] >= s["fr"], "es")
        .otherwise("fr")
    )
    return scored.select("doc_id", "labeled_lang", pred.alias("predicted_lang"))


@register(
    "text_quality_score",
    oracle_sql=f"""
    WITH feat AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars_actual,
             CAST(len(tokens) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(tokens)) AS BIGINT) AS n_distinct,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                  AS BIGINT) AS n_digit_chars,
             CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
                  AS BIGINT) AS n_punct_chars,
             CAST(len(list_intersect(tokens, ['the','a','and','of','to','is','in','it']))
                  AS BIGINT) AS n_stopkinds
      FROM (SELECT doc_id, text, {_TOK} AS tokens FROM documents)
    )
    SELECT doc_id, n_tokens,
           CAST(n_distinct AS DOUBLE) / greatest(n_tokens, 1) AS ttr,
           CAST(n_digit_chars AS DOUBLE) / greatest(n_chars_actual, 1) AS digit_ratio,
           CAST(n_punct_chars AS DOUBLE) / greatest(n_chars_actual, 1) AS punct_ratio,
           round((CAST(n_distinct AS DOUBLE) / greatest(n_tokens, 1)) * 0.5
                 + (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.3 ELSE 0.0 END)
                 + (CASE WHEN n_stopkinds >= 2 THEN 0.2 ELSE 0.0 END)
                 - (CAST(n_digit_chars AS DOUBLE) / greatest(n_chars_actual, 1)) * 0.5,
                 6) AS quality_score
    FROM feat
    """,
    tags=("text", "quality"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality scoring: type-token ratio, digit /
    punctuation density, stopword presence, length band — the classic
    pre-training filter features (cf. C4/Gopher-style rules)."""
    d = parallel_scan(spark, sf_dir, "documents")
    feat = d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        tokenize(F.col("text")).alias("tokens"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), "[0-9]", ""))
        ).cast("long").alias("n_digit_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", ""))
        ).cast("long").alias("n_punct_chars"),
    ).select(
        "doc_id",
        "n_chars_actual",
        "n_digit_chars",
        "n_punct_chars",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("tokens")).cast("long").alias("n_distinct"),
        F.size(
            F.array_intersect(
                "tokens",
                F.array(*[F.lit(w) for w in ("the", "a", "and", "of", "to", "is", "in", "it")]),
            )
        ).cast("long").alias("n_stopkinds"),
    )
    ttr = F.col("n_distinct").cast("double") / F.greatest(F.col("n_tokens"), F.lit(1))
    digit_ratio = F.col("n_digit_chars").cast("double") / F.greatest(
        F.col("n_chars_actual"), F.lit(1)
    )
    punct_ratio = F.col("n_punct_chars").cast("double") / F.greatest(
        F.col("n_chars_actual"), F.lit(1)
    )
    score = F.round(
        ttr * 0.5
        + F.when(F.col("n_tokens").between(10, 100000), 0.3).otherwise(0.0)
        + F.when(F.col("n_stopkinds") >= 2, 0.2).otherwise(0.0)
        - digit_ratio * 0.5,
        6,
    )
    return feat.select(
        "doc_id",
        "n_tokens",
        ttr.alias("ttr"),
        digit_ratio.alias("digit_ratio"),
        punct_ratio.alias("punct_ratio"),
        score.alias("quality_score"),
    )


@register(
    "token_count",
    oracle_sql="""
    SELECT doc_id,
           CAST(CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
             AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
             AS BIGINT) AS n_bpe_ish_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_actual
    FROM documents
    """,
    tags=("text", "tokens"),
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    segmentation (letter runs | digit runs | single punctuation) — the
    cheap proxy for LLM token budgeting."""
    d = parallel_scan(spark, sf_dir, "documents")
    ws_count = (
        F.when(F.trim(F.col("text")) == "", F.lit(0))
        .otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("long")
    )
    bpe_count = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0))
    ).cast("long")
    return d.select(
        "doc_id",
        ws_count.alias("n_ws_tokens"),
        bpe_count.alias("n_bpe_ish_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


# token -> deterministic 32-bit int, identical in both engines:
#   Spark:  conv(substr(md5(t),1,8), 16, 10) cast long
#   DuckDB: CAST('0x' || substr(md5(t),1,8) AS BIGINT)
_SQL_TOKEN_HASH = "CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)"


def _spark_token_hash(t: Column) -> Column:
    return F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")


@register(
    "doc_fingerprint",
    oracle_sql=f"""
    SELECT doc_id,
           md5(array_to_string(tokens, ' ')) AS content_md5,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(tokens, t -> {_SQL_TOKEN_HASH})),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_hash
    FROM (SELECT doc_id, {_TOK} AS tokens FROM documents)
    """,
    tags=("text", "fingerprint"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of the normalized token stream plus a
    31-radix rolling polynomial hash mod 1e9+7 over per-token md5-derived
    ints (identical fold order in both engines)."""
    d = parallel_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("tokens"))
    hashes = F.transform(F.col("tokens"), _spark_token_hash)
    rolling = F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % 1000000007,
    )
    return toks.select(
        "doc_id",
        F.md5(F.array_join(F.col("tokens"), " ")).alias("content_md5"),
        rolling.alias("rolling_hash"),
    )


@register(
    "ngram_frequencies",
    oracle_sql=f"""
    SELECT ngram, count(*) AS cnt, count(DISTINCT doc_id) AS df
    FROM (
      SELECT doc_id, unnest({duckdb_ngrams("tokens", 2)}) AS ngram
      FROM (SELECT doc_id, {_TOK} AS tokens FROM documents)
    )
    GROUP BY ngram
    """,
    tags=("text", "ngram"),
)
def ngram_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency + document frequency table (the n-gram
    statistics feeding contamination / repetition analyses)."""
    d = parallel_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("tokens"))
    return (
        toks.select("doc_id", F.explode(ngrams(F.col("tokens"), 2)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("cnt"), F.count_distinct("doc_id").alias("df"))
    )


# Quality-filter thresholds (the shape of real corpus filters — e.g.
# C4/Gopher-style rules — over the synthetic fixture).
QF_MIN_TOKENS = 5
QF_MIN_ALPHA_RATIO = 0.6
QF_MIN_DISTINCT_RATIO = 0.3


@register(
    "corpus_quality_filter",
    oracle_sql=f"""
    WITH feats AS (
      SELECT doc_id,
             CAST(len(tokens) AS BIGINT) AS n_tokens,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
               / CASE WHEN length(text) = 0 THEN 1 ELSE length(text) END
               AS alpha_ratio,
             CAST(len(list_distinct(tokens)) AS DOUBLE)
               / CASE WHEN len(tokens) = 0 THEN 1 ELSE len(tokens) END
               AS distinct_ratio
      FROM (SELECT doc_id, text, {_TOK} AS tokens FROM documents)
    )
    SELECT doc_id, n_tokens,
           round(alpha_ratio, 6) AS alpha_ratio,
           round(distinct_ratio, 6) AS distinct_ratio,
           CASE WHEN n_tokens < {QF_MIN_TOKENS} THEN 'drop:too_short'
                WHEN alpha_ratio < {QF_MIN_ALPHA_RATIO} THEN 'drop:low_alpha'
                WHEN distinct_ratio < {QF_MIN_DISTINCT_RATIO} THEN 'drop:repetitive'
                ELSE 'keep' END AS verdict
    FROM feats
    """,
    tags=("text", "quality", "pipeline"),
)
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based corpus quality filter (the C4/Gopher-filter shape):
    per-document features -> keep/drop verdict WITH the firing rule, so
    the pipeline can audit drop reasons.  Rules: token count, alphabetic
    character ratio, distinct-token ratio (repetition detector).

    All features are codegen'd column expressions over one text pass —
    no shuffle, no Python; the thresholds compare identical IEEE
    divisions in both engines, so verdicts can't straddle engines.
    compute_scan because the regex feature pass is the whole query —
    a single-file scan would run it on one core.
    """
    d = compute_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", "text", tokenize(F.col("text")).alias("tokens"))
    n_tokens = F.size("tokens").cast("long")
    text_len = F.length("text")
    alpha_ratio = (
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("double")
        / F.when(text_len == 0, F.lit(1)).otherwise(text_len)
    )
    distinct_ratio = (
        F.size(F.array_distinct("tokens")).cast("double")
        / F.when(F.size("tokens") == 0, F.lit(1)).otherwise(F.size("tokens"))
    )
    feats = toks.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        alpha_ratio.alias("alpha_ratio"),
        distinct_ratio.alias("distinct_ratio"),
    )
    verdict = (
        F.when(F.col("n_tokens") < QF_MIN_TOKENS, F.lit("drop:too_short"))
        .when(F.col("alpha_ratio") < QF_MIN_ALPHA_RATIO, F.lit("drop:low_alpha"))
        .when(
            F.col("distinct_ratio") < QF_MIN_DISTINCT_RATIO,
            F.lit("drop:repetitive"),
        )
        .otherwise(F.lit("keep"))
    )
    return feats.select(
        "doc_id",
        "n_tokens",
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        F.round("distinct_ratio", 6).alias("distinct_ratio"),
        verdict.alias("verdict"),
    )


# Split fractions for the deterministic holdout splitter.
SPLIT_TRAIN_PCT = 80
SPLIT_VALID_PCT = 10  # test gets the remainder


@register(
    "deterministic_split",
    oracle_sql=f"""
    WITH assigned AS (
      SELECT doc_id, {_TOK} AS tokens,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
               % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN bucket < {SPLIT_TRAIN_PCT + SPLIT_VALID_PCT} THEN 'valid'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(len(tokens)) AS BIGINT) AS total_tokens
    FROM assigned
    GROUP BY 1
    """,
    tags=("text", "split", "pipeline"),
)
def deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test assignment: md5(doc_id) % 100 into
    {SPLIT_TRAIN_PCT}/{SPLIT_VALID_PCT}/rest buckets.  Content-hash
    splitting (never rand()) is the reproducibility contract of training
    pipelines — the same document lands in the same split on any engine,
    any run, any partitioning.  One narrow map + one tiny 3-group agg.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VALID_PCT, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), F.size(tokenize(F.col("text"))).alias("n_toks"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
        )
    )


# Context-window chunking: CHUNK_TOKENS-token windows every
# CHUNK_STRIDE tokens (stride < size => overlap, the usual LM recipe).
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


@register(
    "document_chunking",
    oracle_sql=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS tokens FROM documents),
    chunks AS (
      SELECT doc_id,
             unnest(generate_series(0,
               CAST(greatest(len(tokens) - 1, 0) // {CHUNK_STRIDE} AS BIGINT)))
               AS chunk_idx,
             tokens
      FROM toks
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(least({CHUNK_TOKENS},
                      len(tokens) - chunk_idx * {CHUNK_STRIDE}) AS BIGINT)
             AS n_tokens,
           md5(array_to_string(
             tokens[chunk_idx * {CHUNK_STRIDE} + 1 :
                    chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}],
             ' ')) AS chunk_hash
    FROM chunks
    WHERE chunk_idx * {CHUNK_STRIDE} < len(tokens) OR len(tokens) = 0
    """,
    tags=("text", "chunking", "pipeline"),
)
def document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking — how a corpus becomes LM training
    examples: overlapping {CHUNK_TOKENS}-token windows every
    {CHUNK_STRIDE} tokens (empty docs yield one empty chunk so no
    document silently disappears).  Emits (doc_id, chunk_idx, n_tokens,
    md5 of the chunk text) — the hash pins exact chunk CONTENT, so a
    boundary off by one token anywhere fails the oracle diff.

    Shape: tokenize once, explode window starts from a generate_series
    over the token count, slice per chunk — a narrow per-row flatMap,
    no shuffle, whole-stage codegen.  At 100 TB chunking pipelines
    directly into the dedup/pack stages with zero extra passes.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("tokens"))
    n = F.size("tokens")
    # floor the upper bound explicitly: sequence() needs ints and `/`
    # yields double
    starts = F.sequence(
        F.lit(0),
        F.floor(F.greatest(n - 1, F.lit(0)) / F.lit(CHUNK_STRIDE)).cast("int"),
    )
    chunks = toks.select(
        "doc_id", "tokens", F.explode(starts).alias("chunk_idx")
    ).filter(
        (F.col("chunk_idx") * CHUNK_STRIDE < F.size("tokens"))
        | (F.size("tokens") == 0)
    )
    piece = F.slice(
        F.col("tokens"), F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_TOKENS
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.least(
            F.lit(CHUNK_TOKENS),
            F.size("tokens") - F.col("chunk_idx") * CHUNK_STRIDE,
        ).cast("long").alias("n_tokens"),
        F.md5(F.array_join(piece, " ")).alias("chunk_hash"),
    )


# Token budget per packed training sequence.
PACK_BUDGET = 256
PACK_RANGE = 100  # docs per cumulative-sum range bucket (two-pass prefix sum)


@register(
    "sequence_packing",
    oracle_sql=f"""
    WITH toks AS (
      SELECT doc_id, CAST(len({_TOK}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS run_total
      FROM toks
    )
    SELECT CAST((run_total - 1) // {PACK_BUDGET} AS BIGINT) AS bin_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM cum
    WHERE n_tokens > 0
    GROUP BY 1
    """,
    tags=("text", "packing", "pipeline"),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — batching documents into ~{PACK_BUDGET}-token
    training sequences by prefix sum: documents in stable doc_id order,
    bin = (running-token-total - 1) // {PACK_BUDGET}.  This is the
    distributed form of greedy sequential packing: a prefix sum instead
    of an inherently serial first-fit loop, fully deterministic, and
    bins overflow by at most one document — same guarantee streaming
    packers give.

    The running total is ``functions/prefix.py``'s two-pass
    ``running_by_bucket`` over {PACK_RANGE}-doc buckets, NOT a single
    unpartitioned window (Exchange SinglePartition — the whole corpus
    through one task); a plan gate pins that.

    Output per bin: document count, token total, and the doc_id range —
    the range doubles as the shuffle-free read plan (each bin maps to a
    contiguous doc_id span, so the pack stage can partition-prune).
    Empty docs are excluded (they pack into no sequence).
    """
    d = parallel_scan(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens")
    ).withColumn("rb", F.expr(f"doc_id div {PACK_RANGE}"))
    cum = running_by_bucket(toks, "rb", ["doc_id"], run_total=F.col("n_tokens"))
    return (
        cum.filter(F.col("n_tokens") > 0)
        .selectExpr(
            f"(run_total - 1) div {PACK_BUDGET} AS bin_id",
            "doc_id",
            "n_tokens",
        )
        .groupBy("bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("bin_tokens"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
    )


# Feature-hashing dimensionality (the "hashing trick").
HASH_DIM = 32


@register(
    "hashing_trick_features",
    oracle_sql=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK}) AS t FROM documents
    ),
    bucketed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % {HASH_DIM} AS dim
      FROM tok
    ),
    counts AS (
      SELECT doc_id, dim, count(*) AS c FROM bucketed GROUP BY doc_id, dim
    )
    SELECT doc_id,
           count(*) AS n_active_dims,
           CAST(max(c) AS BIGINT) AS max_count,
           CAST(sum((dim + 1) * c) AS BIGINT) AS feature_checksum
    FROM counts GROUP BY doc_id
    """,
    tags=("text", "features", "pipeline"),
)
def hashing_trick_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: bag-of-words folded into a fixed {HASH_DIM}-
    dim count vector by hashing each token to a dimension — the
    vocabulary-free featurizer (no dictionary to build, broadcast, or
    OOM on) that scales to any corpus because the feature space is
    constant-size by construction.

    The position-weighted checksum sum((dim+1)*count) pins every vector
    component, so one token hashed into the wrong bucket fails the
    oracle.  Shape: explode -> two-level groupBy — the (doc, dim)
    aggregate combines map-side, and nothing vocabulary-sized ever
    exists (contrast tfidf_top_terms, which must shuffle a term table).
    """
    d = parallel_scan(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("t"))
    dim = (
        F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("long")
        % HASH_DIM
    )
    counts = (
        tok.select("doc_id", dim.alias("dim"))
        .groupBy("doc_id", "dim")
        .agg(F.count("*").alias("c"))
    )
    return counts.groupBy("doc_id").agg(
        F.count("*").alias("n_active_dims"),
        F.max("c").cast("long").alias("max_count"),
        F.sum((F.col("dim") + 1) * F.col("c")).cast("long").alias("feature_checksum"),
    )


@register(
    "unigram_logprob_score",
    oracle_sql=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK}) AS t FROM documents
    ),
    freq AS (
      SELECT t, count(*) AS c FROM tok GROUP BY t
    ),
    tot AS (SELECT sum(c) AS n FROM freq),
    lp AS (
      SELECT t, CAST(round(ln(CAST(c AS DOUBLE) / n), 6) AS DECIMAL(18,6)) AS logp
      FROM freq, tot
    )
    SELECT tok.doc_id,
           count(*) AS n_tokens,
           CAST(CAST(sum(lp.logp) AS DECIMAL(30,6)) AS DOUBLE) AS sum_logprob
    FROM tok JOIN lp ON tok.t = lp.t
    GROUP BY tok.doc_id
    """,
    tags=("text", "scoring", "pipeline"),
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level unigram log-probability per document — the simplest
    LM-based quality signal (gibberish and boilerplate both fall out as
    outliers).  Token log-probs are rounded to 6 places and summed in
    DECIMAL so the per-doc total is exact regardless of aggregation
    order (raw double sums of ln() values differ in the last ulp
    between engines and partitionings).

    Shape: one corpus-frequency aggregate (with the total folded in as
    a 1-row broadcast), then a token->logprob equi-join and a per-doc
    sum.  At 100 TB the frequency table is vocabulary-sized: it
    SHUFFLE-joins on the token (same de-weak rule as tfidf_top_terms —
    never broadcast an unbounded vocabulary).
    """
    d = parallel_scan(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("t"))
    freq = tok.groupBy("t").agg(F.count("*").alias("c"))
    tot = freq.agg(F.sum("c").alias("n"))
    lp = freq.crossJoin(F.broadcast(tot)).select(
        "t",
        F.round(F.log(F.col("c").cast("double") / F.col("n")), 6)
        .cast("decimal(18,6)")
        .alias("logp"),
    )
    return (
        tok.join(lp, "t")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("logp").cast("decimal(30,6)").cast("double").alias("sum_logprob"),
        )
    )


@register(
    "corpus_pipeline_end2end",
    oracle_sql=f"""
    WITH toks AS (
      SELECT doc_id, text, {_TOK} AS tokens FROM documents
    ),
    feats AS (
      SELECT doc_id, tokens,
             CAST(len(tokens) AS BIGINT) AS n_tokens,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
               / CASE WHEN length(text) = 0 THEN 1 ELSE length(text) END
               AS alpha_ratio,
             CAST(len(list_distinct(tokens)) AS DOUBLE)
               / CASE WHEN len(tokens) = 0 THEN 1 ELSE len(tokens) END
               AS distinct_ratio
      FROM toks
    ),
    kept AS (
      SELECT doc_id, tokens, n_tokens FROM feats
      WHERE n_tokens >= {QF_MIN_TOKENS}
        AND alpha_ratio >= {QF_MIN_ALPHA_RATIO}
        AND distinct_ratio >= {QF_MIN_DISTINCT_RATIO}
    ),
    reps AS (
      SELECT min(doc_id) AS doc_id, min(n_tokens) AS n_tokens
      FROM (SELECT doc_id, n_tokens,
                   md5(array_to_string(tokens, ' ')) AS content_key
            FROM kept)
      GROUP BY content_key
    )
    SELECT CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN bucket < {SPLIT_TRAIN_PCT + SPLIT_VALID_PCT} THEN 'valid'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM (SELECT doc_id, n_tokens,
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
                   % 100 AS bucket
          FROM reps)
    GROUP BY 1
    """,
    tags=("text", "pipeline", "end2end"),
)
def corpus_pipeline_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data pipeline as ONE composed plan: quality
    filter (keep verdicts only) -> exact dedup (min-doc_id
    representative per content digest) -> deterministic md5 train/
    valid/test split -> per-split document and token totals.

    The point is composition economics: tokenization happens ONCE and
    feeds filtering, content hashing, and token counting in the same
    narrow map; the only shuffles are the dedup groupBy (16-byte keys)
    and the 3-group final count.  At 100 TB this plan is one pass over
    the text plus a digest-keyed exchange — no stage re-reads the
    corpus, which is exactly why these stages belong in one engine
    rather than three jobs with parquet hops between them.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", "text", tokenize(F.col("text")).alias("tokens"))
    n_tokens = F.size("tokens").cast("long")
    text_len = F.length("text")
    alpha_ratio = (
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("double")
        / F.when(text_len == 0, F.lit(1)).otherwise(text_len)
    )
    distinct_ratio = (
        F.size(F.array_distinct("tokens")).cast("double")
        / F.when(F.size("tokens") == 0, F.lit(1)).otherwise(F.size("tokens"))
    )
    kept = toks.select(
        "doc_id",
        "tokens",
        n_tokens.alias("n_tokens"),
        alpha_ratio.alias("alpha_ratio"),
        distinct_ratio.alias("distinct_ratio"),
    ).filter(
        (F.col("n_tokens") >= QF_MIN_TOKENS)
        & (F.col("alpha_ratio") >= QF_MIN_ALPHA_RATIO)
        & (F.col("distinct_ratio") >= QF_MIN_DISTINCT_RATIO)
    )
    reps = (
        kept.select(
            "doc_id",
            "n_tokens",
            F.md5(F.array_join("tokens", " ")).alias("content_key"),
        )
        .groupBy("content_key")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("n_tokens").alias("n_tokens"),
        )
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VALID_PCT, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return (
        reps.select(split.alias("split"), "n_tokens")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


# BM25 parameters (the standard Robertson defaults) and the fixed probe
# query; terms absent from the corpus simply contribute nothing.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("the", "fast", "data", "slow", "and")
BM25_TOPK = 20

_BM25_QLIST = ", ".join(f"'{t}'" for t in BM25_QUERY)


# The BM25 scoring CTE chain, shared verbatim by bm25_topk_docs and
# hybrid_search_rrf so the fused ranker cannot drift from the lexical
# baseline it consumes.
_SQL_BM25_CTES = f"""tok AS (
      SELECT doc_id, unnest({_TOK}) AS t FROM documents
    ),
    dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM tok GROUP BY doc_id),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
    ),
    tf AS (
      SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf
      FROM tok WHERE t IN ({_BM25_QLIST})
      GROUP BY doc_id, t
    ),
    df AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY t),
    scored AS (
      SELECT tf.doc_id,
             CAST(round(
               ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
               * tf.tf * ({BM25_K1} + 1)
               / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                  + {BM25_B} * dl.dl / stats.avgdl)),
               6) AS DECIMAL(18,6)) AS s
      FROM tf
      JOIN df ON df.t = tf.t
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
    )"""


@register(
    "bm25_topk_docs",
    oracle_sql=f"""
    WITH {_SQL_BM25_CTES}
    SELECT doc_id,
           CAST(CAST(sum(s) AS DECIMAL(30,6)) AS DOUBLE) AS bm25,
           rank
    FROM (
      SELECT doc_id, sum(s) AS s_total,
             row_number() OVER (ORDER BY sum(s) DESC, doc_id ASC) AS rank
      FROM scored GROUP BY doc_id
    ) r JOIN scored USING (doc_id)
    WHERE rank <= {BM25_TOPK}
    GROUP BY doc_id, rank
    """,
    tags=("text", "retrieval", "bm25"),
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed probe query — the lexical
    baseline every hybrid (BM25 + vector) search stack keeps alongside
    ANN.  Per (doc, term): idf * saturated-tf with document-length
    normalization; per-term scores are rounded to 6 places and summed
    in DECIMAL so document totals are aggregation-order exact.

    Scale shape: the only corpus-wide state is (N, avgdl) — a 1-row
    broadcast aggregate (Catalyst folds the constant join key, so it
    lands as a single-row broadcast nested loop: exactly one row by
    construction, exempted in the repo-wide plan gate) — and the term
    df table is query-sized, also broadcast.  tf is corpus-sized but
    filtered to query terms at the tokenizer, so the whole query costs
    one filtered explode + two tiny joins + one top-k.
    """
    from pyspark.sql.window import Window

    d = parallel_scan(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("t"))
    dl = tok.groupBy("doc_id").agg(F.count("*").cast("double").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    ).withColumn("k", F.lit(1))
    tf = (
        tok.filter(F.col("t").isin(*BM25_QUERY))
        .groupBy("doc_id", "t")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df = tf.groupBy("t").agg(F.count("*").cast("double").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "t")
        .join(dl, "doc_id")
        .withColumn("k", F.lit(1))
        .join(F.broadcast(stats), "k")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    s = F.round(
        idf
        * F.col("tf")
        * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        ),
        6,
    ).cast("decimal(18,6)")
    per_doc = (
        scored.select("doc_id", s.alias("s"))
        .groupBy("doc_id")
        .agg(F.sum("s").alias("s_total"))
    )
    w = Window.orderBy(F.desc("s_total"), F.asc("doc_id"))
    return (
        per_doc.select(
            "doc_id",
            F.col("s_total").cast("decimal(30,6)").cast("double").alias("bm25"),
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .filter(F.col("rank") <= BM25_TOPK)
    )


# PMI co-occurrence: mid-frequency terms only — document frequency in
# [PMI_DF_LO_PCT, PMI_DF_HI_PCT] percent of the corpus.  A RELATIVE
# window (not absolute counts) so the same contract holds at any scale
# factor; ultra-hot terms are excluded for the same reason dedup drops
# stop-shingles (no signal), ultra-rare ones are noise.  Pairs must
# co-occur in >= PMI_MIN_PAIRS docs.
PMI_DF_LO_PCT = 5
PMI_DF_HI_PCT = 80
PMI_MIN_PAIRS = 3
PMI_TOPK = 50


@register(
    "pmi_term_cooccurrence",
    oracle_sql=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(tokens) AS t
      FROM (SELECT doc_id, {_TOK} AS tokens FROM documents)
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    df AS (
      SELECT t, count(*) AS df FROM tok GROUP BY t
    ),
    mid AS (
      SELECT t, df FROM df, n
      WHERE df * 100 >= {PMI_DF_LO_PCT} * n_docs
        AND df * 100 <= {PMI_DF_HI_PCT} * n_docs
    ),
    kept AS (SELECT tok.doc_id, tok.t, mid.df FROM tok JOIN mid USING (t)),
    pairs AS (
      SELECT a.t AS term_a, b.t AS term_b,
             max(a.df) AS df_a, max(b.df) AS df_b,
             count(*) AS n_co
      FROM kept a JOIN kept b
        ON a.doc_id = b.doc_id AND a.t < b.t
      GROUP BY 1, 2
      HAVING count(*) >= {PMI_MIN_PAIRS}
    )
    SELECT term_a, term_b, df_a, df_b, n_co,
           CAST(n_co * (SELECT n_docs FROM n) * 1000000
                // (df_a * df_b) AS BIGINT) AS lift_ppm
    FROM pairs
    ORDER BY lift_ppm DESC, term_a, term_b
    LIMIT {PMI_TOPK}
    """,
    tags=("text", "cooccurrence", "pipeline"),
)
def pmi_term_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-association mining: top-{PMI_TOPK} co-occurring term pairs by
    PMI-style lift — P(a,b)/(P(a)P(b)) in integer parts-per-million
    (lift_ppm = n_co * N * 1e6 div (df_a * df_b); log is monotone, so
    ranking by lift IS ranking by PMI while staying integer-exact across
    engines).  This is the analysis behind phrase detection and topic
    vocabulary building over a pretraining corpus.

    Complements [[token_pmi_pairs]] (analytics.py), which scores
    ADJACENT-bigram collocations against unigram frequencies: this op
    measures whole-DOCUMENT co-occurrence — terms that appear in the
    same documents, regardless of position — the topic-affinity signal
    rather than the multiword-expression signal.

    Scale shape: per-doc term SETS (array_distinct — a narrow map, no
    posting-level distinct shuffle) feed a tiny df aggregate whose
    mid-frequency slice (df in [{PMI_DF_LO_PCT}%, {PMI_DF_HI_PCT}%] of
    docs — a relative window, so the contract survives any corpus size)
    broadcasts back; pairs are generated IN-ROW from each doc's sorted
    mid-term array (index-lambda transform — bounded fan-out, no
    self-join), so the only corpus-sized shuffle is the pair-count
    aggregate, which map-side combines down to the pair vocabulary.
    The final top-K is a TakeOrderedAndProject, never a materialized
    global sort.

    Why the one-row mid-vocabulary array is SAFE to broadcast at any
    corpus size: sum(df) over all terms = sum over docs of distinct
    terms per doc <= n_docs * L (L = mean distinct terms/doc), and every
    mid term has df >= {PMI_DF_LO_PCT}% * n_docs, so |mid| <=
    (100/{PMI_DF_LO_PCT}) * L = 20L — bounded by DOCUMENT length, not
    corpus size.  The df floor is what makes the single-row
    collect_list+broadcast legitimate; if the floor were absolute
    counts instead of relative, the fallback is posexplode(ts) joined
    against the broadcast mid df TABLE (per-doc filter first), then the
    same in-row pairing — one extra narrow join, same shuffle profile.
    """
    d = compute_scan(spark, sf_dir, "documents")
    sets = d.select(
        "doc_id", F.array_distinct(tokenize(F.col("text"))).alias("ts")
    )
    n_docs = d.agg(F.count("*").alias("n_docs"))
    # The VOCAB-sized df table is what gets cached (+ eagerly forced, so
    # the tokenize pass behind it runs once) — never the corpus-sized
    # per-doc term sets (the semdedup_cells cache-scoping rule: ~200
    # operators share one session in the oracle suite, so a corpus-sized
    # block that outlives the call leaks executor storage).  sets is
    # recomputed once more for pair generation: 2 narrow tokenize passes
    # total, zero corpus-sized residue.
    mid = (
        sets.select(F.explode("ts").alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(
            (F.col("df") * 100 >= PMI_DF_LO_PCT * F.col("n_docs"))
            & (F.col("df") * 100 <= PMI_DF_HI_PCT * F.col("n_docs"))
        )
        .select("t", "df")
        .cache()
    )
    mid.count()
    # per-doc sorted mid-term array, then all (a < b) pairs via an
    # index lambda — the per-row analog of the posting-list self-join
    mid_terms = mid.agg(F.array_sort(F.collect_list("t")).alias("mts"))
    doc_pairs = (
        sets.crossJoin(F.broadcast(mid_terms))
        .select(
            F.array_sort(
                F.array_intersect(F.col("ts"), F.col("mts"))
            ).alias("mt")
        )
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("mt"),
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("mt"), i + 2, F.greatest(F.size("mt"), F.lit(1))
                            ),
                            lambda y: F.struct(
                                x.alias("term_a"), y.alias("term_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.term_a", "p.term_b")
    )
    pairs = (
        doc_pairs.groupBy("term_a", "term_b")
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= PMI_MIN_PAIRS)
        .join(
            F.broadcast(mid.select(F.col("t").alias("term_a"), F.col("df").alias("df_a"))),
            "term_a",
        )
        .join(
            F.broadcast(mid.select(F.col("t").alias("term_b"), F.col("df").alias("df_b"))),
            "term_b",
        )
    )
    return (
        pairs.crossJoin(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            "df_a",
            "df_b",
            "n_co",
            F.expr("n_co * n_docs * 1000000L div (df_a * df_b)").alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "term_a", "term_b")
        .limit(PMI_TOPK)
    )


# Gopher-rule thresholds (Rae et al. 2021, "Scaling Language Models:
# ... Gopher", Table A1 — the published repetition/quality filter
# suite).  Word-count band lowered to the fixture's doc lengths; the
# RULE STRUCTURE is what's under test, thresholds are config.
GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL = 2.0
GOPHER_MAX_MWL = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8
_GOPHER_STOPS = ("the", "a", "and", "of", "to", "is", "in", "it")


@register(
    "gopher_quality_rules",
    oracle_sql=f"""
    WITH feat AS (
      SELECT doc_id,
             CAST(len(tokens) AS BIGINT) AS n_words,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(tokens, t -> CAST(length(t) AS BIGINT))),
                    (a, b) -> a + b) AS BIGINT) AS sum_wlen,
             CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
               + CAST((length(text) - length(replace(text, '...', ''))) // 3
                      AS BIGINT) AS n_symbols,
             CAST(len(list_filter(tokens, t -> regexp_matches(t, '[a-z]')))
                  AS BIGINT) AS n_alpha_words,
             CAST(len(list_intersect(tokens,
                    {list(_GOPHER_STOPS)})) AS BIGINT) AS n_stopkinds
      FROM (SELECT doc_id, text, {{tok}} AS tokens FROM documents)
    ),
    rules AS (
      SELECT doc_id, n_words,
             CAST(sum_wlen AS DOUBLE) / greatest(n_words, 1) AS mean_word_len,
             CAST(n_symbols AS DOUBLE) / greatest(n_words, 1) AS symbol_ratio,
             CAST(n_alpha_words AS DOUBLE) / greatest(n_words, 1) AS alpha_frac,
             n_stopkinds
      FROM feat
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
           CAST(CASE WHEN n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                THEN 1 ELSE 0 END AS BIGINT) AS pass_word_count,
           CAST(CASE WHEN mean_word_len >= {GOPHER_MIN_MWL}
                      AND mean_word_len <= {GOPHER_MAX_MWL}
                THEN 1 ELSE 0 END AS BIGINT) AS pass_mean_word_len,
           CAST(CASE WHEN symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
                THEN 1 ELSE 0 END AS BIGINT) AS pass_symbol_ratio,
           CAST(CASE WHEN alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
                THEN 1 ELSE 0 END AS BIGINT) AS pass_alpha_frac,
           CAST(CASE WHEN n_stopkinds >= 2 THEN 1 ELSE 0 END AS BIGINT)
             AS pass_stopwords,
           CAST(CASE WHEN n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                      AND mean_word_len >= {GOPHER_MIN_MWL}
                      AND mean_word_len <= {GOPHER_MAX_MWL}
                      AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
                      AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
                      AND n_stopkinds >= 2
                THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM rules
    """.replace("{tok}", _TOK),
    tags=("text", "quality", "gopher", "pipeline"),
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher quality-filter rule suite as per-rule pass
    flags + the conjunction: word-count band, mean word length band,
    symbol-to-word ratio (# and ellipsis), alphabetic-word fraction,
    stopword presence.  Complements [[text_quality_score]] (a blended
    score for ranking) with the AUDITABLE form real pipelines ship —
    per-rule booleans so a filter change can be attributed to the rule
    that fired.

    All features are narrow per-row maps over one tokenize pass (token
    length sum via an integer array fold, symbol counts via
    length-after-replace — everything whole-stage-codegen'd, no UDFs,
    no shuffle at all: the plan is scan -> project).  Ratios divide
    once per row, so doubles agree exactly across engines.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    feat = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        ).alias("sum_wlen"),
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"))))
            + (
                (F.length("text") - F.length(F.replace(F.col("text"), F.lit("..."))))
                / F.lit(3)
            ).cast("long")
        ).cast("long").alias("n_symbols"),
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("long").alias(
            "n_alpha_words"
        ),
        F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in _GOPHER_STOPS]))
        ).cast("long").alias("n_stopkinds"),
    )
    g1 = F.greatest(F.col("n_words"), F.lit(1))
    mwl = F.col("sum_wlen").cast("double") / g1
    sym = F.col("n_symbols").cast("double") / g1
    alp = F.col("n_alpha_words").cast("double") / g1
    p_wc = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    p_mwl = (mwl >= GOPHER_MIN_MWL) & (mwl <= GOPHER_MAX_MWL)
    p_sym = sym <= GOPHER_MAX_SYMBOL_RATIO
    p_alp = alp >= GOPHER_MIN_ALPHA_FRAC
    p_stop = F.col("n_stopkinds") >= 2
    as_flag = lambda c, n: F.when(c, 1).otherwise(0).cast("long").alias(n)
    return feat.select(
        "doc_id",
        "n_words",
        mwl.alias("mean_word_len"),
        sym.alias("symbol_ratio"),
        alp.alias("alpha_frac"),
        as_flag(p_wc, "pass_word_count"),
        as_flag(p_mwl, "pass_mean_word_len"),
        as_flag(p_sym, "pass_symbol_ratio"),
        as_flag(p_alp, "pass_alpha_frac"),
        as_flag(p_stop, "pass_stopwords"),
        as_flag(p_wc & p_mwl & p_sym & p_alp & p_stop, "keep"),
    )


# Skip-gram co-occurrence: the word2vec/GloVe training-pair extraction.
SKIPGRAM_WINDOW = 3   # forward context window (tokens after the center)
SKIPGRAM_MIN_COUNT = 3
SKIPGRAM_TOPK = 50


@register(
    "skipgram_cooccurrence",
    oracle_sql=f"""
    WITH toks AS (SELECT {_TOK} AS ts FROM documents),
    idx AS (
      SELECT ts, unnest(generate_series(1, len(ts))) AS i FROM toks
    ),
    pairs AS (
      SELECT ts[i] AS center,
             unnest(list_slice(ts, i + 1, least(i + {SKIPGRAM_WINDOW}, len(ts))))
               AS context
      FROM idx
    )
    SELECT center, context, CAST(count(*) AS BIGINT) AS n_co
    FROM pairs
    GROUP BY center, context
    HAVING count(*) >= {SKIPGRAM_MIN_COUNT}
    ORDER BY n_co DESC, center, context
    LIMIT {SKIPGRAM_TOPK}
    """,
    tags=("text", "skipgram", "cooccurrence", "pipeline"),
)
def skipgram_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counts — the (center, context) training
    pairs word2vec/GloVe consume, with a forward window of
    {SKIPGRAM_WINDOW} tokens (each unordered co-occurrence is counted
    once, at its left member).

    Pairs are generated IN-ROW from the token array — an index lambda
    over ``transform`` pairs token i with ``slice(ts, i+2,
    {SKIPGRAM_WINDOW})`` — the [[pmi_term_cooccurrence]] pattern: the
    fan-out is bounded by {SKIPGRAM_WINDOW} per TOKEN (vs PMI's
    per-doc mid-term pairs), so the exploded pair stream is a constant
    factor of the corpus token count and the ONLY shuffle is the
    (center, context) count aggregate, which map-side combines down to
    the pair vocabulary.  The final top-{SKIPGRAM_TOPK} is a
    TakeOrderedAndProject with a total-order tie-break, never a
    materialized global sort.  At 100 TB this is the canonical
    "embedding training data prep" job: one pass, one
    vocabulary-bounded shuffle.

    The token array is MATERIALIZED in its own projection before the
    pair lambda: referencing the raw ``tokenize(text)`` expression
    inside the per-token lambda (as ``slice``'s input) re-runs the
    regex tokenizer per outer token instead of once per document —
    the cause of the steep 32x scale-probe ratio (docs/SCALING.md);
    a column reference makes the inner slice a cheap array read.
    """
    d = compute_scan(spark, sf_dir, "documents")
    toks = d.select(tokenize(F.col("text")).alias("ts"))
    ts = F.col("ts")
    pairs = (
        toks.select(
            F.explode(
                F.flatten(
                    F.transform(
                        ts,
                        lambda x, i: F.transform(
                            F.slice(ts, i + 2, SKIPGRAM_WINDOW),
                            lambda y: F.struct(
                                x.alias("center"), y.alias("context")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.center", "p.context")
    )
    return (
        pairs.groupBy("center", "context")
        .agg(F.count("*").cast("long").alias("n_co"))
        .filter(F.col("n_co") >= SKIPGRAM_MIN_COUNT)
        .orderBy(F.desc("n_co"), "center", "context")
        .limit(SKIPGRAM_TOPK)
    )


# Character-distribution entropy in fixed-point MILLI-bits: coarse
# enough (1e3) that a few-ulp libm log2 disagreement between engines
# would have to land within ~1e-11 of a floor boundary to flip a value.
ENTROPY_SCALE = 1000


@register(
    "char_entropy_quality",
    oracle_sql=f"""
    WITH chars AS (
      SELECT doc_id, substr(text, i, 1) AS ch
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, length(text))) AS i
            FROM documents)
    ),
    counts AS (
      SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_chars_counted,
           CAST(count(*) AS BIGINT) AS distinct_chars,
           CAST(CAST(floor(log2(sum(c)) * {ENTROPY_SCALE}) AS BIGINT)
                - (sum(c * CAST(floor(log2(c) * {ENTROPY_SCALE}) AS BIGINT))
                   // sum(c)) AS BIGINT) AS entropy_milli
    FROM counts
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("text", "quality", "entropy"),
)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the
    classic gibberish/boilerplate detector (natural text sits ~3.5-4.5
    bits/char; base64 blobs and repeated padding fall far outside the
    band) — in FIXED-POINT milli-bits so the result is bit-identical
    across engines:

        H_milli = floor(log2(n)*1e3) - (sum(c * floor(log2(c)*1e3)) div n)

    The identity H = log2(n) - (sum c*log2 c)/n is quantized per
    DISTINCT-char term BEFORE summation: the summands are int64, so
    the distributed sum is order-free (a raw double sum would make the
    result depend on partition order), and the one division is integer
    (non-negative operands, so DuckDB ``//`` == Spark ``div``).  The
    only float step is one log2 per distinct (char, count) pair,
    floored at milli-bit resolution — a cross-libm mismatch would need
    log2's few-ulp disagreement to land within ~1e-11 of a boundary.

    Scale shape: explode-to-chars is a narrow flatMap (fan-out = text
    length, the same linearity as tokenization); the (doc, char) count
    aggregate map-side combines to at most ~100 distinct chars per doc
    before shuffling, and the per-doc rollup is metadata-sized.  One
    pass over the text bytes, one doc-keyed shuffle.
    """
    d = compute_scan(spark, sf_dir, "documents")
    counts = (
        d.select(
            "doc_id", F.explode(F.split(F.col("text"), "(?!^)")).alias("ch")
        )
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("c"))
    )
    term = F.col("c") * F.floor(F.log2("c") * ENTROPY_SCALE).cast("long")
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_chars_counted"),
            F.count("*").cast("long").alias("distinct_chars"),
            (
                F.floor(F.log2(F.sum("c")) * ENTROPY_SCALE).cast("long")
                - F.expr(
                    f"sum(c * cast(floor(log2(c) * {ENTROPY_SCALE}) as bigint))"
                    " div sum(c)"
                )
            ).cast("long").alias("entropy_milli"),
        )
        .orderBy("doc_id")
    )


@register(
    "lexical_diversity_ttr",
    oracle_sql=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS ts FROM documents)
    SELECT doc_id,
           CAST(len(ts) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(ts)) AS BIGINT) AS n_types,
           CAST(len(list_filter(ts,
                  t -> len(list_filter(ts, u -> u = t)) = 1)) AS BIGINT)
             AS n_hapax,
           CAST(CASE WHEN len(ts) > 0
                     THEN (len(list_distinct(ts)) * 10000) // len(ts)
                     ELSE 0 END AS BIGINT) AS ttr_bp
    FROM toks
    ORDER BY doc_id
    """,
    tags=("text", "quality", "diversity"),
)
def lexical_diversity_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio and hapax-legomenon count per document — the
    lexical-diversity quality signals (template/spam text has few
    types per token; natural prose has many singletons).  All-integer:
    ``ttr_bp = n_types * 10000 div n_tokens`` (basis points; operands
    non-negative so ``div`` == ``//``).

    Everything is IN-ROW over the token array — ``array_distinct``
    for types and a nested filter lambda for hapaxes (O(L^2) in
    DOCUMENT length, which the tokenizer already caps — never in
    corpus size) — so the operator is a pure codegen'd map with ZERO
    shuffle: it pipelines into any downstream filter the way
    [[gopher_quality_rules]] does.  The ORDER BY is presentation-only.
    """
    d = compute_scan(spark, sf_dir, "documents")
    ts = tokenize(F.col("text"))
    toks = d.select("doc_id", ts.alias("ts"))
    n_tok = F.size("ts")
    n_typ = F.size(F.array_distinct("ts"))
    hapax = F.size(
        F.filter(
            F.col("ts"),
            lambda t: F.size(F.filter(F.col("ts"), lambda u: u == t)) == 1,
        )
    )
    return toks.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        n_typ.cast("long").alias("n_types"),
        hapax.cast("long").alias("n_hapax"),
        F.when(n_tok > 0, F.expr("CAST(size(array_distinct(ts)) AS BIGINT) * 10000 div size(ts)"))
        .otherwise(0)
        .cast("long")
        .alias("ttr_bp"),
    ).orderBy("doc_id")


# Vocabulary-coverage curve: what share of token OCCURRENCES the top-K
# token TYPES cover — the tokenizer/vocab-size design metric (BPE vocab
# sizing, OOV-rate estimation).  K values sized to the fixture's ~31-type
# vocabulary; the contract is the curve shape, not the absolute Ks.
VOCAB_COVERAGE_KS = (5, 15, 30)
VOCAB_MAX_TYPES = 1000  # constant bound on the ranked head table


@register(
    "vocab_coverage_topk",
    oracle_sql=f"""
    WITH freq AS (
      SELECT t, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest({_TOK}) AS t FROM documents)
      GROUP BY t
    ),
    total AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM freq),
    head AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, t ASC) AS rnk
      FROM freq ORDER BY c DESC, t ASC LIMIT {VOCAB_MAX_TYPES}
    ),
    expanded AS (
      SELECT k, c FROM head,
           (SELECT unnest([{", ".join(str(k) for k in VOCAB_COVERAGE_KS)}]) AS k)
      WHERE rnk <= k
    )
    SELECT e.k, CAST(sum(e.c) AS BIGINT) AS covered_tokens,
           any_value(t.n) AS total_tokens,
           CAST((sum(e.c) * 10000) // any_value(t.n) AS BIGINT) AS coverage_bp
    FROM expanded e CROSS JOIN total t
    GROUP BY e.k
    ORDER BY e.k
    """,
    tags=("text", "vocab", "coverage", "pipeline"),
)
def vocab_coverage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K vocabulary coverage — for each K in {VOCAB_COVERAGE_KS},
    the share of all token occurrences covered by the K most frequent
    token types (ranked by a TOTAL order: count desc, token asc).  The
    standard tokenizer-design curve: where it flattens is where a
    bigger vocabulary stops paying.

    Scale shape: the corpus-sized work is ONE vocabulary aggregate
    (map-side combined); the ranked head is then bounded by the
    CONSTANT {VOCAB_MAX_TYPES} via TakeOrderedAndProject — the window
    that assigns ranks runs over at most {VOCAB_MAX_TYPES} rows by
    construction, never the full vocabulary, so there is no
    unbounded single-partition sort (the [[feature_quantile_bins]]
    lesson).  K-expansion is an IN-ROW array explode (no join), and
    the grand total arrives as a 1-row broadcast (the
    [[bm25_topk_docs]] scalar pattern — single-row nested-loop side
    by construction).
    """
    d = compute_scan(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(tokenize(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("c"))
    )
    total = freq.agg(F.sum("c").cast("long").alias("n"))
    head = freq.orderBy(F.desc("c"), F.asc("t")).limit(VOCAB_MAX_TYPES)
    from pyspark.sql.window import Window

    ranked = head.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("t")))
    )
    ks = F.array(*[F.lit(k) for k in VOCAB_COVERAGE_KS])
    expanded = (
        ranked.select("c", "rnk", F.explode(ks).alias("k"))
        .filter(F.col("rnk") <= F.col("k"))
    )
    return (
        expanded.crossJoin(F.broadcast(total))
        .groupBy("k")
        .agg(
            F.sum("c").cast("long").alias("covered_tokens"),
            F.any_value("n").alias("total_tokens"),
            F.expr("sum(c) * 10000 div any_value(n)")
            .cast("long")
            .alias("coverage_bp"),
        )
        .orderBy("k")
    )


# Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical ranking
# and a vector-cosine semantic ranking (query = document {HYBRID_QUERY_VEC}'s
# embedding; doc_id and vec_id are the same id space by fixture design).
HYBRID_QUERY_VEC = 0
HYBRID_LIST_K = 20   # depth of each retrieved list entering the fusion
HYBRID_TOPK = 10
RRF_K = 60           # the published RRF damping constant
RRF_SCALE = 1_000_000


def _hybrid_oracle() -> str:
    from mapreduce_c_implementation_spark.operators.similarity import _SQL_NORMS

    return f"""
    WITH {_SQL_BM25_CTES},
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY sum(s) DESC, doc_id ASC) AS lrank
      FROM scored GROUP BY doc_id
      ORDER BY sum(s) DESC, doc_id ASC LIMIT {HYBRID_LIST_K}
    ),
    {_SQL_NORMS},
    qv AS (SELECT embedding AS qe, nrm AS qn FROM norms
           WHERE vec_id = {HYBRID_QUERY_VEC}),
    sem_scored AS (
      SELECT c.vec_id AS doc_id,
             round({SQL_DOT.format(a="qv.qe", b="c.embedding")}
                   / (qv.qn * c.nrm), 6) AS cos
      FROM norms c CROSS JOIN qv
      WHERE c.vec_id <> {HYBRID_QUERY_VEC}
    ),
    sem AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS srank
      FROM (SELECT * FROM sem_scored ORDER BY cos DESC, doc_id ASC
            LIMIT {HYBRID_LIST_K})
    ),
    fused AS (
      SELECT coalesce(l.doc_id, m.doc_id) AS doc_id,
             CAST(coalesce(l.lrank, -1) AS BIGINT) AS lex_rank,
             CAST(coalesce(m.srank, -1) AS BIGINT) AS sem_rank,
             CAST(CASE WHEN l.lrank IS NULL THEN 0
                       ELSE {RRF_SCALE} // ({RRF_K} + l.lrank) END
                + CASE WHEN m.srank IS NULL THEN 0
                       ELSE {RRF_SCALE} // ({RRF_K} + m.srank) END
                AS BIGINT) AS rrf_fp
      FROM lex l FULL OUTER JOIN sem m ON m.doc_id = l.doc_id
    )
    SELECT doc_id, lex_rank, sem_rank, rrf_fp,
           CAST(rank AS BIGINT) AS fused_rank
    FROM (SELECT *, row_number() OVER (ORDER BY rrf_fp DESC, doc_id ASC)
                      AS rank FROM fused)
    WHERE rank <= {HYBRID_TOPK}
    ORDER BY fused_rank
    """


@register(
    "hybrid_search_rrf",
    oracle_sql=_hybrid_oracle(),
    tags=("text", "retrieval", "hybrid", "pipeline"),
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion — the production
    default for "BM25 + vector" search stacks (Cormack et al.'s RRF,
    the formula Elasticsearch/OpenSearch ship): each retrieved list
    contributes ``{RRF_SCALE} div ({RRF_K} + rank)`` fixed-point
    points, absent docs contribute 0, and candidates re-rank by the
    sum.  The lexical list is [[bm25_topk_docs]]'s ranking (the oracle
    inlines the SAME BM25 CTE text); the semantic list is cosine
    against document {HYBRID_QUERY_VEC}'s embedding (doc_id == vec_id
    by fixture design — the id join every hybrid index maintains).

    Exactness: ranks are integers, RRF contributions are trunc
    divisions of a fixed-point constant — no float fold anywhere in
    the fusion — and every ordering carries a doc_id tie-break.

    Scale shape: each side ends in orderBy+limit over a CONSTANT list
    depth ({HYBRID_LIST_K}) — TakeOrderedAndProject, then rank
    assignment runs on the K-row result (the [[vocab_coverage_topk]]
    bounded-head pattern, NOT the brute-force per-query window) — so
    the fusion join is K x K however large the corpus; the semantic
    side's 1-row query-vector broadcast is the [[bm25_topk_docs]]
    scalar pattern.  At 100 TB the semantic list comes from the ANN
    index ([[ann_ivf_pq]]) instead of the exact scan; the fusion
    contract is unchanged.
    """
    from pyspark.sql.window import Window

    from mapreduce_c_implementation_spark.operators.similarity import _norms

    lex_base = bm25_topk_docs(spark, sf_dir).filter(
        F.col("rank") <= HYBRID_LIST_K
    )
    lex = lex_base.select("doc_id", F.col("rank").alias("lrank"))

    norms = _norms(spark, sf_dir)
    qv = norms.filter(F.col("vec_id") == HYBRID_QUERY_VEC).select(
        F.col("embedding").alias("qe"), F.col("nrm").alias("qn")
    )
    sem_scored = (
        norms.filter(F.col("vec_id") != HYBRID_QUERY_VEC)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                spark_dot(F.col("qe"), F.col("embedding"))
                / (F.col("qn") * F.col("nrm")),
                6,
            ).alias("cos"),
        )
    )
    sem_head = sem_scored.orderBy(F.desc("cos"), F.asc("doc_id")).limit(
        HYBRID_LIST_K
    )
    sem = sem_head.select(
        F.col("doc_id").alias("s_doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cos"), F.asc("doc_id")))
        .alias("srank"),
    )
    fused = (
        lex.join(sem, lex.doc_id == sem.s_doc_id, "full_outer")
        .select(
            F.coalesce("doc_id", "s_doc_id").alias("doc_id"),
            F.coalesce("lrank", F.lit(-1)).cast("long").alias("lex_rank"),
            F.coalesce("srank", F.lit(-1)).cast("long").alias("sem_rank"),
            (
                F.when(
                    F.col("lrank").isNotNull(),
                    F.expr(f"{RRF_SCALE} div ({RRF_K} + lrank)"),
                ).otherwise(0)
                + F.when(
                    F.col("srank").isNotNull(),
                    F.expr(f"{RRF_SCALE} div ({RRF_K} + srank)"),
                ).otherwise(0)
            ).cast("long").alias("rrf_fp"),
        )
    )
    w = Window.orderBy(F.desc("rrf_fp"), F.asc("doc_id"))
    return (
        fused.select(
            "*", F.row_number().over(w).cast("long").alias("fused_rank")
        )
        .filter(F.col("fused_rank") <= HYBRID_TOPK)
        .orderBy("fused_rank")
    )


# Zipf diagnostic: top terms by frequency with rank x freq product
# (Zipf's law predicts the product is roughly constant; a flat or
# exploding product curve flags synthetic / templated text).
ZIPF_TOPK = 50


@register(
    "zipf_rank_frequency",
    oracle_sql=f"""
    WITH tf AS (
      SELECT t, count(*) AS n
      FROM (SELECT unnest({_TOK}) AS t FROM documents)
      GROUP BY t
    ),
    ranked AS (
      SELECT t, n, row_number() OVER (ORDER BY n DESC, t) AS rank
      FROM tf
    )
    SELECT CAST(rank AS BIGINT) AS rank, t AS term, CAST(n AS BIGINT) AS n,
           CAST(rank * n AS BIGINT) AS rank_x_freq
    FROM ranked WHERE rank <= {ZIPF_TOPK}
    ORDER BY rank
    """,
    tags=("text", "zipf", "diagnostics"),
)
def zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency diagnostic: the top-{ZIPF_TOPK} corpus terms
    with their frequency rank and the rank x frequency product.
    Natural language keeps the product near-constant (Zipf's law);
    templated or synthetic corpora show a flat head or a cliff —
    the quickest "does this crawl slice look like language" check.

    Exactness: ranks come from row_number over (freq DESC, term ASC) —
    a pinned total order — and the diagnostic column is an integer
    product, so no float fit (the usual log-log regression) is needed
    for the oracle to hash-match.

    Scale shape: term-frequency aggregate (map-side combined, vocab-
    sized output), then the top-{ZIPF_TOPK} via a rank window over the
    VOCAB table only.  On the full corpus this is word_count plus a
    vocabulary-sized sort — scan-bound at any corpus size.
    """
    d = compute_scan(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(tokenize(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("n"))
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("n"), F.asc("t"))
    return (
        tf.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= ZIPF_TOPK)
        .select(
            "rank",
            F.col("t").alias("term"),
            F.col("n").cast("long").alias("n"),
            (F.col("rank") * F.col("n")).cast("long").alias("rank_x_freq"),
        )
        .orderBy("rank")
    )


# Heaps'-law growth curve: corpus is consumed in doc_id buckets of
# HEAPS_BUCKET docs; the curve reports cumulative distinct vocabulary
# after each bucket.
HEAPS_BUCKET = 50


@register(
    "heaps_vocab_growth",
    oracle_sql=f"""
    WITH toks AS (
      SELECT doc_id // {HEAPS_BUCKET} AS bucket, unnest({_TOK}) AS t
      FROM documents
    ),
    first_seen AS (
      SELECT t, min(bucket) AS first_bucket FROM toks GROUP BY t
    ),
    per_bucket AS (
      SELECT first_bucket AS bucket, count(*) AS new_terms
      FROM first_seen GROUP BY first_bucket
    ),
    spine AS (
      SELECT DISTINCT doc_id // {HEAPS_BUCKET} AS bucket FROM documents
    )
    SELECT CAST(s.bucket AS BIGINT) AS bucket,
           CAST(coalesce(p.new_terms, 0) AS BIGINT) AS new_terms,
           CAST(sum(coalesce(p.new_terms, 0))
                OVER (ORDER BY s.bucket) AS BIGINT) AS vocab_size
    FROM spine s LEFT JOIN per_bucket p ON p.bucket = s.bucket
    ORDER BY bucket
    """,
    tags=("text", "heaps", "diagnostics"),
)
def heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: cumulative distinct
    vocabulary after each {HEAPS_BUCKET}-document slice of the corpus
    (in doc_id order).  Curators read the curve's bend to decide
    whether more crawl adds vocabulary or just repeats it — the
    corpus-level twin of [[vocab_coverage_topk]].

    The naive formulation (count distinct terms in every prefix) is
    quadratic in buckets; the linear form used here attributes each
    term to the FIRST bucket that saw it (one min-aggregate over the
    vocab), so the cumulative sum over bucket-sized rows reconstructs
    every prefix's distinct count exactly — the standard
    "first-occurrence attribution" trick for cumulative-distinct at
    scale.

    Scale shape: token explode -> (term, min bucket) aggregate (map-
    side combined, vocab-sized), then a window over #buckets rows.
    The left join against the bucket spine keeps empty buckets (all
    docs in a slice token-free) at new_terms = 0 so the curve has one
    row per slice unconditionally.
    """
    d = compute_scan(spark, sf_dir, "documents")
    toks = d.select(
        F.expr(f"doc_id div {HEAPS_BUCKET}").alias("bucket"),
        F.explode(tokenize(F.col("text"))).alias("t"),
    )
    first_seen = toks.groupBy("t").agg(F.min("bucket").alias("first_bucket"))
    per_bucket = first_seen.groupBy(
        F.col("first_bucket").alias("bucket")
    ).agg(F.count("*").alias("new_terms"))
    spine = d.select(
        F.expr(f"doc_id div {HEAPS_BUCKET}").alias("bucket")
    ).distinct()
    from pyspark.sql.window import Window

    w = Window.orderBy("bucket")
    return (
        spine.join(per_bucket, "bucket", "left")
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.coalesce(F.col("new_terms"), F.lit(0)).cast("long").alias("new_terms"),
        )
        .withColumn("vocab_size", F.sum("new_terms").over(w).cast("long"))
        .orderBy("bucket")
    )


# Novelty curve: shingles are attributed to the first doc (by doc_id)
# that contains them; a document's novelty is the share of its
# distinct shingles it introduced to the corpus.
NOVELTY_SHINGLE_K = 5


@register(
    "shingle_novelty_curve",
    oracle_sql=f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct({duckdb_ngrams('ts', NOVELTY_SHINGLE_K)})) AS s
      FROM (SELECT doc_id, {_TOK} AS ts FROM documents)
      WHERE len(ts) >= {NOVELTY_SHINGLE_K}
    ),
    firsts AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s),
    per_doc AS (
      SELECT sh.doc_id,
             count(*) AS n_shingles,
             sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
               AS n_novel
      FROM sh JOIN firsts f ON f.s = sh.s
      GROUP BY sh.doc_id
    )
    SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_novel AS BIGINT) AS n_novel,
           CAST(n_novel * 10000 // n_shingles AS BIGINT) AS novelty_bp
    FROM per_doc
    ORDER BY doc_id
    """,
    tags=("text", "novelty", "dedup", "pipeline"),
)
def shingle_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NOVELTY: the share of a document's distinct
    {NOVELTY_SHINGLE_K}-shingles that it INTRODUCED to the corpus
    (first occurrence in doc_id order, in basis points) — low-novelty
    documents are paraphrases/boilerplate even when no single pair
    crosses a dedup threshold, so pipelines use this as a soft dedup
    score where pairwise ops ([[set_similarity_prefix_join]]) give a
    hard verdict.

    Linear by the first-occurrence attribution trick
    ([[heaps_vocab_growth]]'s keyed twin): one min-aggregate assigns
    each shingle its first document, one equi-join back marks novel
    vs seen, one per-doc rollup.  No pairwise comparison anywhere —
    the novelty of N documents costs the same as word_count.
    """
    d = compute_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("ts")).filter(
        F.size("ts") >= NOVELTY_SHINGLE_K
    )
    sh = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(ngrams(F.col("ts"), NOVELTY_SHINGLE_K))
        ).alias("s"),
    )
    firsts = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(firsts, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_novel").cast("long").alias("n_novel"),
        F.expr("CAST(n_novel * 10000L div n_shingles AS BIGINT)").alias(
            "novelty_bp"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Bigram LM scoring + token/label mutual information
# ---------------------------------------------------------------------------


@register(
    "ngram_lm_perplexity",
    oracle_sql=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS ts FROM documents),
    big AS (
      SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
      FROM (SELECT doc_id, ts,
                   unnest(generate_series(1, len(ts) - 1)) AS i
            FROM toks)
    ),
    c12 AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY w1, w2),
    c1 AS (SELECT w1, sum(c) AS h FROM c12 GROUP BY w1),
    v AS (SELECT count(DISTINCT t) AS vs
          FROM (SELECT unnest(ts) AS t FROM toks)),
    lp AS (
      SELECT c12.w1, c12.w2,
             CAST(round(ln(CAST(c12.c + 1 AS DOUBLE) / (c1.h + v.vs))
                        * 1000000) AS BIGINT) AS lp_micro
      FROM c12 JOIN c1 ON c1.w1 = c12.w1 CROSS JOIN v
    )
    SELECT big.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(-sum(lp.lp_micro) AS BIGINT) AS neg_logprob_micro,
           CAST(-sum(lp.lp_micro) // count(*) AS BIGINT)
             AS avg_neg_logprob_micro
    FROM big JOIN lp ON lp.w1 = big.w1 AND lp.w2 = big.w2
    GROUP BY big.doc_id
    """,
    tags=("text", "lm", "scoring", "pipeline"),
)
def ngram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model score per document, add-one smoothed —
    the CCNet-style "train a small LM on the corpus, rank documents by
    perplexity" quality signal, one rung up from
    [[unigram_logprob_score]].

    Model: logp(w2|w1) = ln((c(w1,w2)+1) / (h(w1)+V)) with history
    counts h derived from the bigram table and V the corpus vocabulary
    size.  Exactness: each bigram's log-prob is frozen to integer
    MICRO-nats once (round-to-nearest of a transcendental — the
    [[unigram_logprob_score]] discipline), so per-doc sums are exact
    integer adds in any order; the per-doc average is floor division
    of the (positive) negated sum.

    Scale shape: pairs generate IN-ROW from the materialized token
    array ([[skipgram_cooccurrence]]'s rule); the bigram-count table is
    pair-vocabulary-sized and SHUFFLE-joins back to the bigram stream
    (never broadcast an unbounded vocabulary); V and nothing else rides
    a broadcast 1-row.  Two vocabulary-bounded exchanges + one doc-key
    aggregate at any corpus size.
    """
    d = compute_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("ts"))
    ts = F.col("ts")
    big = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.slice(ts, 1, F.greatest(F.size(ts) - 1, F.lit(0))),
                lambda x, i: F.struct(
                    x.alias("w1"), F.element_at(ts, i + 2).alias("w2")
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    c12 = big.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    c1 = c12.groupBy("w1").agg(F.sum("c").alias("h"))
    v = toks.select(F.explode(ts).alias("t")).agg(
        F.countDistinct("t").alias("vs")
    )
    lp = (
        c12.join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "w1",
            "w2",
            F.expr(
                "CAST(round(ln(CAST(c + 1 AS DOUBLE) / (h + vs))"
                " * 1000000) AS BIGINT)"
            ).alias("lp_micro"),
        )
    )
    return (
        big.join(lp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            (-F.sum("lp_micro")).cast("long").alias("neg_logprob_micro"),
            F.expr("CAST(-sum(lp_micro) div count(*) AS BIGINT)").alias(
                "avg_neg_logprob_micro"
            ),
        )
    )


MI_TOPK = 50


@register(
    "token_label_mutual_information",
    oracle_sql=f"""
    WITH tok AS (
      SELECT lang, unnest({_TOK}) AS t FROM documents
    ),
    cells AS (SELECT t, lang, count(*) AS c_tl FROM tok GROUP BY t, lang),
    ct AS (SELECT t, sum(c_tl) AS c_t FROM cells GROUP BY t),
    cl AS (SELECT lang, sum(c_tl) AS c_l FROM cells GROUP BY lang),
    n AS (SELECT sum(c_tl) AS total FROM cells)
    SELECT cells.t,
           CAST(max(ct.c_t) AS BIGINT) AS c_t,
           CAST(sum(cells.c_tl
                    * CAST(round(ln((CAST(cells.c_tl AS DOUBLE) * n.total)
                                    / (CAST(ct.c_t AS DOUBLE) * cl.c_l))
                                 * 1000000) AS BIGINT)) AS BIGINT)
             AS mi_num_micro
    FROM cells
    JOIN ct ON ct.t = cells.t
    JOIN cl ON cl.lang = cells.lang
    CROSS JOIN n
    GROUP BY cells.t
    ORDER BY mi_num_micro DESC, cells.t
    LIMIT {MI_TOPK}
    """,
    tags=("text", "feature-selection", "mi", "pipeline"),
)
def token_label_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token->label mutual information (label = document language): for
    each token, c_t * KL(P(lang|token) || P(lang)) over occurrence
    counts — the classic feature-selection score for training quality/
    domain classifiers ("which tokens carry label signal?").  Top
    {MI_TOPK} by MI with a total-order tie-break.

    Exactness: each cell's log-ratio is frozen to integer micro-nats,
    weighted by the integer cell count, and summed — exact integer
    arithmetic after one transcendental per CELL (token x label, a
    bounded domain).  The KL form guarantees non-negative totals.

    Scale shape: corpus collapses to (token, label) cell grain in one
    map-side-combined aggregate; margins are cell-grain re-aggregates;
    the label margin broadcasts (labels are few) while the token
    margin SHUFFLE-joins (vocabulary-sized).  Final top-k is a
    TakeOrderedAndProject, never a global sort.
    """
    d = compute_scan(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(tokenize(F.col("text"))).alias("t"))
    cells = tok.groupBy("t", "lang").agg(F.count("*").alias("c_tl"))
    ct = cells.groupBy("t").agg(F.sum("c_tl").alias("c_t"))
    cl = cells.groupBy("lang").agg(F.sum("c_tl").alias("c_l"))
    n = cells.agg(F.sum("c_tl").alias("total"))
    return (
        cells.join(ct, "t")
        .join(F.broadcast(cl), "lang")
        .crossJoin(F.broadcast(n))
        .groupBy("t")
        .agg(
            F.max("c_t").cast("long").alias("c_t"),
            F.sum(
                F.col("c_tl")
                * F.expr(
                    "CAST(round(ln((CAST(c_tl AS DOUBLE) * total)"
                    " / (CAST(c_t AS DOUBLE) * c_l)) * 1000000) AS BIGINT)"
                )
            )
            .cast("long")
            .alias("mi_num_micro"),
        )
        .orderBy(F.desc("mi_num_micro"), "t")
        .limit(MI_TOPK)
    )


# BPE merge learning: the first BPE_STEPS merges of byte-pair-encoding
# tokenizer training (Sennrich et al. 2016, public algorithm), on the
# classic space-separated-symbol representation: a word is ' h e l l o '
# and merging pair "l l" is the literal string replace ' l l ' -> ' ll '
# (left-to-right non-overlapping — identical scan semantics in Spark and
# DuckDB string replace).
BPE_STEPS = 4


def _bpe_cte_parts() -> list[str]:
    """Shared oracle CTE chain: word counts -> padded char seqs -> per-
    step (pair counts, best pair, rewritten seqs).  [[bpe_merge_steps]]
    reads the b{k} tables; [[tokenizer_apply_bpe]] reads the final
    s{BPE_STEPS}."""
    parts = [
        f"""w0 AS (
      SELECT t AS w, count(*) AS c
      FROM (SELECT unnest({_TOK}) AS t FROM documents) GROUP BY t
    )""",
        """s0 AS (
      SELECT ' ' || array_to_string(regexp_extract_all(w, '.'), ' ') || ' '
               AS seq, c
      FROM w0
    )""",
    ]
    for k in range(1, BPE_STEPS + 1):
        parts.append(f"""p{k} AS (
      SELECT sym[i] || ' ' || sym[i + 1] AS pair, sum(c) AS cnt
      FROM (SELECT sym, c, unnest(generate_series(1, len(sym) - 1)) AS i
            FROM (SELECT string_split(trim(seq), ' ') AS sym, c FROM s{k - 1}))
      GROUP BY pair
    )""")
        parts.append(
            f"b{k} AS (SELECT pair, cnt FROM p{k} ORDER BY cnt DESC, pair LIMIT 1)"
        )
        parts.append(f"""s{k} AS (
      SELECT replace(seq, ' ' || b.pair || ' ',
                     ' ' || replace(b.pair, ' ', '') || ' ') AS seq, c
      FROM s{k - 1}, b{k} b
    )""")
    return parts


def _bpe_oracle() -> str:
    union = "\n    UNION ALL ".join(
        f"SELECT {k} AS step, pair, replace(pair, ' ', '') AS merged, "
        f"CAST(cnt AS BIGINT) AS freq FROM b{k}"
        for k in range(1, BPE_STEPS + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(_bpe_cte_parts())
        + f"\n    SELECT * FROM ({union}) ORDER BY step"
    )


@register(
    "bpe_merge_steps",
    oracle_sql=_bpe_oracle(),
    tags=("text", "tokenizer", "bpe", "pipeline"),
)
def bpe_merge_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first {BPE_STEPS} merge rules of BPE tokenizer training over
    the corpus vocabulary — learn-the-tokenizer is the step BEFORE
    every other token-level operator in an LLM data pipeline.  Each
    step counts adjacent symbol pairs (weighted by word frequency),
    takes the most frequent pair (ties: lexicographically smallest),
    and rewrites every word's symbol sequence with the merged pair.

    All-integer counts and string rewrites — nothing to round.  The
    argmax is ORDER BY cnt DESC, pair LIMIT 1 (a TakeOrdered, with a
    total-order tie-break) joined back as a broadcast 1-row; merges
    chain as {BPE_STEPS} lazily-composed passes with NO driver-side
    collect, so the whole learn is one Spark job.

    Scale shape: the corpus collapses ONCE to the word-frequency table
    (vocabulary-sized — the only data-sized aggregate); every
    subsequent pass is vocabulary-grain: pair counting map-side
    combines to the pair vocabulary, and the rewrite is a narrow map
    against a broadcast single row.  This is exactly how production
    BPE trainers scale (word-count once, then iterate on the vocab),
    and why the operator survives 100 TB: step cost is O(vocab), not
    O(corpus).
    """
    merges, _ = _bpe_chain(spark, sf_dir)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out.orderBy("step")


def _bpe_chain(spark: SparkSession, sf_dir: str):
    """Spark mirror of ``_bpe_cte_parts``: returns ([per-step merge-rule
    1-row DataFrames], final rewritten (seq, c) vocabulary table)."""
    d = compute_scan(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokenize(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    seqs = words.select(
        F.concat(
            F.lit(" "),
            F.array_join(
                F.regexp_extract_all(F.col("w"), F.lit("(.)"), F.lit(1)), " "
            ),
            F.lit(" "),
        ).alias("seq"),
        "c",
    )
    merges = []
    for step in range(1, BPE_STEPS + 1):
        sym = F.split(F.trim(F.col("seq")), " ")
        pairs = (
            seqs.select(sym.alias("sym"), "c")
            .select(
                F.explode(
                    F.transform(
                        F.slice(
                            F.col("sym"),
                            1,
                            F.greatest(F.size("sym") - 1, F.lit(0)),
                        ),
                        lambda x, i: F.concat(
                            x, F.lit(" "), F.element_at(F.col("sym"), i + 2)
                        ),
                    )
                ).alias("pair"),
                "c",
            )
            .groupBy("pair")
            .agg(F.sum("c").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), "pair").limit(1)
        merges.append(
            best.select(
                F.lit(step).alias("step"),
                "pair",
                F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
                F.col("cnt").cast("long").alias("freq"),
            )
        )
        seqs = seqs.crossJoin(F.broadcast(best)).select(
            F.replace(
                F.col("seq"),
                F.concat(F.lit(" "), F.col("pair"), F.lit(" ")),
                F.concat(
                    F.lit(" "),
                    F.replace(F.col("pair"), F.lit(" "), F.lit("")),
                    F.lit(" "),
                ),
            ).alias("seq"),
            "c",
        )
    return merges, seqs


BPE_VOCAB_TOPK = 50


@register(
    "tokenizer_apply_bpe",
    oracle_sql=(
        "WITH "
        + ",\n    ".join(_bpe_cte_parts())
        + f"""
    SELECT sym AS symbol,
           CAST(sum(c) AS BIGINT) AS n_occurrences,
           CAST(count(*) AS BIGINT) AS n_word_types
    FROM (SELECT unnest(string_split(trim(seq), ' ')) AS sym, c
          FROM s{BPE_STEPS})
    GROUP BY sym
    ORDER BY n_occurrences DESC, symbol
    LIMIT {BPE_VOCAB_TOPK}"""
    ),
    tags=("text", "tokenizer", "bpe", "pipeline"),
)
def tokenizer_apply_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE with the learned tokenizer: apply [[bpe_merge_steps]]'s
    {BPE_STEPS} merge rules to the corpus vocabulary and report the
    resulting symbol vocabulary — occurrence counts (word-frequency
    weighted) and word-type counts for the top {BPE_VOCAB_TOPK}
    symbols.  Learn + apply share one lazily-composed plan (the same
    ``_bpe_chain``), exactly how a tokenizer-training job emits both
    its merges file and its corpus token statistics in one pass.

    Scale shape: identical to [[bpe_merge_steps]] (vocabulary-grain
    iteration after one corpus collapse) plus a final symbol-grain
    aggregate and a TakeOrdered top-k.  Applying the merges to the
    full document STREAM would instead join doc tokens against the
    vocab->segmentation map (word-keyed shuffle join) — the statistics
    here come entirely from the weighted vocabulary, so that join is
    unnecessary.
    """
    _, seqs = _bpe_chain(spark, sf_dir)
    return (
        seqs.select(
            F.explode(F.split(F.trim(F.col("seq")), " ")).alias("symbol"), "c"
        )
        .groupBy("symbol")
        .agg(
            F.sum("c").cast("long").alias("n_occurrences"),
            F.count("*").cast("long").alias("n_word_types"),
        )
        .orderBy(F.desc("n_occurrences"), "symbol")
        .limit(BPE_VOCAB_TOPK)
    )


# Reliability diagram for a rule-based quality score: score = share of
# tokens that are English stopwords (basis points), proxy label =
# "document is English".  CAL_BIN_BP-wide score bins.
CAL_BIN_BP = 500
CAL_NBINS = 20


@register(
    "score_calibration_reliability",
    oracle_sql=f"""
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             len(list_intersect(ts, ['the','a','and','of','to','is','fast','slow']))
               * 10000 // len(ts) AS score_bp
      FROM (SELECT lang, {_TOK} AS ts FROM documents)
      WHERE len(ts) > 0
    ),
    binned AS (
      SELECT least(score_bp // {CAL_BIN_BP}, {CAL_NBINS - 1}) AS bin,
             y, score_bp
      FROM scored
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS n_pos,
           CAST(sum(score_bp) // count(*) AS BIGINT) AS mean_score_bp,
           CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS pos_rate_ppm,
           CAST(abs(sum(score_bp) * 100 // count(*)
                    - sum(y) * 1000000 // count(*)) AS BIGINT)
             AS calib_gap_ppm
    FROM binned
    GROUP BY bin
    ORDER BY bin
    """,
    tags=("text", "calibration", "scoring", "pipeline"),
)
def score_calibration_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram (calibration curve) for a rule-based quality
    score against a proxy label — the screen every learned/heuristic
    quality classifier gets before its threshold gates a corpus: in
    each score bin, does the empirical positive rate track the score?
    Score = English-stopword share of tokens in basis points; label =
    document language is English; {CAL_NBINS} bins of {CAL_BIN_BP} bp.

    All-integer: the score is floor-divided into basis points, rates
    are ppm floor divisions, and the per-bin calibration gap
    |mean_score - pos_rate| is integer ppm — hash-exact cross-engine.

    Scale shape: one narrow per-row map (token intersect + bucket),
    then a map-side-combined {CAL_NBINS}-cell aggregate.  Scan-bound;
    composes with any learned scorer by swapping the score column.
    """
    d = compute_scan(spark, sf_dir, "documents")
    ts = F.col("ts")
    scored = (
        d.select(
            "lang", tokenize(F.col("text")).alias("ts")
        )
        .filter(F.size(ts) > 0)
        .select(
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            (
                F.size(
                    F.array_intersect(
                        ts, F.array(*[F.lit(w) for w in LANG_PROFILES["en"]])
                    )
                )
                * 10000
            ).alias("num"),
            F.size(ts).alias("den"),
        )
        .select("y", F.expr("num div den").alias("score_bp"))
    )
    binned = scored.select(
        F.least(
            F.expr(f"score_bp div {CAL_BIN_BP}"), F.lit(CAL_NBINS - 1)
        ).alias("bin"),
        "y",
        "score_bp",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            F.expr("CAST(sum(score_bp) div count(*) AS BIGINT)").alias(
                "mean_score_bp"
            ),
            F.expr("CAST(sum(y) * 1000000 div count(*) AS BIGINT)").alias(
                "pos_rate_ppm"
            ),
            F.expr(
                "CAST(abs(sum(score_bp) * 100 div count(*)"
                " - sum(y) * 1000000 div count(*)) AS BIGINT)"
            ).alias("calib_gap_ppm"),
        )
        .orderBy("bin")
    )


@register(
    "isotonic_calibration_rewrite",
    oracle_sql=f"""
    WITH scored AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             len(list_intersect(ts, ['the','a','and','of','to','is','fast','slow']))
               * 10000 // len(ts) AS score_bp
      FROM (SELECT doc_id, lang, {_TOK} AS ts FROM documents)
      WHERE len(ts) > 0
    ),
    binned AS (
      SELECT doc_id, y, score_bp,
             least(score_bp // {CAL_BIN_BP}, {CAL_NBINS - 1}) AS bin
      FROM scored
    ),
    bins AS (
      SELECT bin, count(*) AS n, sum(y) AS n_pos FROM binned GROUP BY bin
    ),
    pref AS (
      SELECT bin, n, n_pos,
             sum(n) OVER (ORDER BY bin) AS cn,
             sum(n_pos) OVER (ORDER BY bin) AS cp
      FROM bins
    ),
    segs AS (
      SELECT j.bin AS jb, k.bin AS kb,
             (k.cp - j.cp + j.n_pos) * 1000000
               // (k.cn - j.cn + j.n) AS m_ppm
      FROM pref j JOIN pref k ON k.bin >= j.bin
    ),
    mins AS (
      SELECT i.bin AS bin, s.jb, min(s.m_ppm) AS lo
      FROM bins i JOIN segs s ON s.jb <= i.bin AND s.kb >= i.bin
      GROUP BY i.bin, s.jb
    ),
    iso AS (
      SELECT bin, max(lo) AS iso_rate_ppm FROM mins GROUP BY bin
    ),
    rates AS (
      SELECT b.bin, i.iso_rate_ppm,
             b.n_pos * 1000000 // b.n AS raw_rate_ppm
      FROM bins b JOIN iso i USING (bin)
    )
    SELECT d.doc_id,
           CAST(d.score_bp AS BIGINT) AS score_bp,
           CAST(d.bin AS BIGINT) AS bin,
           CAST(r.raw_rate_ppm AS BIGINT) AS raw_rate_ppm,
           CAST(r.iso_rate_ppm AS BIGINT) AS iso_rate_ppm
    FROM binned d JOIN rates r USING (bin)
    """,
    tags=("text", "calibration", "rewrite", "pipeline"),
)
def isotonic_calibration_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV-style) score recalibration applied back to the
    corpus: [[score_calibration_reliability]] MEASURES miscalibration;
    this op FIXES it, replacing each {CAL_BIN_BP}-bp score bin's raw
    positive rate with the monotone-regression fit and broadcasting the
    corrected probability back onto every document — the rewrite a
    pipeline runs so a learned quality threshold means the same thing
    across the score range.

    Isotonic fit WITHOUT iteration: instead of the sequential
    pool-adjacent-violators loop (which doesn't parallelize and has no
    SQL analog), the fit uses the max-min closed form
    ``iso(i) = max_{{j<=i}} min_{{k>=i}} mean(y over bins j..k)`` —
    provably equal to PAV on real means, applied here to ppm
    floor-divided means identically in both engines (the max of mins
    over integer values is exact, and monotonicity holds for ANY m(j,k)
    since growing j-sets and shrinking k-sets are nested).  Segment
    means come from prefix sums over the {CAL_NBINS}-row bin table, so
    the triple (j, i, k) enumeration is a {CAL_NBINS}^3 = 8000-cell
    constant-size join — never corpus-sized.

    Scale shape: one corpus scan -> {CAL_NBINS}-cell aggregate ->
    constant-size bin-triple joins (BNLJ over a <={CAL_NBINS}-row side
    by construction) -> one broadcast join back to doc grain.  The
    corpus is touched exactly twice (score map, rewrite join), both
    scan-shaped.

    Reference analog: none (LLM-pipeline surface per the brief).
    """
    d = compute_scan(spark, sf_dir, "documents")
    ts = F.col("ts")
    scored = (
        d.select("doc_id", "lang", tokenize(F.col("text")).alias("ts"))
        .filter(F.size(ts) > 0)
        .select(
            "doc_id",
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            (
                F.size(
                    F.array_intersect(
                        ts, F.array(*[F.lit(w) for w in LANG_PROFILES["en"]])
                    )
                )
                * 10000
            ).alias("num"),
            F.size(ts).alias("den"),
        )
        .select("doc_id", "y", F.expr("num div den").alias("score_bp"))
    )
    binned = scored.select(
        "doc_id",
        "y",
        "score_bp",
        F.least(
            F.expr(f"score_bp div {CAL_BIN_BP}"), F.lit(CAL_NBINS - 1)
        ).alias("bin"),
    )
    bins = binned.groupBy("bin").agg(
        F.count("*").alias("n"), F.sum("y").alias("n_pos")
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pref = bins.select(
        "bin", "n", "n_pos",
        F.sum("n").over(w).alias("cn"),
        F.sum("n_pos").over(w).alias("cp"),
    )
    jt = pref.select(
        F.col("bin").alias("jb"),
        F.col("n").alias("jn"),
        F.col("n_pos").alias("jnp"),
        F.col("cn").alias("jcn"),
        F.col("cp").alias("jcp"),
    )
    kt = pref.select(
        F.col("bin").alias("kb"),
        F.col("cn").alias("kcn"),
        F.col("cp").alias("kcp"),
    )
    segs = jt.join(kt, F.col("kb") >= F.col("jb")).select(
        "jb",
        "kb",
        F.expr(
            "(kcp - jcp + jnp) * 1000000 div (kcn - jcn + jn)"
        ).alias("m_ppm"),
    )
    mins = (
        bins.select(F.col("bin").alias("ibin"))
        .join(segs, (F.col("jb") <= F.col("ibin")) & (F.col("kb") >= F.col("ibin")))
        .groupBy("ibin", "jb")
        .agg(F.min("m_ppm").alias("lo"))
    )
    iso = mins.groupBy("ibin").agg(F.max("lo").alias("iso_rate_ppm"))
    rates = bins.join(iso, bins.bin == iso.ibin).select(
        "bin",
        F.expr("n_pos * 1000000 div n").alias("raw_rate_ppm"),
        "iso_rate_ppm",
    )
    return binned.join(F.broadcast(rates), "bin").select(
        "doc_id",
        F.col("score_bp").cast("long").alias("score_bp"),
        F.col("bin").cast("long").alias("bin"),
        F.col("raw_rate_ppm").cast("long").alias("raw_rate_ppm"),
        F.col("iso_rate_ppm").cast("long").alias("iso_rate_ppm"),
    )


@register(
    "lm_holdout_perplexity",
    oracle_sql=f"""
    WITH toks AS (SELECT doc_id, source, {_TOK} AS ts FROM documents),
    train_tok AS (
      SELECT unnest(ts) AS t FROM toks
      WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                 AS BIGINT) % 2 = 0
    ),
    vocab AS (SELECT t, count(*) AS c FROM train_tok GROUP BY t),
    stats AS (
      SELECT sum(c) AS n, count(*) AS v FROM vocab
    ),
    lt AS (
      SELECT t,
             CAST(round(ln(CAST(n + v AS DOUBLE) / (c + 1)) * 1000000)
                  AS BIGINT) AS nll_micro
      FROM vocab, stats
    ),
    dflt AS (
      SELECT CAST(round(ln(CAST(n + v AS DOUBLE)) * 1000000) AS BIGINT)
               AS d_micro
      FROM stats
    ),
    held AS (
      SELECT source, unnest(ts) AS t FROM toks
      WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                 AS BIGINT) % 2 = 1
    ),
    st AS (
      SELECT source, t, count(*) AS c FROM held GROUP BY source, t
    ),
    j AS (
      SELECT st.source, st.c,
             CASE WHEN lt.t IS NULL THEN st.c ELSE 0 END AS oov,
             CAST(st.c AS HUGEINT) * coalesce(lt.nll_micro, d.d_micro)
               AS nll
      FROM st LEFT JOIN lt ON lt.t = st.t CROSS JOIN dflt d
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(oov) AS BIGINT) AS n_oov,
           CAST(sum(oov) * 1000000 // sum(c) AS BIGINT) AS oov_ppm,
           CAST(sum(nll) // sum(c) AS BIGINT) AS avg_nll_micro,
           CAST(round(exp((sum(nll) // sum(c)) / 1000000.0) * 1000)
                AS BIGINT) AS ppl_milli
    FROM j GROUP BY source ORDER BY source
    """,
    tags=("text", "lm", "eval", "holdout", "pipeline"),
)
def lm_holdout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out perplexity of a corpus-trained unigram LM, reported per
    source with OOV rates — the train/eval discipline missing from the
    in-sample scorers ([[unigram_logprob_score]],
    [[ngram_lm_perplexity]] score the data they were fit on): the LM is
    fit on the md5-even half of documents (add-one smoothing over the
    train vocabulary — a hash split, so membership is independent of
    the fixture's round-robin source assignment), evaluated on the
    md5-odd half, and unseen tokens take the smoothed
    default mass — the same split-then-score loop as
    [[nb_quality_classifier_train_apply]], for perplexity.  Per-source
    rows make it the domain-difficulty table a mixture tuner reads next
    to [[doremi_domain_reweighting]].

    Exactness: per-vocab-token NLL is frozen to integer micro-nats; the
    (source, token)-grain sums route c * nll_micro through
    DECIMAL(38,0)/HUGEINT (the DoReMi headroom rule); the perplexity is
    ONE pinned exp over the exact integer average, frozen to milli.

    Scale shape: train counts are a vocab-grain map-side-combined
    aggregate; held-out tokens aggregate to (source, token) grain and
    LEFT-equi-join the vocabulary (vocab-sized shuffle join — never a
    broadcast of an unbounded vocab); (N, V) and the OOV default ride
    1-row broadcasts.  Source-grain output.

    Reference analog: the sequential-oracle differential discipline (/root/reference/SimpleInvertedIndex/inverted_index.c:1) applied to model fitting; LLM-pipeline surface per the brief.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    # md5-hash split (the deterministic_split convention), NOT doc_id
    # parity: the fixture assigns sources round-robin by doc_id, so a
    # parity split would confound split membership with source and
    # halve the per-source output coverage.
    is_train = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 2
        == 0
    )
    toks = d.select(
        "doc_id", "source", tokenize(F.col("text")).alias("ts"), is_train.alias("tr")
    )
    vocab = (
        toks.filter(F.col("tr"))
        .select(F.explode("ts").alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    stats = vocab.agg(F.sum("c").alias("n"), F.count("*").alias("v"))
    lt = vocab.crossJoin(F.broadcast(stats)).select(
        "t",
        F.expr(
            "CAST(round(ln(CAST(n + v AS DOUBLE) / (c + 1)) * 1000000)"
            " AS BIGINT)"
        ).alias("nll_micro"),
    )
    dflt = stats.select(
        F.expr(
            "CAST(round(ln(CAST(n + v AS DOUBLE)) * 1000000) AS BIGINT)"
        ).alias("d_micro")
    )
    st = (
        toks.filter(~F.col("tr"))
        .select("source", F.explode("ts").alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").alias("c"))
    )
    j = (
        st.join(lt, "t", "left")
        .crossJoin(F.broadcast(dflt))
        .select(
            "source",
            "c",
            F.when(F.col("nll_micro").isNull(), F.col("c"))
            .otherwise(0)
            .alias("oov"),
            (
                F.col("c").cast("decimal(38,0)")
                * F.coalesce("nll_micro", "d_micro")
            ).alias("nll"),
        )
    )
    return (
        j.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum("oov").cast("long").alias("n_oov"),
            F.expr("CAST(sum(oov) * 1000000 div sum(c) AS BIGINT)").alias(
                "oov_ppm"
            ),
            F.expr("CAST(sum(nll) div sum(c) AS BIGINT)").alias(
                "avg_nll_micro"
            ),
            F.expr(
                "CAST(round(exp(CAST(sum(nll) div sum(c) AS BIGINT)"
                " / 1000000.0) * 1000) AS BIGINT)"
            ).alias("ppl_milli"),
        )
        .orderBy("source")
    )


# Generation-eval overlap metrics: candidate = even doc_id, reference =
# the following odd doc_id (a deterministic fixture pairing; production
# pair tables come from the eval harness and join in identically).
@register(
    "generation_eval_overlap",
    oracle_sql=f"""
    WITH toks AS (
      SELECT doc_id, {_TOK} AS ts FROM documents
      WHERE len({_TOK}) > 0
    ),
    pairs AS (
      SELECT c.doc_id // 2 AS pair_id,
             c.doc_id AS cand_id, r.doc_id AS ref_id,
             c.ts AS cts, r.ts AS rts
      FROM toks c JOIN toks r ON r.doc_id = c.doc_id + 1
      WHERE c.doc_id % 2 = 0
    ),
    c1 AS (
      SELECT pair_id, t AS g, count(*) AS cc
      FROM (SELECT pair_id, unnest(cts) AS t FROM pairs)
      GROUP BY pair_id, t
    ),
    r1 AS (
      SELECT pair_id, t AS g, count(*) AS rc
      FROM (SELECT pair_id, unnest(rts) AS t FROM pairs)
      GROUP BY pair_id, t
    ),
    o1 AS (
      SELECT pair_id, sum(least(cc, rc)) AS o
      FROM c1 JOIN r1 USING (pair_id, g) GROUP BY pair_id
    ),
    c2 AS (
      SELECT pair_id, g, count(*) AS cc
      FROM (SELECT pair_id, unnest({duckdb_ngrams("cts", 2)}) AS g FROM pairs)
      GROUP BY pair_id, g
    ),
    r2 AS (
      SELECT pair_id, g, count(*) AS rc
      FROM (SELECT pair_id, unnest({duckdb_ngrams("rts", 2)}) AS g FROM pairs)
      GROUP BY pair_id, g
    ),
    o2 AS (
      SELECT pair_id, sum(least(cc, rc)) AS o
      FROM c2 JOIN r2 USING (pair_id, g) GROUP BY pair_id
    )
    SELECT p.pair_id, p.cand_id, p.ref_id,
           CAST(coalesce(o1.o, 0) AS BIGINT) AS overlap1,
           CAST(coalesce(o1.o, 0) * 2 * 1000000
                // (len(p.cts) + len(p.rts)) AS BIGINT) AS rouge1_f_ppm,
           CAST(coalesce(o2.o, 0) AS BIGINT) AS overlap2,
           CAST(CASE WHEN len(p.cts) + len(p.rts) <= 2 THEN 0
                ELSE coalesce(o2.o, 0) * 2 * 1000000
                     // (len(p.cts) + len(p.rts) - 2) END AS BIGINT)
             AS rouge2_f_ppm,
           CAST(CASE WHEN md5(array_to_string(p.cts, ' '))
                        = md5(array_to_string(p.rts, ' '))
                THEN 1 ELSE 0 END AS BIGINT) AS exact_match
    FROM pairs p
    LEFT JOIN o1 ON o1.pair_id = p.pair_id
    LEFT JOIN o2 ON o2.pair_id = p.pair_id
    """,
    tags=("text", "eval", "rouge", "pipeline"),
)
def generation_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generation-eval overlap metrics — ROUGE-1/ROUGE-2 F1 (clipped
    n-gram overlap, the summarization/QA eval standard) and exact-match
    — per (candidate, reference) pair, completing the eval family next
    to [[pass_at_k_eval]] (execution grain) and
    [[langid_confusion_matrix]] (label grain).  The fixture pairs each
    even doc with its successor; a production run swaps in the eval
    harness's pair table and the plan is unchanged.

    Metric exactness: clipped overlap sum_g min(c_cand, c_ref) is an
    exact integer from two (pair, gram)-grain counts; F1 = 2*overlap /
    (|cand| + |ref|) is one ppm floor division (bigram totals are
    len-1 per side, zero-guarded).  Exact match pins the full token
    stream through md5.

    Scale shape: the pair join is doc-grain equi (successor id); gram
    counts are (pair, gram)-keyed map-side-combined aggregates; the
    clipped overlap is an equi-join of the two count tables on (pair,
    gram) — every stage keys on the pair or the gram digest, nothing
    quadratic, no windows.  Per-pair work is bounded by the longer
    document.

    Reference analog: none (LLM-pipeline surface per the brief).
    """
    d = compute_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("ts")).filter(
        F.size("ts") > 0
    )
    cand = toks.filter(F.col("doc_id") % 2 == 0).select(
        F.expr("doc_id div 2").alias("pair_id"),
        F.col("doc_id").alias("cand_id"),
        F.col("ts").alias("cts"),
    )
    ref = toks.filter(F.col("doc_id") % 2 == 1).select(
        F.expr("doc_id div 2").alias("pair_id"),
        F.col("doc_id").alias("ref_id"),
        F.col("ts").alias("rts"),
    )
    pairs = cand.join(ref, "pair_id").cache()

    # Both ROUGE levels in ONE pass per side (the rouge_n_overlap_eval /
    # BLEU single-explode lever, r13): unigrams and bigrams are tagged
    # with their n and exploded together, collapsing 4 explode+aggregate
    # passes, 2 gram joins, and 2 pair-grain joins into 2 passes, 1
    # join, 1 pair-grain join.
    def _tag(n):
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))

    def _counts(col_name: str, alias: str) -> DataFrame:
        tagged = F.concat(
            F.transform(F.col(col_name), _tag(1)),
            F.transform(ngrams(F.col(col_name), 2), _tag(2)),
        )
        return (
            pairs.select("pair_id", F.explode(tagged).alias("ng"))
            .select(
                "pair_id", F.col("ng.n").alias("n"), F.col("ng.g").alias("g")
            )
            .groupBy("pair_id", "n", "g")
            .agg(F.count("*").alias(alias))
        )

    ov = (
        _counts("cts", "cc")
        .join(_counts("rts", "rc"), ["pair_id", "n", "g"])
        .groupBy("pair_id")
        .agg(
            F.sum(F.when(F.col("n") == 1, F.least("cc", "rc"))).alias("o1"),
            F.sum(F.when(F.col("n") == 2, F.least("cc", "rc"))).alias("o2"),
        )
    )
    return (
        pairs.join(ov, "pair_id", "left")
        .select(
            "pair_id",
            "cand_id",
            "ref_id",
            F.coalesce("o1", F.lit(0)).cast("long").alias("overlap1"),
            F.expr(
                "CAST(coalesce(o1, 0) * 2 * 1000000"
                " div (size(cts) + size(rts)) AS BIGINT)"
            ).alias("rouge1_f_ppm"),
            F.coalesce("o2", F.lit(0)).cast("long").alias("overlap2"),
            F.expr(
                "CAST(CASE WHEN size(cts) + size(rts) <= 2 THEN 0"
                " ELSE coalesce(o2, 0) * 2 * 1000000"
                " div (size(cts) + size(rts) - 2) END AS BIGINT)"
            ).alias("rouge2_f_ppm"),
            F.when(
                F.md5(F.array_join("cts", " "))
                == F.md5(F.array_join("rts", " ")),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("exact_match"),
        )
    )


# T5-style span corruption: SPAN_BLOCK-token blocks, one SPAN_LEN-token
# masked span per block at a content-hashed offset (0..SPAN_BLOCK-
# SPAN_LEN), sentinel <extra_id_b> numbered by block.  Block-local
# spans are non-overlapping BY CONSTRUCTION — the sequential
# "skip-overlap" scan of reference T5 implementations doesn't
# parallelize; hashing the offset per fixed block reproduces the
# ~SPAN_LEN/SPAN_BLOCK corruption rate deterministically on any engine.
SPAN_BLOCK = 10
SPAN_LEN = 3


@register(
    "span_corruption_masking",
    oracle_sql=f"""
    WITH toks AS (
      SELECT doc_id, {_TOK} AS ts FROM documents
      WHERE len({_TOK}) > 0
    ),
    blocks AS (
      SELECT doc_id, ts,
             list_transform(
               generate_series(0, CAST(ceil(len(ts) / {SPAN_BLOCK}.0) AS BIGINT) - 1),
               b -> struct_pack(
                 blk := list_slice(ts, b * {SPAN_BLOCK} + 1, (b + 1) * {SPAN_BLOCK}),
                 off := CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_'
                                               || CAST(b AS VARCHAR)), 1, 4)
                             AS BIGINT) % {SPAN_BLOCK - SPAN_LEN + 1},
                 sent := '<extra_id_' || CAST(b AS VARCHAR) || '>'
               )
             ) AS parts
      FROM toks
    ),
    assembled AS (
      SELECT doc_id,
             CAST(len(ts) AS BIGINT) AS n_tokens,
             flatten(list_transform(parts, p ->
               list_slice(p.blk, 1, p.off)
               || [p.sent]
               || list_slice(p.blk, p.off + {SPAN_LEN} + 1, len(p.blk))
             )) AS input_toks,
             flatten(list_transform(parts, p ->
               [p.sent] || list_slice(p.blk, p.off + 1, p.off + {SPAN_LEN})
             )) AS target_toks,
             CAST(len(parts) AS BIGINT) AS n_spans
      FROM blocks
    )
    SELECT doc_id, n_tokens, n_spans,
           CAST(len(target_toks) - n_spans AS BIGINT) AS n_masked,
           array_to_string(input_toks, ' ') AS input_text,
           array_to_string(target_toks, ' ') AS target_text
    FROM assembled
    """,
    tags=("text", "masking", "t5", "pipeline"),
)
def span_corruption_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2 span-corruption example generation: every {SPAN_BLOCK}-
    token block masks one {SPAN_LEN}-token span at a md5(doc_id,
    block)-hashed offset, emitting the (input with <extra_id_b>
    sentinels, target of sentinel+masked-span) pair each denoising
    objective trains on — ~{SPAN_LEN * 100 // SPAN_BLOCK}% corruption.

    Reference T5 pickers scan tokens sequentially and skip overlapping
    spans — inherently serial per document and RNG-dependent; hashing
    the offset inside fixed blocks gives non-overlapping spans BY
    CONSTRUCTION, the same corruption rate, and bit-identical output
    on any engine, partitioning, or replay (the [[deterministic_split]]
    reproducibility contract applied to masking).

    Scale shape: pure in-row array arithmetic on the materialized
    token column ([[skipgram_cooccurrence]]'s rule) — no shuffle at
    all; the corpus streams through one narrow map stage.  Truncated
    final blocks degrade gracefully (slices clamp identically in both
    engines; a span landing past the end masks fewer/zero tokens, its
    sentinel still emitted).
    """
    d = compute_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("ts")).filter(
        F.size("ts") > 0
    )
    ts = F.col("ts")
    nb = F.ceil(F.size(ts) / F.lit(float(SPAN_BLOCK))).cast("long")
    n_off = SPAN_BLOCK - SPAN_LEN + 1
    blocks = toks.select(
        "doc_id",
        "ts",
        F.transform(
            F.sequence(F.lit(0).cast("long"), nb - 1),
            lambda b: F.struct(
                F.slice(
                    ts, (b * SPAN_BLOCK + 1).cast("int"), SPAN_BLOCK
                ).alias("blk"),
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.col("doc_id").cast("string"),
                                    F.lit("_"),
                                    b.cast("string"),
                                )
                            ),
                            1,
                            4,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % n_off
                ).alias("off"),
                F.concat(
                    F.lit("<extra_id_"), b.cast("string"), F.lit(">")
                ).alias("sent"),
            ),
        ).alias("parts"),
    )
    p_ = F.col("parts")
    assembled = blocks.select(
        "doc_id",
        F.size(ts).cast("long").alias("n_tokens"),
        F.flatten(
            F.transform(
                p_,
                lambda p: F.concat(
                    F.slice(p.blk, 1, p.off.cast("int")),
                    F.array(p.sent),
                    F.slice(
                        p.blk, (p.off + SPAN_LEN + 1).cast("int"), SPAN_BLOCK
                    ),
                ),
            )
        ).alias("input_toks"),
        F.flatten(
            F.transform(
                p_,
                lambda p: F.concat(
                    F.array(p.sent),
                    F.slice(p.blk, (p.off + 1).cast("int"), SPAN_LEN),
                ),
            )
        ).alias("target_toks"),
        F.size(p_).cast("long").alias("n_spans"),
    )
    return assembled.select(
        "doc_id",
        "n_tokens",
        "n_spans",
        (F.size("target_toks") - F.col("n_spans")).cast("long").alias("n_masked"),
        F.array_join("input_toks", " ").alias("input_text"),
        F.array_join("target_toks", " ").alias("target_text"),
    )


# RAG index build: RAG_CHUNK-token chunks -> hashing-trick features ->
# content-routed cells (cell = the chunk's dominant feature dimension)
# -> per-cell posting-list manifest.
RAG_CHUNK = 16


@register(
    "rag_chunk_index_build",
    oracle_sql=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS ts FROM documents),
    ch AS (
      SELECT doc_id, i AS chunk_idx,
             list_slice(ts, (i - 1) * {RAG_CHUNK} + 1, i * {RAG_CHUNK}) AS ctoks
      FROM (SELECT doc_id, ts,
                   unnest(generate_series(
                     1, CAST(ceil(len(ts) / {RAG_CHUNK}.0) AS BIGINT))) AS i
            FROM toks)
    ),
    feat AS (
      SELECT doc_id, chunk_idx,
             CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % {{hash_dim}} AS dim,
             count(*) AS c
      FROM (SELECT doc_id, chunk_idx, unnest(ctoks) AS t FROM ch)
      GROUP BY doc_id, chunk_idx, dim
    ),
    routed AS (
      SELECT doc_id, chunk_idx, dim AS cell,
             n_toks, n_active, checksum
      FROM (
        SELECT doc_id, chunk_idx, dim,
               row_number() OVER (PARTITION BY doc_id, chunk_idx
                                  ORDER BY c DESC, dim) AS rn,
               sum(c) OVER (PARTITION BY doc_id, chunk_idx) AS n_toks,
               count(*) OVER (PARTITION BY doc_id, chunk_idx) AS n_active,
               sum((dim + 1) * c) OVER (PARTITION BY doc_id, chunk_idx)
                 AS checksum
        FROM feat
      )
      WHERE rn = 1
    )
    SELECT cell,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           CAST(sum(n_active) AS BIGINT) AS total_active_dims,
           CAST(sum(checksum) AS BIGINT) AS cell_checksum
    FROM routed
    GROUP BY cell
    ORDER BY cell
    """.format(hash_dim="{HASH_DIM}").format(HASH_DIM=HASH_DIM),
    tags=("text", "rag", "index", "pipeline"),
)
def rag_chunk_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG index construction: fixed {RAG_CHUNK}-token
    chunks -> vocabulary-free hashing-trick features
    ([[hashing_trick_features]]) -> content-based routing (each chunk
    lands in the cell of its DOMINANT feature dimension, ties to the
    smallest dim) -> per-cell posting-list manifest (chunk counts,
    token totals, the position-weighted checksum that pins every
    vector).  The retrieval-side probe of such cells is
    [[ann_ivf_coarse]]; this operator is the INDEXING half.

    Scale shape: chunking and feature hashing are in-row; the (chunk,
    dim) aggregate map-side combines; routing is a chunk-grain argmax
    (min(struct(-c, dim)) — no window, no sort); the manifest is a
    cell-grain aggregate bounded by the constant feature-space size.
    Nothing vocabulary- or corpus-sized is ever broadcast.
    """
    d = compute_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("ts"))
    ts = F.col("ts")
    ch = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.ceil(F.size(ts) / F.lit(float(RAG_CHUNK))).cast("int"),
                ),
                lambda i: F.struct(
                    i.alias("chunk_idx"),
                    F.slice(ts, (i - 1) * RAG_CHUNK + 1, RAG_CHUNK).alias(
                        "ctoks"
                    ),
                ),
            )
        ).alias("c"),
    ).select("doc_id", "c.chunk_idx", F.explode("c.ctoks").alias("t"))
    dim = (
        F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("long")
        % HASH_DIM
    )
    feat = (
        ch.select("doc_id", "chunk_idx", dim.alias("dim"))
        .groupBy("doc_id", "chunk_idx", "dim")
        .agg(F.count("*").alias("c"))
    )
    routed = feat.groupBy("doc_id", "chunk_idx").agg(
        F.min(F.struct((-F.col("c")).alias("nc"), F.col("dim").alias("dim")))[
            "dim"
        ].alias("cell"),
        F.sum("c").alias("n_toks"),
        F.count("*").alias("n_active"),
        F.sum((F.col("dim") + 1) * F.col("c")).alias("checksum"),
    )
    return (
        routed.groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.sum("n_active").cast("long").alias("total_active_dims"),
            F.sum("checksum").cast("long").alias("cell_checksum"),
        )
        .orderBy("cell")
    )


# BERT-style MLM masking: each position corrupts with probability
# MLM_PCT/100 (hash-decided), and a corrupted position becomes [MASK]
# 80%, a pseudo-random in-document token 10%, or stays itself 10% —
# the 80/10/10 rule, all md5-decided so output is engine- and
# replay-invariant.
MLM_PCT = 15


@register(
    "mlm_token_masking",
    oracle_sql=f"""
    WITH toks AS (
      SELECT doc_id, {_TOK} AS ts FROM documents
      WHERE len({_TOK}) > 0
    ),
    marked AS (
      SELECT doc_id, ts,
             list_transform(generate_series(1, len(ts)), i ->
               struct_pack(
                 i := i,
                 r := CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_'
                                           || CAST(i AS VARCHAR)), 1, 4)
                          AS BIGINT) % 100,
                 q := CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_'
                                           || CAST(i AS VARCHAR)), 5, 4)
                          AS BIGINT) % 10,
                 p := CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_'
                                           || CAST(i AS VARCHAR)), 9, 4)
                          AS BIGINT) % len(ts)
               )) AS m
      FROM toks
    )
    SELECT doc_id,
           CAST(len(ts) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(m, x -> x.r < {MLM_PCT})) AS BIGINT)
             AS n_corrupted,
           CAST(len(list_filter(m, x -> x.r < {MLM_PCT} AND x.q < 8))
                AS BIGINT) AS n_mask,
           CAST(len(list_filter(m, x -> x.r < {MLM_PCT} AND x.q = 8))
                AS BIGINT) AS n_random,
           array_to_string(list_transform(m, x ->
             CASE WHEN x.r >= {MLM_PCT} THEN ts[x.i]
                  WHEN x.q < 8 THEN '[MASK]'
                  WHEN x.q = 8 THEN ts[x.p + 1]
                  ELSE ts[x.i] END), ' ') AS masked_text,
           coalesce(array_to_string(list_transform(
             list_filter(m, x -> x.r < {MLM_PCT}), x -> ts[x.i]), ' '), '')
             AS target_text
    FROM marked
    """,
    tags=("text", "masking", "mlm", "pipeline"),
)
def mlm_token_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERT-style masked-language-model example generation with the
    80/10/10 rule: ~{MLM_PCT}% of positions corrupt; a corrupted
    position becomes [MASK] (80%), a pseudo-random token drawn from
    the document's own token array (10%), or keeps its surface form
    while remaining a prediction target (10%).  Every decision is an
    md5(doc_id, position) draw — the encoder-model counterpart of
    [[span_corruption_masking]], equally replay/engine/partitioning
    invariant with no RNG.

    Scale shape: pure in-row array arithmetic over the materialized
    token column — one narrow map, no shuffle.  The corrupted-position
    count and the target string pin every per-position decision, so a
    single flipped hash bucket fails the oracle.
    """
    d = compute_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("ts")).filter(
        F.size("ts") > 0
    )
    ts = F.col("ts")
    marked = toks.select(
        "doc_id",
        "ts",
        F.expr(
            f"""transform(sequence(1, size(ts)), i -> struct(
              i AS i,
              CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), '_',
                                          CAST(i AS STRING))), 1, 4), 16, 10)
                   AS BIGINT) % 100 AS r,
              CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), '_',
                                          CAST(i AS STRING))), 5, 4), 16, 10)
                   AS BIGINT) % 10 AS q,
              CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), '_',
                                          CAST(i AS STRING))), 9, 4), 16, 10)
                   AS BIGINT) % size(ts) AS p))"""
        ).alias("m"),
    )
    m = F.col("m")
    return marked.select(
        "doc_id",
        F.size(ts).cast("long").alias("n_tokens"),
        F.size(F.filter(m, lambda x: x.r < MLM_PCT)).cast("long").alias(
            "n_corrupted"
        ),
        F.size(F.filter(m, lambda x: (x.r < MLM_PCT) & (x.q < 8)))
        .cast("long")
        .alias("n_mask"),
        F.size(F.filter(m, lambda x: (x.r < MLM_PCT) & (x.q == 8)))
        .cast("long")
        .alias("n_random"),
        F.array_join(
            F.transform(
                m,
                lambda x: F.when(x.r >= MLM_PCT, F.element_at(ts, x.i.cast("int")))
                .when(x.q < 8, F.lit("[MASK]"))
                .when(x.q == 8, F.element_at(ts, (x.p + 1).cast("int")))
                .otherwise(F.element_at(ts, x.i.cast("int"))),
            ),
            " ",
        ).alias("masked_text"),
        F.array_join(
            F.transform(
                F.filter(m, lambda x: x.r < MLM_PCT),
                lambda x: F.element_at(ts, x.i.cast("int")),
            ),
            " ",
        ).alias("target_text"),
    )


@register(
    "preference_pair_construction",
    oracle_sql=f"""
    WITH scored AS (
      SELECT doc_id, source,
             len(list_intersect(ts, ['the','a','and','of','to','is','fast','slow']))
               * 10000 // len(ts) AS score_bp
      FROM (SELECT doc_id, source, {_TOK} AS ts FROM documents)
      WHERE len(ts) > 0
    ),
    ranked AS (
      SELECT doc_id, source, score_bp,
             lead(doc_id) OVER w AS rejected_id,
             lead(score_bp) OVER w AS rejected_score_bp
      FROM scored
      WINDOW w AS (PARTITION BY source ORDER BY score_bp DESC, doc_id)
    )
    SELECT source,
           doc_id AS chosen_id,
           rejected_id,
           CAST(score_bp - rejected_score_bp AS BIGINT) AS margin_bp
    FROM ranked
    WHERE rejected_id IS NOT NULL AND score_bp > rejected_score_bp
    ORDER BY source, chosen_id
    """,
    tags=("text", "preference", "rlhf", "pipeline"),
)
def preference_pair_construction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for reward-model / DPO training:
    within each source, rank documents by a quality score
    ([[score_calibration_reliability]]'s stopword-share signal — swap
    in any learned scorer) and pair each document with the
    next-ranked one as (chosen, rejected), keeping only pairs with a
    strictly positive margin.  Adjacent-rank pairing is the standard
    hard-pair recipe: maximally informative comparisons, each document
    in at most two pairs, never the quadratic all-pairs within a
    score bucket.

    Scale shape: one narrow scoring map, then a single window shuffle
    PARTITIONED BY source (entity-bounded partitions — never a global
    unpartitioned sort) with a total-order tie-break, so pairing is
    deterministic on any engine or partitioning.  Margins are integer
    basis points.
    """
    from pyspark.sql.window import Window

    d = compute_scan(spark, sf_dir, "documents")
    ts = F.col("ts")
    scored = (
        d.select("doc_id", "source", tokenize(F.col("text")).alias("ts"))
        .filter(F.size(ts) > 0)
        .select(
            "doc_id",
            "source",
            F.expr(
                "CAST(size(array_intersect(ts, array('the','a','and','of','to',"
                "'is','fast','slow'))) AS BIGINT) * 10000 div size(ts)"
            ).alias("score_bp"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("score_bp"), "doc_id")
    ranked = scored.select(
        "doc_id",
        "source",
        "score_bp",
        F.lead("doc_id").over(w).alias("rejected_id"),
        F.lead("score_bp").over(w).alias("rejected_score_bp"),
    )
    return (
        ranked.filter(
            F.col("rejected_id").isNotNull()
            & (F.col("score_bp") > F.col("rejected_score_bp"))
        )
        .select(
            "source",
            F.col("doc_id").alias("chosen_id"),
            "rejected_id",
            (F.col("score_bp") - F.col("rejected_score_bp"))
            .cast("long")
            .alias("margin_bp"),
        )
        .orderBy("source", "chosen_id")
    )


@register(
    "langid_confusion_matrix",
    oracle_sql=f"""
    WITH scored AS (
      SELECT lang AS actual,
             {_sql_lang_score(LANG_PROFILES["en"])} AS s_en,
             {_sql_lang_score(LANG_PROFILES["de"])} AS s_de,
             {_sql_lang_score(LANG_PROFILES["es"])} AS s_es,
             {_sql_lang_score(LANG_PROFILES["fr"])} AS s_fr
      FROM (SELECT lang, {_TOK} AS tokens FROM documents)
    ),
    preds AS (
      SELECT actual, {_LANG_CASE_SQL} AS predicted FROM scored
    ),
    cells AS (
      SELECT actual, predicted, count(*) AS n FROM preds GROUP BY 1, 2
    ),
    row_tot AS (SELECT actual, sum(n) AS rt FROM cells GROUP BY actual),
    col_tot AS (SELECT predicted, sum(n) AS ct FROM cells GROUP BY predicted)
    SELECT c.actual, c.predicted,
           CAST(c.n AS BIGINT) AS n,
           CAST(CASE WHEN c.actual = c.predicted
                     THEN c.n * 1000000 // r.rt ELSE 0 END AS BIGINT)
             AS recall_ppm,
           CAST(CASE WHEN c.actual = c.predicted
                     THEN c.n * 1000000 // t.ct ELSE 0 END AS BIGINT)
             AS precision_ppm
    FROM cells c
    JOIN row_tot r ON r.actual = c.actual
    JOIN col_tot t ON t.predicted = c.predicted
    ORDER BY c.actual, c.predicted
    """,
    tags=("text", "langid", "evaluation", "pipeline"),
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation for [[text_lang_id]]: the actual x
    predicted confusion matrix with per-class recall and precision
    (integer ppm, reported on the diagonal cells) — the eval every
    rule-based or learned labeler gets before its output becomes a
    filter key, closing the predict -> evaluate loop the way
    [[score_calibration_reliability]] does for scores.

    Scale shape: the prediction is the same in-row stopword argmax as
    the base operator; the matrix is a CLASS-grain (|langs|^2 cells)
    map-side-combined aggregate with class-grain margin re-aggregates.
    Nothing after the scan exceeds a few dozen rows.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    toks = d.select(
        F.col("lang").alias("actual"), tokenize(F.col("text")).alias("tokens")
    )
    scored = toks.select(
        "actual",
        *[
            _spark_lang_score(F.col("tokens"), ws).alias(f"s_{lg}")
            for lg, ws in LANG_PROFILES.items()
        ],
    )
    s = {lg: F.col(f"s_{lg}") for lg in LANG_PROFILES}
    zero = (s["en"] == 0) & (s["de"] == 0) & (s["es"] == 0) & (s["fr"] == 0)
    pred = (
        F.when(zero, "und")
        .when(
            (s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] >= s["fr"]),
            "en",
        )
        .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]), "de")
        .when(s["es"] >= s["fr"], "es")
        .otherwise("fr")
    )
    cells = (
        scored.select("actual", pred.alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count("*").alias("n"))
    )
    row_tot = cells.groupBy("actual").agg(F.sum("n").alias("rt"))
    col_tot = cells.groupBy("predicted").agg(F.sum("n").alias("ct"))
    diag = F.col("actual") == F.col("predicted")
    return (
        cells.join(F.broadcast(row_tot), "actual")
        .join(F.broadcast(col_tot), "predicted")
        .select(
            "actual",
            "predicted",
            F.col("n").cast("long").alias("n"),
            F.when(diag, F.expr("CAST(n * 1000000 div rt AS BIGINT)"))
            .otherwise(0)
            .cast("long")
            .alias("recall_ppm"),
            F.when(diag, F.expr("CAST(n * 1000000 div ct AS BIGINT)"))
            .otherwise(0)
            .cast("long")
            .alias("precision_ppm"),
        )
        .orderBy("actual", "predicted")
    )


# ---------------------------------------------------------------------------
# Batching economics + classifier-based quality filtering
# ---------------------------------------------------------------------------

# Power-of-two padding widths for length-bucketed batching.
_BUCKET_WIDTHS = [8, 16, 32, 64, 128, 256, 512]
_BUCKET_CASE_SQL = (
    "CASE "
    + " ".join(f"WHEN n_toks <= {w} THEN {w}" for w in _BUCKET_WIDTHS)
    + " ELSE 1024 END"
)


@register(
    "length_bucket_batching",
    oracle_sql=f"""
    WITH toks AS (
      SELECT doc_id, len({_TOK}) AS n_toks FROM documents
    ),
    bucketed AS (
      SELECT doc_id, n_toks, {_BUCKET_CASE_SQL} AS width FROM toks
      WHERE n_toks > 0
    )
    SELECT width,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS real_tokens,
           CAST(count(*) * width AS BIGINT) AS padded_tokens,
           CAST((count(*) * width - sum(n_toks)) * 1000000
                // (count(*) * width) AS BIGINT) AS pad_waste_ppm,
           CAST((count(*) * width + {PACK_BUDGET} - 1) // {PACK_BUDGET}
                AS BIGINT) AS n_batches
    FROM bucketed GROUP BY width ORDER BY width
    """,
    tags=("text", "batching", "pipeline"),
)
def length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching economics: documents fall into
    power-of-two padding buckets (pad-to-width batching, the standard
    alternative to [[sequence_packing]]), and each bucket reports its
    real vs padded token mass, padding waste in ppm, and how many
    {PACK_BUDGET}-token batches it fills.  Reading the waste column
    against sequence_packing's near-zero waste is the classic
    pack-vs-pad trade studied before every pretraining run.

    Exactness: pure integer arithmetic — the CASE ladder replaces any
    float log2 (whose cross-engine rounding at exact powers of two is
    a documented hazard); waste is a non-negative floor division.
    Scale shape: one scan -> per-doc token count -> a ≤{len(_BUCKET_WIDTHS) + 1}-row
    aggregate; map-side combined, nothing data-sized shuffles.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(tokenize(F.col("text"))).alias("n_toks")
    ).filter(F.col("n_toks") > 0)
    width = F.expr(_BUCKET_CASE_SQL)
    return (
        toks.select("n_toks", width.alias("width"))
        .groupBy("width")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("real_tokens"),
            (F.count("*") * F.col("width")).cast("long").alias("padded_tokens"),
            F.expr(
                "CAST((count(*) * width - sum(n_toks)) * 1000000"
                " div (count(*) * width) AS BIGINT)"
            ).alias("pad_waste_ppm"),
            F.expr(
                f"CAST((count(*) * width + {PACK_BUDGET} - 1)"
                f" div {PACK_BUDGET} AS BIGINT)"
            ).alias("n_batches"),
        )
        .orderBy("width")
    )


# "Pretrained" linear quality classifier: HASH_DIM buckets, per-bucket
# weight derived from md5 of the bucket id (a frozen public surrogate
# for fastText-style trained weights), score in micro-units per token.
QC_WEIGHT_RANGE = 100_000  # +/- 0.1 in micro units


@register(
    "quality_classifier_inference",
    oracle_sql=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK}) AS t FROM documents
    ),
    scored AS (
      SELECT doc_id,
             (CAST('0x' || substr(md5('w' ||
                CAST(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)
                     % {HASH_DIM} AS VARCHAR)), 1, 8) AS BIGINT)
              % {2 * QC_WEIGHT_RANGE + 1}) - {QC_WEIGHT_RANGE} AS w_micro
      FROM tok
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(w_micro) AS BIGINT) AS score_sum_micro,
           CAST((sum(w_micro) + 1000000000 * count(*)) // count(*)
                - 1000000000 AS BIGINT) AS avg_w_micro,
           CASE WHEN sum(w_micro) >= 0 THEN 1 ELSE 0 END AS passed
    FROM scored GROUP BY doc_id
    """,
    tags=("text", "quality", "classifier", "pipeline"),
)
def quality_classifier_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier INFERENCE over hashed bag-of-words
    features — the fastText-style "score every document with a trained
    filter model" stage (CCNet/GPT-3 pipelines).  The weight vector is
    a frozen {HASH_DIM}-bucket table whose entries derive from md5 of
    the bucket id — a deterministic public stand-in for trained weights
    with the exact runtime shape of the real thing.

    Scale shape: bucket = hash(token) % {HASH_DIM} and weight =
    f(bucket) are both computed IN-ROW (the [[hashing_trick_features]]
    trick composed with a closed-form weight), so inference is a pure
    map + per-doc aggregate: NO weight table is joined, broadcast, or
    even materialized.  With externally trained weights the same plan
    broadcasts a {HASH_DIM}-row table — constant-size by construction.
    The signed average uses the +1e9-offset floor division so Spark
    div (truncate) agrees with DuckDB // (floor) on negative sums.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("t"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("long")
        % HASH_DIM
    )
    w_micro = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("w"), bucket.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % (2 * QC_WEIGHT_RANGE + 1)
        - QC_WEIGHT_RANGE
    )
    return (
        tok.select("doc_id", w_micro.alias("w_micro"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("w_micro").cast("long").alias("score_sum_micro"),
            F.expr(
                "CAST((sum(w_micro) + 1000000000L * count(*)) div count(*)"
                " - 1000000000L AS BIGINT)"
            ).alias("avg_w_micro"),
            F.expr(
                "CASE WHEN sum(w_micro) >= 0 THEN 1 ELSE 0 END"
            ).alias("passed"),
        )
    )


@register(
    "nb_quality_classifier_train_apply",
    oracle_sql=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_TOK}) AS t FROM documents
    ),
    train_tok AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_pos, t
      FROM tok WHERE doc_id % 2 = 0
    ),
    cls AS (
      SELECT t, sum(is_pos) AS c_pos, sum(1 - is_pos) AS c_neg
      FROM train_tok GROUP BY t
    ),
    tot AS (
      SELECT sum(c_pos) AS n_pos, sum(c_neg) AS n_neg, count(*) AS v FROM cls
    ),
    prior AS (
      SELECT CAST(round(ln(
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1 AS DOUBLE)
               / (sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) + 1))
               * 1000000) AS BIGINT) AS prior_micro
      FROM documents WHERE doc_id % 2 = 0
    ),
    lo AS (
      SELECT cls.t,
             CAST(round(ln(CAST(c_pos + 1 AS DOUBLE) / (n_pos + v)) * 1000000)
                  AS BIGINT)
             - CAST(round(ln(CAST(c_neg + 1 AS DOUBLE) / (n_neg + v)) * 1000000)
                    AS BIGINT) AS lo_micro
      FROM cls, tot
    ),
    dflt AS (
      SELECT CAST(round(ln(1.0 / (n_pos + v)) * 1000000) AS BIGINT)
             - CAST(round(ln(1.0 / (n_neg + v)) * 1000000) AS BIGINT)
               AS default_micro
      FROM tot
    ),
    scored AS (
      SELECT a.doc_id,
             max(CASE WHEN a.lang = 'en' THEN 1 ELSE 0 END) AS actual,
             CAST(max(p.prior_micro)
                  + sum(coalesce(lo.lo_micro, d.default_micro)) AS BIGINT)
               AS score_micro
      FROM (SELECT doc_id, lang, t FROM tok WHERE doc_id % 2 = 1) a
      LEFT JOIN lo ON lo.t = a.t
      CROSS JOIN dflt d CROSS JOIN prior p
      GROUP BY a.doc_id
    )
    SELECT actual,
           CASE WHEN score_micro >= 0 THEN 1 ELSE 0 END AS predicted,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST((sum(score_micro) + 1000000000000 * count(*)) // count(*)
                - 1000000000000 AS BIGINT) AS avg_score_micro
    FROM scored GROUP BY actual, predicted ORDER BY actual, predicted
    """,
    tags=("text", "quality", "classifier", "train-apply", "pipeline"),
)
def nb_quality_classifier_train_apply(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Naive-Bayes quality classifier, TRAINED and APPLIED in one job —
    the in-engine closure of the filter-model loop ([[bpe_merge_steps]]
    -> [[tokenizer_apply_bpe]] did this for tokenizers): add-one-smoothed
    per-token log-odds are learned on the even-doc_id half (label: is the
    document English), applied to the odd half, and reported as a 2x2
    confusion table with mean scores.  [[quality_classifier_inference]]
    is the frozen-weights twin; this one derives the weights from data.

    Exactness: every log is frozen to integer micro-nats at the
    vocabulary grain before any per-doc sum; unseen tokens take the
    closed-form smoothed default ln(1/(n+V)) difference; the signed
    mean uses the +1e12-offset floor division (truncate == floor once
    shifted non-negative).

    Scale shape: training is ONE vocabulary-grain aggregate; the model
    IS that table, and it shuffle-joins back to the apply-half token
    stream ([[unigram_logprob_score]]'s rule — never broadcast an
    unbounded vocabulary); totals, default, and prior ride three 1-row
    broadcasts.  Corpus touched twice (train pass, apply pass), nothing
    pairwise anywhere.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(tokenize(F.col("text"))).alias("t")
    )
    is_pos = F.when(F.col("lang") == "en", 1).otherwise(0)
    train_tok = tok.filter(F.col("doc_id") % 2 == 0).select(
        is_pos.alias("is_pos"), "t"
    )
    cls = train_tok.groupBy("t").agg(
        F.sum("is_pos").alias("c_pos"),
        F.sum(F.lit(1) - F.col("is_pos")).alias("c_neg"),
    )
    tot = cls.agg(
        F.sum("c_pos").alias("n_pos"),
        F.sum("c_neg").alias("n_neg"),
        F.count("*").alias("v"),
    )
    prior = (
        d.filter(F.col("doc_id") % 2 == 0)
        .agg(
            F.expr(
                "CAST(round(ln("
                "CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1"
                " AS DOUBLE)"
                " / (sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) + 1))"
                " * 1000000) AS BIGINT)"
            ).alias("prior_micro")
        )
    )
    lo = cls.crossJoin(F.broadcast(tot)).select(
        "t",
        (
            F.expr(
                "CAST(round(ln(CAST(c_pos + 1 AS DOUBLE) / (n_pos + v))"
                " * 1000000) AS BIGINT)"
            )
            - F.expr(
                "CAST(round(ln(CAST(c_neg + 1 AS DOUBLE) / (n_neg + v))"
                " * 1000000) AS BIGINT)"
            )
        ).alias("lo_micro"),
    )
    dflt = tot.select(
        (
            F.expr("CAST(round(ln(1.0 / (n_pos + v)) * 1000000) AS BIGINT)")
            - F.expr("CAST(round(ln(1.0 / (n_neg + v)) * 1000000) AS BIGINT)")
        ).alias("default_micro")
    )
    scored = (
        tok.filter(F.col("doc_id") % 2 == 1)
        .join(lo, "t", "left")
        .crossJoin(F.broadcast(dflt))
        .crossJoin(F.broadcast(prior))
        .groupBy("doc_id")
        .agg(
            F.max(is_pos).alias("actual"),
            (
                F.max("prior_micro")
                + F.sum(F.coalesce("lo_micro", "default_micro"))
            )
            .cast("long")
            .alias("score_micro"),
        )
    )
    return (
        scored.select(
            "actual",
            F.when(F.col("score_micro") >= 0, 1).otherwise(0).alias("predicted"),
            "score_micro",
        )
        .groupBy("actual", "predicted")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.expr(
                "CAST((sum(score_micro) + 1000000000000L * count(*))"
                " div count(*) - 1000000000000L AS BIGINT)"
            ).alias("avg_score_micro"),
        )
        .orderBy("actual", "predicted")
    )


@register(
    "perplexity_filter_rewrite",
    oracle_sql=f"""
    WITH toks AS (SELECT doc_id, source, {_TOK} AS ts FROM documents),
    big AS (
      SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
      FROM (SELECT doc_id, ts,
                   unnest(generate_series(1, len(ts) - 1)) AS i
            FROM toks)
    ),
    c12 AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY w1, w2),
    c1 AS (SELECT w1, sum(c) AS h FROM c12 GROUP BY w1),
    v AS (SELECT count(DISTINCT t) AS vs
          FROM (SELECT unnest(ts) AS t FROM toks)),
    lp AS (
      SELECT c12.w1, c12.w2,
             CAST(round(ln(CAST(c12.c + 1 AS DOUBLE) / (c1.h + v.vs))
                        * 1000000) AS BIGINT) AS lp_micro
      FROM c12 JOIN c1 ON c1.w1 = c12.w1 CROSS JOIN v
    ),
    doc_scores AS (
      SELECT big.doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(-sum(lp.lp_micro) // count(*) AS BIGINT) AS avg_neg_micro
      FROM big JOIN lp ON lp.w1 = big.w1 AND lp.w2 = big.w2
      GROUP BY big.doc_id
    ),
    thresh AS (
      SELECT CAST(sum(avg_neg_micro) // count(*) AS BIGINT) AS cut
      FROM doc_scores
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN s.avg_neg_micro <= th.cut THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN s.avg_neg_micro <= th.cut
                    THEN s.n_bigrams ELSE 0 END) AS BIGINT) AS kept_bigrams,
           CAST(max(th.cut) AS BIGINT) AS cut_micro
    FROM toks t
    JOIN doc_scores s ON s.doc_id = t.doc_id
    CROSS JOIN thresh th
    GROUP BY t.source ORDER BY t.source
    """,
    tags=("text", "lm", "filter", "rewrite", "pipeline"),
)
def perplexity_filter_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-based corpus FILTER — the CCNet recipe closed into a
    rewrite: score every document with the [[ngram_lm_perplexity]]
    bigram model, derive the cut as the corpus MEAN of the per-doc
    average negative log-prob (one integer floor division — an exact,
    engine-stable stand-in for CCNet's head/middle/tail percentile
    cuts), and keep the documents at or below it, reported per source.

    Scale shape: identical to ngram_lm_perplexity through the per-doc
    score table (vocabulary-bounded exchanges, in-row pair generation),
    plus one 1-row broadcast threshold and one source-grain rollup.
    The threshold derives from a SCORE-TABLE aggregate (doc-grain, not
    token-grain), so the second pass costs nothing data-sized.
    """
    d = compute_scan(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", tokenize(F.col("text")).alias("ts")
    )
    ts = F.col("ts")
    big = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.slice(ts, 1, F.greatest(F.size(ts) - 1, F.lit(0))),
                lambda x, i: F.struct(
                    x.alias("w1"), F.element_at(ts, i + 2).alias("w2")
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    c12 = big.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    c1 = c12.groupBy("w1").agg(F.sum("c").alias("h"))
    v = toks.select(F.explode(ts).alias("t")).agg(
        F.countDistinct("t").alias("vs")
    )
    lp = (
        c12.join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "w1",
            "w2",
            F.expr(
                "CAST(round(ln(CAST(c + 1 AS DOUBLE) / (h + vs))"
                " * 1000000) AS BIGINT)"
            ).alias("lp_micro"),
        )
    )
    doc_scores = (
        big.join(lp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.expr("CAST(-sum(lp_micro) div count(*) AS BIGINT)").alias(
                "avg_neg_micro"
            ),
        )
    )
    thresh = doc_scores.agg(
        F.expr("CAST(sum(avg_neg_micro) div count(*) AS BIGINT)").alias("cut")
    )
    kept = F.col("avg_neg_micro") <= F.col("cut")
    return (
        toks.select("doc_id", "source")
        .join(doc_scores, "doc_id")
        .crossJoin(F.broadcast(thresh))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.sum(kept.cast("int")).cast("long").alias("n_kept"),
            F.sum(F.when(kept, F.col("n_bigrams")).otherwise(0))
            .cast("long")
            .alias("kept_bigrams"),
            F.max("cut").cast("long").alias("cut_micro"),
        )
        .orderBy("source")
    )


@register(
    "corpus_entropy_rate",
    oracle_sql=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS ts FROM documents),
    big AS (
      SELECT ts[i] AS w1, ts[i + 1] AS w2
      FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i
            FROM toks)
    ),
    c12 AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY w1, w2),
    c1 AS (SELECT w1, sum(c) AS h FROM c12 GROUP BY w1),
    n AS (SELECT sum(c) AS nb FROM c12)
    SELECT CAST(max(n.nb) AS BIGINT) AS n_bigrams,
           CAST(count(*) AS BIGINT) AS vocab_bigrams,
           CAST(-sum(c12.c * CAST(round(ln(CAST(c12.c AS DOUBLE) / c1.h)
                                        * 1000000) AS BIGINT)) // max(n.nb)
                AS BIGINT) AS cond_entropy_micro,
           CAST(-sum(CASE WHEN c12.w2 = first_w2.mw THEN
                   c1.h * CAST(round(ln(CAST(c1.h AS DOUBLE) / n.nb)
                                     * 1000000) AS BIGINT) ELSE 0 END)
                // max(n.nb) AS BIGINT) AS history_entropy_micro
    FROM c12
    JOIN c1 ON c1.w1 = c12.w1
    JOIN (SELECT w1, min(w2) AS mw FROM c12 GROUP BY w1) first_w2
      ON first_w2.w1 = c12.w1
    CROSS JOIN n
    """,
    tags=("text", "lm", "entropy", "pipeline"),
)
def corpus_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram entropy rate H(w₂|w₁) = -Σ p(w₁,w₂)·ln p(w₂|w₁),
    plus the history entropy H(w₁) — the information-theoretic
    compressibility summary of the corpus ([[ngram_lm_perplexity]]
    scores DOCUMENTS against the model; this scores the MODEL itself,
    the number a tokenizer/LM capacity plan starts from).

    Exactness: each conditional log is frozen to micro-nats at the
    BIGRAM-VOCABULARY grain, weighted by its integer count, negated
    before the floor division (cookbook rule for negative log sums).
    The history term weights each w₁ exactly once via the min-w₂
    marker row — no separate unigram pass, no double count.

    Scale shape: the corpus collapses to the bigram-count table in one
    map-side-combined aggregate; every later join (history counts,
    marker rows) is vocabulary-grain, and the total rides a 1-row
    broadcast.  Output is a single row at any corpus size.
    """
    d = compute_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("ts"))
    ts = F.col("ts")
    big = toks.select(
        F.explode(
            F.transform(
                F.slice(ts, 1, F.greatest(F.size(ts) - 1, F.lit(0))),
                lambda x, i: F.struct(
                    x.alias("w1"), F.element_at(ts, i + 2).alias("w2")
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    c12 = big.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    c1 = c12.groupBy("w1").agg(F.sum("c").alias("h"))
    first_w2 = c12.groupBy("w1").agg(F.min("w2").alias("mw"))
    n = c12.agg(F.sum("c").alias("nb"))
    return (
        c12.join(c1, "w1")
        .join(first_w2, "w1")
        .crossJoin(F.broadcast(n))
        .agg(
            F.max("nb").cast("long").alias("n_bigrams"),
            F.count("*").cast("long").alias("vocab_bigrams"),
            F.expr(
                "CAST(-sum(c * CAST(round(ln(CAST(c AS DOUBLE) / h)"
                " * 1000000) AS BIGINT)) div max(nb) AS BIGINT)"
            ).alias("cond_entropy_micro"),
            F.expr(
                "CAST(-sum(CASE WHEN w2 = mw THEN"
                " h * CAST(round(ln(CAST(h AS DOUBLE) / nb)"
                " * 1000000) AS BIGINT) ELSE 0 END) div max(nb) AS BIGINT)"
            ).alias("history_entropy_micro"),
        )
    )


# Inter-rater agreement: two independent rule-based quality raters,
# thresholded at their fixture medians so both split the corpus
# roughly in half (a degenerate all-agree table would make kappa
# undefined).  Rater A = English-stopword share; rater B = type-token
# ratio.  Swap in any learned scorer pair — the contract is the 2x2
# table + chance-corrected agreement, not the raters.
KAPPA_STOP_BP = 540
KAPPA_TTR_BP = 4600


@register(
    "cohen_kappa_agreement",
    oracle_sql=f"""
    WITH rated AS (
      SELECT CASE WHEN len(list_intersect(ts,
                       ['the','a','and','of','to','is','fast','slow']))
                    * 10000 // len(ts) >= {KAPPA_STOP_BP}
             THEN 1 ELSE 0 END AS ra,
             CASE WHEN len(list_distinct(ts)) * 10000 // len(ts)
                    >= {KAPPA_TTR_BP}
             THEN 1 ELSE 0 END AS rb
      FROM (SELECT {_TOK} AS ts FROM documents)
      WHERE len(ts) > 0
    ),
    cells AS (
      SELECT count(*) AS n,
             sum(ra * rb) AS n11,
             sum(ra * (1 - rb)) AS n10,
             sum((1 - ra) * rb) AS n01,
             sum((1 - ra) * (1 - rb)) AS n00
      FROM rated
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n11 AS BIGINT) AS n11,
           CAST(n10 AS BIGINT) AS n10,
           CAST(n01 AS BIGINT) AS n01,
           CAST(n00 AS BIGINT) AS n00,
           CAST((n11 + n00) * 1000000 // n AS BIGINT) AS po_ppm,
           CAST((CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
                 + CAST(n01 + n00 AS HUGEINT) * (n10 + n00))
                * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm,
           CAST(round(
             (CAST(n11 + n00 AS DOUBLE) / n
              - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                 + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
                / (CAST(n AS DOUBLE) * n))
             / (1 - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                     + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
                    / (CAST(n AS DOUBLE) * n))
             * 1000) AS BIGINT) AS kappa_milli
    FROM cells
    """,
    tags=("text", "annotation", "agreement", "pipeline"),
)
def cohen_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent rule-based document raters
    (rater A: English-stopword share >= {KAPPA_STOP_BP} bp; rater B:
    type-token ratio >= {KAPPA_TTR_BP} bp) — the inter-annotator
    agreement statistic every human- or LLM-labeled preference/quality
    set reports before its labels train a reward model ([[
    preference_pair_construction]] consumes such labels; [[
    langid_confusion_matrix]] is the same discipline for one labeler
    vs truth).  Kappa corrects raw agreement p_o for the agreement
    p_e two independent raters would reach by chance from their
    marginal rates.

    Exactness: the 2x2 table is exact integer counts; p_o/p_e are ppm
    floor divisions — the p_e marginal products (~n^2 * 1e6) route
    through DECIMAL(38,0) / HUGEINT so they stay exact past the ~3e6-doc
    BIGINT wrap point ([[cvm_two_sample_binned]] headroom rule); kappa
    is ONE pinned double expression over the exact counts, frozen to
    milli ([[welch_t_test_pairs]] rule).

    Scale shape: a narrow per-row map (two threshold bits) into a
    single map-side-combined 1-row aggregate — scan-bound, no shuffle
    beyond the 4-cell partial merge.
    """
    d = compute_scan(spark, sf_dir, "documents")
    ts = F.col("ts")
    rated = (
        d.select(tokenize(F.col("text")).alias("ts"))
        .filter(F.size(ts) > 0)
        .select(
            F.when(
                F.expr(
                    "CAST(size(array_intersect(ts, array('the','a','and','of','to','is','fast','slow'))) AS BIGINT)"
                    f" * 10000 div size(ts) >= {KAPPA_STOP_BP}"
                ),
                1,
            )
            .otherwise(0)
            .alias("ra"),
            F.when(
                F.expr(f"CAST(size(array_distinct(ts)) AS BIGINT) * 10000 div size(ts) >= {KAPPA_TTR_BP}"),
                1,
            )
            .otherwise(0)
            .alias("rb"),
        )
    )
    cells = rated.agg(
        F.count("*").alias("n"),
        F.sum(F.col("ra") * F.col("rb")).alias("n11"),
        F.sum(F.col("ra") * (1 - F.col("rb"))).alias("n10"),
        F.sum((1 - F.col("ra")) * F.col("rb")).alias("n01"),
        F.sum((1 - F.col("ra")) * (1 - F.col("rb"))).alias("n00"),
    )
    return cells.select(
        F.col("n").cast("long").alias("n"),
        F.col("n11").cast("long").alias("n11"),
        F.col("n10").cast("long").alias("n10"),
        F.col("n01").cast("long").alias("n01"),
        F.col("n00").cast("long").alias("n00"),
        F.expr("CAST((n11 + n00) * 1000000 div n AS BIGINT)").alias("po_ppm"),
        F.expr(
            "CAST((CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)"
            " + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00))"
            " * 1000000 div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("pe_ppm"),
        F.expr(
            "CAST(round("
            " (CAST(n11 + n00 AS DOUBLE) / n"
            "  - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)"
            "     + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))"
            "    / (CAST(n AS DOUBLE) * n))"
            " / (1 - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)"
            "         + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))"
            "        / (CAST(n AS DOUBLE) * n))"
            " * 1000) AS BIGINT)"
        ).alias("kappa_milli"),
    )


# Fill-in-the-middle: FIM_RATE_PCT% of documents are reordered into
# prefix/suffix/middle (PSM) form; two md5(doc_id) draws pick the cut
# points.  SantaCoder/InCoder-style FIM keeps the rest verbatim so the
# model sees both objectives.
FIM_RATE_PCT = 50


@register(
    "fim_transformation",
    oracle_sql=f"""
    WITH toks AS (
      SELECT doc_id, {_TOK} AS ts FROM documents
      WHERE len({_TOK}) > 0
    ),
    cut AS (
      SELECT doc_id, ts,
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_fim'),
                                           1, 4) AS BIGINT) % 100 < {FIM_RATE_PCT}
                  THEN 1 ELSE 0 END AS is_fim,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_c1'), 1, 4)
                  AS BIGINT) % (len(ts) + 1) AS h1,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_c2'), 1, 4)
                  AS BIGINT) % (len(ts) + 1) AS h2
      FROM toks
    ),
    shaped AS (
      SELECT doc_id, ts, is_fim,
             is_fim * least(h1, h2) AS c1,
             is_fim * greatest(h1, h2) AS c2
      FROM cut
    )
    SELECT doc_id,
           CAST(len(ts) AS BIGINT) AS n_tokens,
           CAST(is_fim AS BIGINT) AS is_fim,
           CAST(c1 AS BIGINT) AS cut1,
           CAST(c2 AS BIGINT) AS cut2,
           CAST(is_fim * (c2 - c1) AS BIGINT) AS n_middle,
           CASE WHEN is_fim = 1 THEN array_to_string(
                  ['<fim_prefix>'] || list_slice(ts, 1, c1)
                  || ['<fim_suffix>'] || list_slice(ts, c2 + 1, len(ts))
                  || ['<fim_middle>'] || list_slice(ts, c1 + 1, c2), ' ')
                ELSE array_to_string(ts, ' ') END AS fim_text
    FROM shaped
    """,
    tags=("text", "masking", "fim", "pipeline"),
)
def fim_transformation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle (FIM) example generation: {FIM_RATE_PCT}% of
    documents (an md5(doc_id) draw) are reordered into PSM form —
    <fim_prefix> P <fim_suffix> S <fim_middle> M, where two md5 draws
    over 0..n_tokens pick the middle span [c1, c2) — and the rest pass
    through verbatim, the mixed objective code models train with
    (Bavarian et al.'s "FIM-rate" transform).  The document-level
    counterpart of [[span_corruption_masking]] (T5 spans) and
    [[mlm_token_masking]] (BERT positions), with the same no-RNG
    discipline: every decision replays bit-identically on any engine,
    partitioning, or retry.

    Scale shape: pure in-row array slicing on the materialized token
    column — one narrow map, no shuffle.  cut1/cut2/n_middle pin the
    span choice and fim_text pins the reassembly, so a single flipped
    hash bucket or off-by-one slice fails the oracle.
    """
    d = compute_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("ts")).filter(
        F.size("ts") > 0
    )

    def _h(tag: str) -> Column:
        return F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(tag))), 1, 4
            ),
            16,
            10,
        ).cast("long")

    n = F.size(F.col("ts")).cast("long")
    cut = toks.select(
        "doc_id",
        "ts",
        F.when(_h("_fim") % 100 < FIM_RATE_PCT, 1).otherwise(0).alias("is_fim"),
        (_h("_c1") % (n + 1)).alias("h1"),
        (_h("_c2") % (n + 1)).alias("h2"),
    )
    shaped = cut.select(
        "doc_id",
        "ts",
        "is_fim",
        (F.col("is_fim") * F.least("h1", "h2")).alias("c1"),
        (F.col("is_fim") * F.greatest("h1", "h2")).alias("c2"),
    )
    ts = F.col("ts")
    c1 = F.col("c1")
    c2 = F.col("c2")
    fim_toks = F.concat(
        F.array(F.lit("<fim_prefix>")),
        F.slice(ts, 1, c1.cast("int")),
        F.array(F.lit("<fim_suffix>")),
        F.slice(ts, (c2 + 1).cast("int"), F.size(ts)),
        F.array(F.lit("<fim_middle>")),
        F.slice(ts, (c1 + 1).cast("int"), (c2 - c1).cast("int")),
    )
    return shaped.select(
        "doc_id",
        F.size(ts).cast("long").alias("n_tokens"),
        F.col("is_fim").cast("long").alias("is_fim"),
        c1.cast("long").alias("cut1"),
        c2.cast("long").alias("cut2"),
        (F.col("is_fim") * (c2 - c1)).cast("long").alias("n_middle"),
        F.when(F.col("is_fim") == 1, F.concat_ws(" ", fim_toks))
        .otherwise(F.concat_ws(" ", ts))
        .alias("fim_text"),
    )


@register(
    "tokenizer_fertility_stats",
    oracle_sql=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOK} AS ts FROM documents
    ),
    per_doc AS (
      SELECT source,
             CAST(len(ts) AS BIGINT) AS n_toks,
             CAST(coalesce(list_sum(list_transform(ts, t -> length(t))), 0)
                  AS BIGINT) AS tok_chars
      FROM toks
    ),
    vocab AS (
      SELECT source, count(DISTINCT t) AS vocab
      FROM (SELECT source, unnest(ts) AS t FROM toks)
      GROUP BY source
    )
    SELECT p.source,
           count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           CAST(sum(tok_chars) AS BIGINT) AS token_chars,
           CAST(max(v.vocab) AS BIGINT) AS vocab,
           CAST(sum(tok_chars) * 1000 // sum(n_toks) AS BIGINT)
             AS chars_per_token_milli,
           CAST(sum(n_toks) * 1000 // count(*) AS BIGINT)
             AS tokens_per_doc_milli,
           CAST(sum(n_toks) * 1000 // max(v.vocab) AS BIGINT)
             AS token_type_ratio_milli
    FROM per_doc p JOIN vocab v ON v.source = p.source
    GROUP BY p.source
    """,
    tags=("text", "tokenizer", "pipeline"),
)
def tokenizer_fertility_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility report per source: chars-per-token (the
    inverse-fertility number tokenizer comparisons are decided on),
    tokens-per-doc, and the corpus-level token/type ratio.  This is the
    table you regenerate for each tokenizer candidate
    ([[tokenizer_apply_bpe]] swaps the tokenizer; [[vocab_coverage_topk]]
    reports the coverage side) before committing a vocabulary to a
    training run — a source whose chars/token is far off the corpus
    mean is the one whose text the tokenizer fragments.

    Exactness: token character totals come from an integer fold over
    per-token lengths (no whitespace arithmetic assumptions), and every
    ratio is a milli-scaled non-negative integer floor division.

    Scale shape: the per-doc branch is a map + source-grain aggregate
    (map-side combined); the vocabulary branch is one distinct over
    (source, token) — token-vocabulary-grain, the same shuffle class as
    every LM op here — then a source-grain count.  The final join is
    source-grain (tiny), broadcast by AQE.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", tokenize(F.col("text")).alias("ts"))
    per_doc = toks.select(
        "source",
        F.size("ts").cast("long").alias("n_toks"),
        F.aggregate(
            F.transform(F.col("ts"), F.length),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("tok_chars"),
    )
    vocab = (
        toks.select("source", F.explode("ts").alias("t"))
        .distinct()
        .groupBy("source")
        .agg(F.count("*").alias("vocab"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.sum("tok_chars").cast("long").alias("token_chars"),
        )
        .join(vocab, "source")
        .selectExpr(
            "source",
            "n_docs",
            "n_tokens",
            "token_chars",
            "CAST(vocab AS BIGINT) AS vocab",
            "CAST(token_chars * 1000 div n_tokens AS BIGINT)"
            " AS chars_per_token_milli",
            "CAST(n_tokens * 1000 div n_docs AS BIGINT)"
            " AS tokens_per_doc_milli",
            "CAST(n_tokens * 1000 div vocab AS BIGINT)"
            " AS token_type_ratio_milli",
        )
    )


# n-gram novelty: order of the shingle and the ppm basis.
NOVELTY_N = 2


@register(
    "ngram_novelty_score",
    oracle_sql=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS ts FROM documents),
    shingles AS (
      SELECT doc_id, unnest(list_distinct({duckdb_ngrams('ts', NOVELTY_N)}))
               AS sh
      FROM toks
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS n_distinct_ngrams FROM shingles GROUP BY doc_id
    ),
    firsts AS (SELECT sh, min(doc_id) AS first_doc FROM shingles GROUP BY sh),
    novel AS (
      SELECT first_doc AS doc_id, count(*) AS nn FROM firsts GROUP BY first_doc
    )
    SELECT per_doc.doc_id,
           n_distinct_ngrams,
           CAST(coalesce(nn, 0) AS BIGINT) AS novel_ngrams,
           CAST(coalesce(nn, 0) * 1000000 // n_distinct_ngrams AS BIGINT)
             AS novelty_ppm
    FROM per_doc LEFT JOIN novel USING (doc_id)
    """,
    tags=("text", "dedup", "scoring", "pipeline"),
)
def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction (in ppm) of a
    document's distinct {NOVELTY_N}-grams whose FIRST corpus occurrence
    (min doc_id — the fixture's stand-in for ingestion order) is this
    document.  Low novelty means the document is mostly re-treading
    earlier text — the streaming-order complement of
    [[dedup_ngram_jaccard]] (which scores pairs) and the
    memorization-risk screen used when deciding what a later crawl
    snapshot actually adds.  Reference analog: none (LLM-pipeline
    surface per the brief).

    Exactness: all-integer (counts and floor-div ppm) — no float
    anywhere; min(doc_id) is order-insensitive, so any partitioning
    yields the same firsts.

    Scale shape: explode distinct shingles, then TWO map-side-combined
    aggregates — per-doc shingle counts, and shingle-grain min() whose
    winners re-aggregate to a per-doc novel count — joined at DOC
    grain.  A shingle-grain join of the firsts table back onto the
    exploded shingles (the naive form) would shuffle the full shingle
    table twice; counting firsts per winner doc first makes the join
    input doc-grain (measured 21.3 s -> ~3 s at sf0.1).  Nothing
    quadratic, nothing corpus-sized on one node.  At 100 TB with a
    true ingestion timestamp, swap min(doc_id) for the
    min(struct(ingest_ts, doc_id)) argmin — the plan is unchanged.
    """
    d = compute_scan(spark, sf_dir, "documents")
    # bind the token array to a column BEFORE the n-gram HOF — ngrams()
    # reads its input once per gram element, and feeding the raw
    # tokenize() expression re-runs the regex per gram (the skipgram
    # rule, docs/SCALING.md Findings; measured 13.7x -> linear at 32x)
    toks = d.select("doc_id", tokenize(F.col("text")).alias("ts"))
    shingles = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(ngrams(F.col("ts"), NOVELTY_N))
        ).alias("sh"),
    )
    per_doc = shingles.groupBy("doc_id").agg(
        F.count("*").alias("n_distinct_ngrams")
    )
    novel = (
        shingles.groupBy("sh")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("nn"))
    )
    return per_doc.join(novel, "doc_id", "left").selectExpr(
        "doc_id",
        "n_distinct_ngrams",
        "CAST(coalesce(nn, 0) AS BIGINT) AS novel_ngrams",
        "CAST(coalesce(nn, 0) * 1000000 div n_distinct_ngrams AS BIGINT)"
        " AS novelty_ppm",
    )


@register(
    "feature_hash_collision_stats",
    oracle_sql=f"""
    WITH tok AS (
      SELECT unnest({_TOK}) AS t FROM documents
    ),
    vocab AS (
      SELECT t, count(*) AS occ FROM tok GROUP BY t
    ),
    bucketed AS (
      SELECT CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % {HASH_DIM} AS dim,
             occ
      FROM vocab
    )
    SELECT dim,
           count(*) AS n_tokens,
           CAST(sum(occ) AS BIGINT) AS n_occurrences,
           count(*) > 1 AS has_collision
    FROM bucketed GROUP BY dim ORDER BY dim
    """,
    tags=("text", "features", "pipeline"),
)
def feature_hash_collision_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collision audit for the hashing trick: per feature dimension,
    how many DISTINCT vocabulary tokens fold into it and how much
    occurrence mass they carry — the diagnostic that tells you whether
    [[hashing_trick_features]]'s fixed dimensionality is destroying
    signal (many heavy tokens sharing a bucket) or safely sparse, and
    therefore whether to grow HASH_DIM before a 100 TB featurize run.
    Reference analog: the word->count reducer of
    /root/reference/src/main.c:61-75, re-keyed by hash bucket.

    Scale shape: one token-grain aggregate builds the vocabulary (the
    same vocabulary-sized shuffle [[tfidf_top_terms]] pays — never
    broadcast), then the bucket fold is an in-row map and the final
    aggregate is HASH_DIM rows.  Nothing doc-grain survives the first
    combine-heavy groupBy.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tokenize(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("occ"))
    )
    dim = (
        F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("long")
        % HASH_DIM
    )
    return (
        vocab.select(dim.alias("dim"), "occ")
        .groupBy("dim")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("occ").cast("long").alias("n_occurrences"),
            (F.count("*") > 1).alias("has_collision"),
        )
        .orderBy("dim")
    )


# Kneser-Ney absolute discount (the KenLM default family); 0.75 is the
# textbook discount, written as the exact double 3/4 in both engines.
KN_DISCOUNT = 0.75


@register(
    "kneser_ney_bigram_lm",
    oracle_sql=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS ts FROM documents),
    big AS (
      SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
      FROM (SELECT doc_id, ts,
                   unnest(generate_series(1, len(ts) - 1)) AS i
            FROM toks)
    ),
    c12 AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY w1, w2),
    hist AS (
      SELECT w1, sum(c) AS h, count(*) AS n1f FROM c12 GROUP BY w1
    ),
    cont AS (SELECT w2, count(*) AS n1b FROM c12 GROUP BY w2),
    tt AS (SELECT count(*) AS t FROM c12),
    lp AS (
      SELECT c12.w1, c12.w2,
             CAST(round(ln(
               (greatest(CAST(c12.c AS DOUBLE) - {KN_DISCOUNT}, 0.0)
                + {KN_DISCOUNT} * hist.n1f * cont.n1b / tt.t)
               / hist.h) * 1000000) AS BIGINT) AS lp_micro
      FROM c12
      JOIN hist ON hist.w1 = c12.w1
      JOIN cont ON cont.w2 = c12.w2
      CROSS JOIN tt
    )
    SELECT big.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(-sum(lp.lp_micro) AS BIGINT) AS neg_logprob_micro,
           CAST(-sum(lp.lp_micro) // count(*) AS BIGINT)
             AS avg_neg_logprob_micro
    FROM big JOIN lp ON lp.w1 = big.w1 AND lp.w2 = big.w2
    GROUP BY big.doc_id
    """,
    tags=("text", "lm", "scoring", "kneser-ney", "pipeline"),
)
def kneser_ney_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney-smoothed bigram LM scoring per document — the
    production smoothing family (KenLM's default) next to
    [[ngram_lm_perplexity]]'s add-one baseline: absolute discount
    D={KN_DISCOUNT} with CONTINUATION-count backoff,
    p(w2|w1) = (max(c12-D, 0) + D*N1+(w1,*)*Pcont(w2)) / h(w1),
    Pcont(w2) = N1+(*,w2) / |bigram types| — the "how many contexts
    does w2 complete" signal that makes KN outrank raw-frequency
    backoff for quality filtering.

    Exactness: every model quantity (c12, h, N1+ forward/backward,
    type total) is an exact integer at the bigram-TYPE grain; the
    probability is ONE pinned double expression over them, frozen to
    integer micro-nats before the per-doc sum ([[ngram_lm_perplexity]]
    discipline) — so per-doc sums are order-free integer adds.

    Scale shape: identical exchange plan to the add-one LM (bigram
    stream -> type-grain counts -> type-grain shuffle joins back to
    the stream) plus two extra vocab-grain aggregates (forward and
    backward continuation counts) and one 1-row type-total broadcast.
    Nothing new shuffles at corpus grain.

    Reference analog: none (LLM-pipeline surface per the brief; smoothing per Kneser & Ney / KenLM).
    """
    d = compute_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("ts"))
    ts = F.col("ts")
    big = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.slice(ts, 1, F.greatest(F.size(ts) - 1, F.lit(0))),
                lambda x, i: F.struct(
                    x.alias("w1"), F.element_at(ts, i + 2).alias("w2")
                ),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    c12 = big.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    hist = c12.groupBy("w1").agg(
        F.sum("c").alias("h"), F.count("*").alias("n1f")
    )
    cont = c12.groupBy("w2").agg(F.count("*").alias("n1b"))
    tt = c12.agg(F.count("*").alias("t"))
    lp = (
        c12.join(hist, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tt))
        .select(
            "w1",
            "w2",
            # D suffixes: a bare 0.75 literal parses as DECIMAL in Spark
            # SQL, dragging the whole mixture term through decimal
            # division (wrong scale, wrong rounding) — the oracle parses
            # it as double, so every probability diverged at ~1e-10.
            F.expr(
                f"CAST(round(ln("
                f"(greatest(CAST(c AS DOUBLE) - {KN_DISCOUNT}D, 0.0D)"
                f" + {KN_DISCOUNT}D * n1f * n1b / t)"
                f" / h) * 1000000) AS BIGINT)"
            ).alias("lp_micro"),
        )
    )
    return (
        big.join(lp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            (-F.sum("lp_micro")).cast("long").alias("neg_logprob_micro"),
            F.expr(
                "CAST(-sum(lp_micro) div count(*) AS BIGINT)"
            ).alias("avg_neg_logprob_micro"),
        )
    )


@register(
    "quality_signal_ensemble_rank",
    oracle_sql=f"""
    WITH scored AS (
      SELECT doc_id,
             len(list_intersect(ts, ['the','a','and','of','to','is','fast','slow']))
               * 10000 // len(ts) AS s1,
             len(list_distinct(ts)) * 10000 // len(ts) AS s2,
             list_sum(list_transform(ts, t -> length(t))) * 1000
               // len(ts) AS s3
      FROM (SELECT doc_id, {_TOK} AS ts FROM documents)
      WHERE len(ts) > 0
    ),
    n AS (SELECT count(*) AS nd FROM scored),
    r1 AS (
      SELECT s1, 2 * sum(count(*)) OVER (ORDER BY s1) - count(*) + 1 AS r
      FROM scored GROUP BY s1
    ),
    r2 AS (
      SELECT s2, 2 * sum(count(*)) OVER (ORDER BY s2) - count(*) + 1 AS r
      FROM scored GROUP BY s2
    ),
    r3 AS (
      SELECT s3, 2 * sum(count(*)) OVER (ORDER BY s3) - count(*) + 1 AS r
      FROM scored GROUP BY s3
    )
    SELECT d.doc_id,
           CAST(d.s1 AS BIGINT) AS s1_bp,
           CAST(d.s2 AS BIGINT) AS s2_bp,
           CAST(d.s3 AS BIGINT) AS s3_milli,
           CAST((r1.r * 500000 // n.nd
                 + r2.r * 500000 // n.nd
                 + r3.r * 500000 // n.nd) // 3 AS BIGINT) AS ensemble_ppm
    FROM scored d
    JOIN r1 USING (s1) JOIN r2 USING (s2) JOIN r3 USING (s3)
    CROSS JOIN n
    """,
    tags=("text", "quality", "ensemble", "pipeline"),
)
def quality_signal_ensemble_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-average quality-signal ENSEMBLE — the way pipelines combine
    incommensurable quality signals (a bp share, a ratio, a length
    statistic) without hand-tuned scale factors: each document's three
    signals (stopword share, type-token ratio, mean token length) are
    converted to corpus PERCENTILES via average ranks and averaged in
    ppm.  Rank-averaging is the ensemble rule behind "aggregate of
    weak quality filters" setups; [[spearman_rank_correlation]] is the
    pre-check that the signals aren't redundant, and the ensemble
    column drops into [[quality_bucket_sample]] / threshold rewrites.

    Exactness: average ranks are kept DOUBLED (2*cum - cnt + 1 — the
    Spearman discipline), so every rank and every ppm percentile is an
    exact integer; the ensemble is a 3-way integer mean.

    Scale shape: one scored scan (cached — it feeds three rank tables
    and the probe side), three VALUE-grain rank tables (bounded by the
    signal domains, not the corpus) broadcast back onto the doc grain,
    and one 1-row count broadcast.  The corpus shuffles zero times; the
    three rank joins are the [[spearman_rank_correlation]] shape.

    Reference analog: none (LLM-pipeline surface per the brief).
    """
    d = compute_scan(spark, sf_dir, "documents")
    scored = (
        d.select("doc_id", tokenize(F.col("text")).alias("ts"))
        .filter(F.size("ts") > 0)
        .select(
            "doc_id",
            F.expr(
                "CAST(size(array_intersect(ts,"
                " array('the','a','and','of','to','is','fast','slow')))"
                " AS BIGINT) * 10000 div size(ts)"
            ).alias("s1"),
            F.expr(
                "CAST(size(array_distinct(ts)) AS BIGINT) * 10000 div size(ts)"
            ).alias("s2"),
            F.expr(
                "aggregate(ts, 0L, (acc, t) -> acc + length(t)) * 1000"
                " div size(ts)"
            ).alias("s3"),
        )
        .cache()
    )
    n = scored.agg(F.count("*").alias("nd"))

    def rank_table(col: str) -> DataFrame:
        from pyspark.sql.window import Window

        vg = scored.groupBy(col).agg(F.count("*").alias("cnt"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        return vg.select(
            col, (2 * F.sum("cnt").over(w) - F.col("cnt") + 1).alias(f"r_{col}")
        )

    return (
        scored.join(F.broadcast(rank_table("s1")), "s1")
        .join(F.broadcast(rank_table("s2")), "s2")
        .join(F.broadcast(rank_table("s3")), "s3")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("s1").cast("long").alias("s1_bp"),
            F.col("s2").cast("long").alias("s2_bp"),
            F.col("s3").cast("long").alias("s3_milli"),
            F.expr(
                "CAST((r_s1 * 500000 div nd"
                " + r_s2 * 500000 div nd"
                " + r_s3 * 500000 div nd) div 3 AS BIGINT)"
            ).alias("ensemble_ppm"),
        )
    )


# Count-min sketch geometry: D independent md5-derived hash rows of W
# counters each, probed for the exact top-K tokens.  W=16 is sized to the
# fixture's ~31-token vocabulary so counter collisions — the thing the
# audit measures — actually occur; production widens W with the expected
# distinct count (error ~ N/W per the CM bound), which only LOWERS the
# one-sided overcount this op reports.
CM_D = 4
CM_W = 16
CM_TOPK = 20


@register(
    "count_min_sketch_tokens",
    oracle_sql=f"""
    WITH tok AS (
      SELECT unnest({_TOK}) AS t FROM documents
    ),
    cells AS (
      SELECT j,
             CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '_' || t), 1, 8)
                  AS BIGINT) % {CM_W} AS col,
             count(*) AS n
      FROM tok, (SELECT unnest(generate_series(0, {CM_D - 1})) AS j)
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT t, count(*) AS exact_count FROM tok GROUP BY t
      ORDER BY exact_count DESC, t ASC LIMIT {CM_TOPK}
    ),
    probes AS (
      SELECT e.t, e.exact_count, j.j,
             CAST('0x' || substr(md5(CAST(j.j AS VARCHAR) || '_' || e.t), 1, 8)
                  AS BIGINT) % {CM_W} AS col
      FROM exact e, (SELECT unnest(generate_series(0, {CM_D - 1})) AS j) j
    )
    SELECT p.t AS token,
           CAST(max(p.exact_count) AS BIGINT) AS exact_count,
           CAST(min(c.n) AS BIGINT) AS cm_estimate,
           CAST(min(c.n) - max(p.exact_count) AS BIGINT) AS overcount
    FROM probes p JOIN cells c ON c.j = p.j AND c.col = p.col
    GROUP BY p.t
    """,
    tags=("sketch", "approx", "heavy-hitters", "pipeline"),
)
def count_min_sketch_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch built IN-ENGINE ({CM_D} md5-derived hash rows x
    {CM_W} counters — a {CM_D * CM_W}-cell integer matrix, mergeable by
    cell-wise addition) and audited against exact counts for the top
    {CM_TOPK} tokens: estimate = min over rows of the hashed cell, and
    the one-sided error (CM never undercounts) is reported per probe.
    Complements the library sketches ([[hll_sketch_mergeable]] for
    distinct, [[approx_heavy_hitters]] for approx_top_k) with a sketch
    whose every counter is visible and oracle-checkable — the
    constant-memory frequency structure a streaming pipeline keeps per
    shard and merges at the coordinator.  Reference analog: none
    (LLM-pipeline surface per the brief; structure per Cormode &
    Muthukrishnan).

    Exactness: all integers — cell counts are exact sums, the estimate
    is an integer min, and the probe set is pinned by a total order
    (count DESC, token ASC).

    Scale shape: the sketch build is a map-side-combined groupBy over
    {CM_D}x the token stream onto {CM_D * CM_W} cells — constant-size
    output at any corpus; probes are {CM_TOPK * CM_D} rows joined
    against the broadcast cell table.  One vocab-grain exchange for the
    exact side (the audit; production would probe without it).
    """
    d = parallel_scan(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokenize(F.col("text"))).alias("t"))

    def col_for(j, t):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{j}_"), t)), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % CM_W
        )

    cells = (
        tok.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            col_for(j, F.col("t")).alias("col"),
                        )
                        for j in range(CM_D)
                    ]
                )
            ).alias("jc")
        )
        .select(F.col("jc.j").alias("j"), F.col("jc.col").alias("col"))
        .groupBy("j", "col")
        .agg(F.count("*").alias("n"))
    )
    exact = (
        tok.groupBy("t")
        .agg(F.count("*").alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("t"))
        .limit(CM_TOPK)
    )
    probes = exact.select(
        "t",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        col_for(j, F.col("t")).alias("col"),
                    )
                    for j in range(CM_D)
                ]
            )
        ).alias("jc"),
    ).select("t", "exact_count", F.col("jc.j").alias("j"), F.col("jc.col").alias("col"))
    return (
        probes.join(F.broadcast(cells), ["j", "col"])
        .groupBy(F.col("t").alias("token"))
        .agg(
            F.max("exact_count").cast("long").alias("exact_count"),
            F.min("n").cast("long").alias("cm_estimate"),
            (F.min("n") - F.max("exact_count"))
            .cast("long")
            .alias("overcount"),
        )
    )


# --- Round 9: character-error-rate generation eval ----------------------
#
# "Generation" is a deterministic corruption of the canonical reference
# (every 7th token dropped), so the eval harness — pairing, edit
# distance, ppm normalization, corpus rollup — is real and oracle-
# checkable without a model in the container.
CER_DROP_MOD = 7  # drop tokens at 1-based positions ≡ 0 (mod 7)


@register(
    "generation_cer_eval",
    oracle_sql=f"""
    WITH toks AS (
      SELECT doc_id, {{tok}} AS ts FROM documents
    ),
    pairs AS (
      SELECT doc_id,
             list_aggregate(ts, 'string_agg', ' ') AS ref,
             list_aggregate(
               list_filter(ts, (t, i) -> i % {CER_DROP_MOD} <> 0),
               'string_agg', ' ') AS gen
      FROM toks WHERE len(ts) > 0
    )
    SELECT doc_id,
           CAST(length(ref) AS BIGINT) AS ref_len,
           CAST(levenshtein(coalesce(gen, ''), ref) AS BIGINT) AS lev_dist,
           CAST(levenshtein(coalesce(gen, ''), ref) * 1000000 // length(ref)
                AS BIGINT) AS cer_ppm
    FROM pairs
    """.format(tok=_TOK),
    tags=("text", "eval", "cer", "pipeline"),
)
def generation_cer_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-error-rate eval between a generation and its reference:
    per document, CER = levenshtein(gen, ref) / |ref| in ppm, over the
    canonical token-joined reference and a deterministic corruption
    (every {CER_DROP_MOD}th token dropped) standing in for model output
    — the ASR/OCR/generation-fidelity metric, built on the SAME
    engine-native unit-cost edit distance both engines ship, and the
    doc-grain table a [[poisson_bootstrap_mean]]-style rollup would
    summarize with confidence intervals.

    Scale shape: entirely in-row (tokenize, rebuild, one levenshtein
    per document) — zero shuffles; output is doc-grain.  The DP is
    quadratic in DOCUMENT length, bounded by the corpus max-doc cap
    (553 chars here; a real pipeline gates [[gopher_quality_rules]]
    length limits upstream), never by corpus size — the classic
    embarrassingly-parallel eval map.

    Reference analog: none (LLM-pipeline eval surface per the brief).
    """
    d = compute_scan(spark, sf_dir, "documents")
    ts = tokenize(F.col("text"))
    pairs = (
        d.select("doc_id", ts.alias("ts"))
        .filter(F.size("ts") > 0)
        .select(
            "doc_id",
            F.array_join("ts", " ").alias("ref"),
            F.array_join(
                F.filter("ts", lambda t, i: (i + 1) % CER_DROP_MOD != 0), " "
            ).alias("gen"),
        )
    )
    lev = F.levenshtein(F.coalesce("gen", F.lit("")), F.col("ref"))
    return pairs.select(
        "doc_id",
        F.length("ref").cast("long").alias("ref_len"),
        lev.cast("long").alias("lev_dist"),
        F.expr(
            "CAST(levenshtein(coalesce(gen, ''), ref) * 1000000"
            " div length(ref) AS BIGINT)"
        ).alias("cer_ppm"),
    )


@register(
    "brier_score_decomposition",
    oracle_sql=f"""
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             len(list_intersect(ts, ['the','a','and','of','to','is','fast','slow']))
               * 10000 // len(ts) AS score_bp
      FROM (SELECT lang, {{tok}} AS ts FROM documents)
      WHERE len(ts) > 0
    ),
    tot AS (
      SELECT count(*) AS n, sum(y) AS npos,
             sum(CAST(score_bp - 10000 * y AS HUGEINT)
                 * (score_bp - 10000 * y)) AS sdd
      FROM scored
    ),
    bins AS (
      SELECT least(score_bp // {CAL_BIN_BP}, {CAL_NBINS - 1}) AS bin,
             count(*) AS nk, sum(score_bp) AS sk, sum(y) AS hk
      FROM scored GROUP BY 1
    ),
    terms AS (
      SELECT t.n, t.npos, t.sdd,
             b.sk * 100 // b.nk - b.hk * 1000000 // b.nk AS rel_d,
             b.hk * 1000000 // b.nk - t.npos * 1000000 // t.n AS res_d,
             b.nk
      FROM bins b CROSS JOIN tot t
    )
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(max(npos) AS BIGINT) AS n_pos,
           CAST(max(sdd) // (100 * max(n)) AS BIGINT) AS brier_ppm,
           CAST(sum(CAST(rel_d AS HUGEINT) * rel_d * nk)
                // (1000000 * max(n)) AS BIGINT) AS reliability_ppm,
           CAST(sum(CAST(res_d AS HUGEINT) * res_d * nk)
                // (1000000 * max(n)) AS BIGINT) AS resolution_ppm,
           CAST(CAST(max(npos) AS HUGEINT) * (max(n) - max(npos)) * 1000000
                // (CAST(max(n) AS HUGEINT) * max(n)) AS BIGINT)
             AS uncertainty_ppm
    FROM terms
    """.format(tok=_TOK),
    tags=("text", "calibration", "brier", "statistics", "pipeline"),
)
def brier_score_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score for the stopword-share
    quality scorer against the English proxy label: BRIER (mean squared
    error of the probability, exact — no binning) plus the binned
    RELIABILITY (calibration error — how far bin mean scores sit from
    bin event rates), RESOLUTION (how much bin rates spread around the
    base rate — the scorer's discriminative power), and UNCERTAINTY
    (base-rate variance), with brier ≈ reliability - resolution +
    uncertainty up to binning/floor residue.  The one-number companion
    to [[score_calibration_reliability]]'s per-bin diagram: calibration
    dashboards alert on THIS row.

    All-integer ppm: bin means and rates floor to ppm first (<= 1 ppm
    flooring residue, deterministic in both engines), squared terms
    route through DECIMAL(38,0)/HUGEINT (bin counts at 100 TB push the
    rate-squared products past int64), and every division is a
    non-negative-operand floor.

    Scale shape: one narrow per-row map, ONE map-side-combined
    {CAL_NBINS}-cell aggregate plus a 1-row total broadcast onto the
    bin table — the whole decomposition reads the corpus once; windows
    never appear.

    Reference analog: none (LLM-pipeline eval surface per the brief).
    """
    d = compute_scan(spark, sf_dir, "documents")
    ts = F.col("ts")
    scored = (
        d.select("lang", tokenize(F.col("text")).alias("ts"))
        .filter(F.size(ts) > 0)
        .select(
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            (
                F.size(
                    F.array_intersect(
                        ts, F.array(*[F.lit(w) for w in LANG_PROFILES["en"]])
                    )
                )
                * 10000
            ).alias("num"),
            F.size(ts).alias("den"),
        )
        .select("y", F.expr("num div den").alias("score_bp"))
    )
    tot = scored.agg(
        F.count("*").alias("n"),
        F.sum("y").alias("npos"),
        F.sum(
            F.expr(
                "CAST(score_bp - 10000 * y AS DECIMAL(38,0))"
                " * (score_bp - 10000 * y)"
            )
        ).alias("sdd"),
    )
    bins = scored.groupBy(
        F.least(
            F.expr(f"score_bp div {CAL_BIN_BP}"), F.lit(CAL_NBINS - 1)
        ).alias("bin")
    ).agg(
        F.count("*").alias("nk"),
        F.sum("score_bp").alias("sk"),
        F.sum("y").alias("hk"),
    )
    terms = bins.crossJoin(F.broadcast(tot)).select(
        "n",
        "npos",
        "sdd",
        "nk",
        F.expr("sk * 100 div nk - hk * 1000000 div nk").alias("rel_d"),
        F.expr("hk * 1000000 div nk - npos * 1000000 div n").alias("res_d"),
    )
    return terms.agg(
        F.max("n").cast("long").alias("n"),
        F.max("npos").cast("long").alias("n_pos"),
        F.expr("CAST(max(sdd) div (100 * max(n)) AS BIGINT)").alias("brier_ppm"),
        F.expr(
            "CAST(sum(CAST(rel_d AS DECIMAL(38,0)) * rel_d * nk)"
            " div (1000000 * max(n)) AS BIGINT)"
        ).alias("reliability_ppm"),
        F.expr(
            "CAST(sum(CAST(res_d AS DECIMAL(38,0)) * res_d * nk)"
            " div (1000000 * max(n)) AS BIGINT)"
        ).alias("resolution_ppm"),
        F.expr(
            "CAST(CAST(max(npos) AS DECIMAL(38,0)) * (max(n) - max(npos))"
            " * 1000000 div (CAST(max(n) AS DECIMAL(38,0)) * max(n)) AS BIGINT)"
        ).alias("uncertainty_ppm"),
    )


# --- Round 10: ROUGE-N generation-overlap eval ---------------------------
#
# ROUGE-N (Lin 2004): clipped n-gram overlap between a generation and
# its reference.  With o = sum_g min(cnt_gen(g), cnt_ref(g)),
# P = o/|gen_ngrams|, R = o/|ref_ngrams|, and F1 = 2PR/(P+R) =
# 2o/(|gen|+|ref|) — a pure integer closed form, no float division.
# The generation is the same deterministic corruption
# generation_cer_eval uses (every CER_DROP_MOD-th token dropped).


@register(
    "rouge_n_overlap_eval",
    oracle_sql=f"""
    WITH toks AS (
      SELECT doc_id, {{tok}} AS ts FROM documents
    ),
    pairs AS (
      SELECT doc_id, ts AS ref_ts,
             list_filter(ts, (t, i) -> i % {{mod}} <> 0) AS gen_ts
      FROM toks WHERE len(ts) > 0
    ),
    ref1 AS (
      SELECT doc_id, g, count(*) AS c
      FROM (SELECT doc_id, unnest(ref_ts) AS g FROM pairs) GROUP BY 1, 2
    ),
    gen1 AS (
      SELECT doc_id, g, count(*) AS c
      FROM (SELECT doc_id, unnest(gen_ts) AS g FROM pairs) GROUP BY 1, 2
    ),
    ref2 AS (
      SELECT doc_id, g, count(*) AS c
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 list_filter(ref_ts, (t, i) -> i < len(ref_ts)),
                 (t, i) -> t || ' ' || ref_ts[i + 1])) AS g
        FROM pairs
      ) GROUP BY 1, 2
    ),
    gen2 AS (
      SELECT doc_id, g, count(*) AS c
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 list_filter(gen_ts, (t, i) -> i < len(gen_ts)),
                 (t, i) -> t || ' ' || gen_ts[i + 1])) AS g
        FROM pairs
      ) GROUP BY 1, 2
    ),
    m1 AS (
      SELECT r.doc_id, sum(least(r.c, g.c)) AS o
      FROM ref1 r JOIN gen1 g USING (doc_id, g) GROUP BY 1
    ),
    m2 AS (
      SELECT r.doc_id, sum(least(r.c, g.c)) AS o
      FROM ref2 r JOIN gen2 g USING (doc_id, g) GROUP BY 1
    ),
    tot AS (
      SELECT doc_id,
             CAST(len(ref_ts) AS BIGINT) AS r1_ref,
             CAST(len(gen_ts) AS BIGINT) AS r1_gen,
             CAST(greatest(len(ref_ts) - 1, 0) AS BIGINT) AS r2_ref,
             CAST(greatest(len(gen_ts) - 1, 0) AS BIGINT) AS r2_gen
      FROM pairs
    )
    SELECT t.doc_id,
           CAST(coalesce(m1.o, 0) AS BIGINT) AS r1_match,
           t.r1_ref, t.r1_gen,
           CAST(coalesce(m1.o, 0) * 2000000 // (t.r1_ref + t.r1_gen)
                AS BIGINT) AS rouge1_f1_ppm,
           CAST(coalesce(m2.o, 0) AS BIGINT) AS r2_match,
           t.r2_ref, t.r2_gen,
           CAST(CASE WHEN t.r2_ref + t.r2_gen > 0
                     THEN coalesce(m2.o, 0) * 2000000 // (t.r2_ref + t.r2_gen)
                     ELSE 0 END AS BIGINT) AS rouge2_f1_ppm
    FROM tot t
    LEFT JOIN m1 USING (doc_id)
    LEFT JOIN m2 USING (doc_id)
    """.format(tok=_TOK, mod=CER_DROP_MOD),
    tags=("text", "eval", "rouge", "pipeline"),
)
def rouge_n_overlap_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1/ROUGE-2 generation-overlap eval: per document, the
    clipped unigram and bigram overlap between the reference (the
    token-joined text) and a deterministic generation (every
    {CER_DROP_MOD}th token dropped — the [[generation_cer_eval]]
    corruption, so the two metrics grade the SAME pairs), with F1 in
    the integer closed form 2*overlap*1e6 div (|ref|+|gen|) — no float
    path, bit-equal across engines.  Complements the edit-distance
    view: [[generation_cer_eval]] is position-sensitive, ROUGE is
    bag-of-ngrams.

    Scale shape: n-gram counts are (doc_id, gram)-keyed map-side-
    combined aggregates; the clip is a (doc_id, gram) equi-join —
    everything keyed and linear, the doc-grain rollup shares the
    doc_id exchange.  No quadratic stage (vs CER's per-doc DP), so the
    ROUGE pass is the cheap one to run corpus-wide at 100 TB.

    Reference analog: none (LLM-pipeline eval surface per the brief).
    """
    d = compute_scan(spark, sf_dir, "documents")
    ts = tokenize(F.col("text"))
    pairs = (
        d.select("doc_id", ts.alias("ref_ts"))
        .filter(F.size("ref_ts") > 0)
        .select(
            "doc_id",
            "ref_ts",
            F.filter(
                "ref_ts", lambda t, i: (i + 1) % CER_DROP_MOD != 0
            ).alias("gen_ts"),
        )
        # token arrays consumed by four explodes + the totals row
        .cache()
    )

    def _bigrams(col: str):
        return F.expr(
            f"transform(slice({col}, 1, greatest(size({col}) - 1, 0)),"
            f" (t, i) -> concat(t, ' ', element_at({col}, i + 2)))"
        )

    # Both ROUGE levels in ONE pass per side (the BLEU single-explode
    # lever): unigrams and bigrams are tagged with their n and exploded
    # together, collapsing 4 explode+aggregate passes, 2 gram joins,
    # and 2 doc-grain joins into 2 passes, 1 join, 1 doc-grain join.
    # Single-arg lambda: a two-arg one would be read as (element, INDEX).
    def _tag(n):
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))

    def _counts(col_name, alias):
        tagged = F.concat(
            F.transform(F.col(col_name), _tag(1)),
            F.transform(_bigrams(col_name), _tag(2)),
        )
        return (
            pairs.select("doc_id", F.explode(tagged).alias("ng"))
            .select("doc_id", F.col("ng.n").alias("n"), F.col("ng.g").alias("g"))
            .groupBy("doc_id", "n", "g")
            .agg(F.count("*").alias(alias))
        )

    m = (
        _counts("ref_ts", "cr")
        .join(_counts("gen_ts", "cg"), ["doc_id", "n", "g"])
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("n") == 1, F.least("cr", "cg"))).alias("o1"),
            F.sum(F.when(F.col("n") == 2, F.least("cr", "cg"))).alias("o2"),
        )
    )
    tot = pairs.select(
        "doc_id",
        F.size("ref_ts").cast("long").alias("r1_ref"),
        F.size("gen_ts").cast("long").alias("r1_gen"),
        F.greatest(F.size("ref_ts") - 1, F.lit(0))
        .cast("long")
        .alias("r2_ref"),
        F.greatest(F.size("gen_ts") - 1, F.lit(0))
        .cast("long")
        .alias("r2_gen"),
    )
    return (
        tot.join(m, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("o1", F.lit(0)).cast("long").alias("r1_match"),
            "r1_ref",
            "r1_gen",
            F.expr(
                "CAST(coalesce(o1, 0) * 2000000 div (r1_ref + r1_gen)"
                " AS BIGINT)"
            ).alias("rouge1_f1_ppm"),
            F.coalesce("o2", F.lit(0)).cast("long").alias("r2_match"),
            "r2_ref",
            "r2_gen",
            F.expr(
                "CAST(CASE WHEN r2_ref + r2_gen > 0"
                " THEN coalesce(o2, 0) * 2000000 div (r2_ref + r2_gen)"
                " ELSE 0 END AS BIGINT)"
            ).alias("rouge2_f1_ppm"),
        )
    )


# --- Round 10: decision-threshold sweep (F1-optimal operating point) -----
#
# Classifier deployment step: given a quality score and a binary label,
# sweep every realized threshold and report the full operating curve
# plus the F1-argmax row — the "pick the filter cutoff" move every
# quality-classifier pipeline performs after calibration.  The score
# domain is basis points (<= 10001 distinct values), so the sweep table
# is VALUE-grain bounded regardless of corpus size.
_F1_STOPS = "array('the','a','and','of','to','is','fast','slow')"
_F1_STOPS_DUCK = "['the','a','and','of','to','is','fast','slow']"


@register(
    "f1_threshold_sweep",
    oracle_sql=f"""
    WITH scored AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             10000 - CAST(len(list_intersect({{tok}}, {_F1_STOPS_DUCK}))
                          AS BIGINT) * 10000 // len({{tok}}) AS score_bp
      FROM documents WHERE len({{tok}}) > 0
    ),
    grain AS (
      SELECT score_bp,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(count(*) - sum(y) AS BIGINT) AS n_neg
      FROM scored GROUP BY score_bp
    ),
    cum AS (
      SELECT score_bp,
             sum(n_pos) OVER (ORDER BY score_bp DESC
               ROWS UNBOUNDED PRECEDING) AS tp,
             sum(n_neg) OVER (ORDER BY score_bp DESC
               ROWS UNBOUNDED PRECEDING) AS fp,
             sum(n_pos) OVER () AS p
      FROM grain
    ),
    curve AS (
      SELECT score_bp AS threshold_bp,
             CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
             CAST(p - tp AS BIGINT) AS fn,
             CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS precision_ppm,
             CAST(tp * 1000000 // p AS BIGINT) AS recall_ppm,
             CAST(2 * tp * 1000000 // (2 * tp + fp + (p - tp)) AS BIGINT)
               AS f1_ppm
      FROM cum
    )
    SELECT threshold_bp, tp, fp, fn, precision_ppm, recall_ppm, f1_ppm,
           CAST(CASE WHEN {{{{'f': f1_ppm, 't': threshold_bp}}}} =
                  (SELECT max({{{{'f': f1_ppm, 't': threshold_bp}}}})
                   FROM curve)
                THEN 1 ELSE 0 END AS BIGINT) AS is_best
    FROM curve
    """.format(tok=_TOK),
    tags=("text", "eval", "threshold", "classifier", "pipeline"),
)
def f1_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point sweep for a quality filter: every realized score
    threshold with its TP/FP/FN, precision, recall, F1 (ppm) for the
    predict-positive-if-score>=threshold rule against the lang=='en'
    label, plus the F1-argmax flag (ties break to the HIGHEST
    threshold — prefer the stricter filter) — the step that turns
    [[score_calibration_reliability]]'s calibrated score into the
    deployed cutoff a [[quality_classifier_inference]] filter applies.

    Scale shape: one doc-grain scoring map, one map-side-combined
    aggregate onto the SCORE grain (<= 10001 basis-point values —
    bounded at any corpus size), then cumulative windows over that
    bounded value table (the fixed-bin exception to the no-global-
    window rule).  Nothing corpus-sized crosses the curve stage.

    Reference analog: none (LLM-pipeline eval surface per the brief).
    """
    from pyspark.sql.window import Window

    d = compute_scan(spark, sf_dir, "documents")
    ts = tokenize(F.col("text"))
    scored = (
        d.select("doc_id", "lang", ts.alias("ts"))
        .filter(F.size("ts") > 0)
        .select(
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            F.expr(
                f"10000 - CAST(size(array_intersect(ts, {_F1_STOPS}))"
                " AS BIGINT) * 10000 div size(ts)"
            ).alias("score_bp"),
        )
    )
    grain = scored.groupBy("score_bp").agg(
        F.sum("y").cast("long").alias("n_pos"),
        (F.count("*") - F.sum("y")).cast("long").alias("n_neg"),
    )
    w_cum = Window.orderBy(F.desc("score_bp")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    cum = grain.select(
        F.col("score_bp").alias("threshold_bp"),
        F.sum("n_pos").over(w_cum).alias("tp"),
        F.sum("n_neg").over(w_cum).alias("fp"),
        F.sum("n_pos").over(w_all).alias("p"),
    )
    curve = cum.select(
        "threshold_bp",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        (F.col("p") - F.col("tp")).cast("long").alias("fn"),
        F.expr("CAST(tp * 1000000 div (tp + fp) AS BIGINT)").alias(
            "precision_ppm"
        ),
        F.expr("CAST(tp * 1000000 div p AS BIGINT)").alias("recall_ppm"),
        F.expr(
            "CAST(2 * tp * 1000000 div (2 * tp + fp + (p - tp)) AS BIGINT)"
        ).alias("f1_ppm"),
    ).cache()  # bounded value-grain curve, consumed twice (best + emit)
    best = curve.agg(
        F.max(F.struct("f1_ppm", "threshold_bp")).alias("b")
    )
    return curve.crossJoin(F.broadcast(best)).select(
        "threshold_bp",
        "tp",
        "fp",
        "fn",
        "precision_ppm",
        "recall_ppm",
        "f1_ppm",
        F.when(
            F.struct("f1_ppm", "threshold_bp") == F.col("b"), 1
        )
        .otherwise(0)
        .cast("long")
        .alias("is_best"),
    )


# --- Round 10: confident-learning label-noise audit ----------------------
#
# Confident learning (Northcutt, Jiang & Chuang, "Confident Learning:
# Estimating Uncertainty in Dataset Labels", JAIR 2021), binary form:
# per-class confidence thresholds t_j = mean self-confidence of class j
# among examples LABELED j; the confident joint counts example (noisy
# label i, confident class j) pairs where p_j >= t_j, argmax-assigned —
# the off-diagonal cells estimate label ERRORS without any clean data.
# The class-en confidence is the English-stopword rate (bp); class-
# other confidence is its complement.  Thresholds floor to integers
# (sum div count) so both engines compute the identical joint.
_CL_STOPS = "array('the','a','and','of','to','is','in','it')"
_CL_STOPS_DUCK = "['the','a','and','of','to','is','in','it']"


@register(
    "confident_learning_label_noise",
    oracle_sql=f"""
    WITH scored AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS label,
             CAST(len(list_intersect({{tok}}, {_CL_STOPS_DUCK}))
                  AS BIGINT) * 10000 // len({{tok}}) AS p_en_bp
      FROM documents WHERE len({{tok}}) > 0
    ),
    thr AS (
      SELECT
        (SELECT sum(p_en_bp) // count(*) FROM scored
         WHERE label = 'en') AS t_en,
        (SELECT sum(10000 - p_en_bp) // count(*) FROM scored
         WHERE label = 'other') AS t_other
    ),
    assigned AS (
      SELECT s.label,
             CASE
               WHEN s.p_en_bp >= x.t_en
                    AND (10000 - s.p_en_bp < x.t_other
                         OR s.p_en_bp >= 10000 - s.p_en_bp) THEN 'en'
               WHEN 10000 - s.p_en_bp >= x.t_other THEN 'other'
             END AS confident_class
      FROM scored s CROSS JOIN thr x
    )
    SELECT label, confident_class,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(CASE WHEN label <> confident_class THEN 1 ELSE 0 END
                AS BIGINT) AS is_error_cell,
           CAST(count(*) * 1000000 //
                sum(count(*)) OVER (PARTITION BY label) AS BIGINT)
             AS label_share_ppm
    FROM assigned
    WHERE confident_class IS NOT NULL
    GROUP BY label, confident_class
    """.format(tok=_TOK),
    tags=("text", "labels", "noise", "classifier", "pipeline"),
)
def confident_learning_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confident-joint label-noise audit (confident learning, binary):
    per-class mean-self-confidence thresholds over the NOISY labels,
    then every document lands in a (given label, confident class) cell
    when its class confidence clears that class's threshold (argmax on
    double-qualifiers, en on ties); off-diagonal cells are the
    estimated mislabeled populations — the label-quality gate a
    training pipeline runs before trusting [[feature_target_encode]] /
    [[nb_quality_classifier_train_apply]] supervision, with zero clean
    examples required.

    Scale shape: one doc-grain scoring map; thresholds are two scalar
    aggregates (map-side combined) broadcast back; the joint is a
    4-cell aggregate.  Nothing wider than the corpus scan itself.

    Reference analog: none (LLM-pipeline labels surface per the brief).
    """
    d = compute_scan(spark, sf_dir, "documents")
    ts = tokenize(F.col("text"))
    scored = (
        d.select("doc_id", "lang", ts.alias("ts"))
        .filter(F.size("ts") > 0)
        .select(
            F.when(F.col("lang") == "en", "en")
            .otherwise("other")
            .alias("label"),
            F.expr(
                f"CAST(size(array_intersect(ts, {_CL_STOPS})) AS BIGINT)"
                " * 10000 div size(ts)"
            ).alias("p_en_bp"),
        )
        # doc-grain 2-column stream: consumed by both thresholds + joint
        .cache()
    )
    t_en = scored.filter(F.col("label") == "en").agg(
        F.expr("sum(p_en_bp) div count(*)").alias("t_en")
    )
    t_other = scored.filter(F.col("label") == "other").agg(
        F.expr("sum(10000 - p_en_bp) div count(*)").alias("t_other")
    )
    thr = t_en.crossJoin(t_other)
    assigned = scored.crossJoin(F.broadcast(thr)).select(
        "label",
        F.when(
            (F.col("p_en_bp") >= F.col("t_en"))
            & (
                (10000 - F.col("p_en_bp") < F.col("t_other"))
                | (F.col("p_en_bp") >= 10000 - F.col("p_en_bp"))
            ),
            "en",
        )
        .when(10000 - F.col("p_en_bp") >= F.col("t_other"), "other")
        .alias("confident_class"),
    )
    return (
        assigned.filter(F.col("confident_class").isNotNull())
        .groupBy("label", "confident_class")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .select(
            "label",
            "confident_class",
            "n_docs",
            F.when(F.col("label") != F.col("confident_class"), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_error_cell"),
            F.expr(
                "CAST(n_docs * 1000000 div"
                " sum(n_docs) OVER (PARTITION BY label) AS BIGINT)"
            ).alias("label_share_ppm"),
        )
    )


# --- Round 10: character-class corpus profile ----------------------------


@register(
    "char_class_profile",
    oracle_sql="""
    WITH per AS (
      SELECT source, lang,
             CAST(length(text) AS BIGINT) AS n,
             CAST(length(text) - length(regexp_replace(text, '[A-Za-z]',
                  '', 'g')) AS BIGINT) AS a,
             CAST(length(text) - length(regexp_replace(text, '[0-9]',
                  '', 'g')) AS BIGINT) AS d,
             CAST(length(text) - length(replace(text, ' ', ''))
                  AS BIGINT) AS s
      FROM documents WHERE length(text) > 0
    )
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS n_chars,
           CAST(sum(a) * 1000000 // sum(n) AS BIGINT) AS alpha_ppm,
           CAST(sum(d) * 1000000 // sum(n) AS BIGINT) AS digit_ppm,
           CAST(sum(s) * 1000000 // sum(n) AS BIGINT) AS space_ppm,
           CAST((sum(n) - sum(a) - sum(d) - sum(s)) * 1000000 // sum(n)
                AS BIGINT) AS other_ppm
    FROM per GROUP BY source, lang
    """,
    tags=("text", "profile", "corpus", "pipeline"),
)
def char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per (source, lang): alpha / digit /
    space / other shares in ppm plus doc and char counts — the corpus
    MIX profile a data-card reports and an ingestion gate alarms on
    (a source whose digit or other share jumps is scraping tables or
    binary junk; pairs with [[gopher_quality_rules]]' per-doc gates
    and [[dataset_card_stats]]' rollup).

    Scale shape: class counts are in-row regexp_replace length deltas
    (one pass per class, no per-char explode, no array
    materialization); the rollup is one map-side-combined aggregate on
    the tiny (source, lang) grain.  The scan stays whole-stage-codegen
    JVM work end to end.

    Reference analog: none (corpus-profiling surface per the brief).
    """
    d = compute_scan(spark, sf_dir, "documents")
    n = F.length("text")
    a = n - F.length(F.regexp_replace("text", "[A-Za-z]", ""))
    g = n - F.length(F.regexp_replace("text", "[0-9]", ""))
    s = n - F.length(F.regexp_replace("text", " ", ""))
    per = d.filter(n > 0).select(
        "source",
        "lang",
        n.cast("long").alias("n"),
        a.cast("long").alias("a"),
        g.cast("long").alias("d"),
        s.cast("long").alias("s"),
    )
    return per.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_chars"),
        F.expr("CAST(sum(a) * 1000000 div sum(n) AS BIGINT)").alias(
            "alpha_ppm"
        ),
        F.expr("CAST(sum(d) * 1000000 div sum(n) AS BIGINT)").alias(
            "digit_ppm"
        ),
        F.expr("CAST(sum(s) * 1000000 div sum(n) AS BIGINT)").alias(
            "space_ppm"
        ),
        F.expr(
            "CAST((sum(n) - sum(a) - sum(d) - sum(s)) * 1000000"
            " div sum(n) AS BIGINT)"
        ).alias("other_ppm"),
    )


# --- Round 10b: RAKE keyword extraction ------------------------------------
#
# Rapid Automatic Keyword Extraction (Rose et al. 2010): candidate
# phrases are maximal stopword-free token runs (capped at
# RAKE_MAX_LEN — longer runs are discarded, the classic length
# filter); a word scores degree/frequency where degree counts
# co-occurrence within its phrases (phrase length, self included);
# a phrase scores the sum of its words' scores.
RAKE_STOPWORDS = ("the", "a", "and", "of", "to", "is")
RAKE_MAX_LEN = 3
RAKE_TOP_K = 30


@register(
    "rake_keyword_extraction",
    oracle_sql=f"""
    WITH toks AS (
      SELECT doc_id, {{tok}} AS ts FROM documents
    ),
    pos AS (
      SELECT doc_id, i AS pos, ts[i] AS t
      FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i
            FROM toks)
    ),
    ns AS (
      SELECT doc_id, pos, t,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM pos
      WHERE t NOT IN ({{stops}})
    ),
    phr AS (
      SELECT doc_id, isl, list(t ORDER BY pos) AS ws
      FROM ns GROUP BY doc_id, isl HAVING count(*) <= {RAKE_MAX_LEN}
    ),
    wstat AS (
      SELECT t, count(*) AS freq, CAST(sum(lw) AS BIGINT) AS deg
      FROM (SELECT unnest(ws) AS t, len(ws) AS lw FROM phr)
      GROUP BY t
    ),
    wsc AS (SELECT t, deg * 1000 // freq AS w_milli FROM wstat),
    pw AS (
      SELECT doc_id, isl, array_to_string(ws, ' ') AS phrase,
             unnest(ws) AS t
      FROM phr
    ),
    psc AS (
      SELECT doc_id, isl, phrase, CAST(sum(w.w_milli) AS BIGINT) AS score
      FROM pw JOIN wsc w ON w.t = pw.t
      GROUP BY doc_id, isl, phrase
    ),
    agg AS (
      SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
             CAST(min(score) AS BIGINT) AS score_milli
      FROM psc GROUP BY phrase
    )
    SELECT phrase, n_occurrences, score_milli,
           CAST(row_number() OVER (ORDER BY score_milli DESC, phrase)
                AS BIGINT) AS rank
    FROM agg
    ORDER BY score_milli DESC, phrase
    LIMIT {RAKE_TOP_K}
    """.format(
        tok=DUCKDB_TOKENIZE.format(col="text"),
        stops=", ".join(f"'{w}'" for w in RAKE_STOPWORDS),
    ),
    tags=("text", "keywords", "pipeline"),
)
def rake_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE corpus keyword extraction: stopword-delimited candidate
    phrases (maximal non-stopword token runs, runs longer than
    {RAKE_MAX_LEN} discarded), word score = degree/frequency in milli
    (degree = summed length of the word's phrases, the co-occurrence
    count with self), phrase score = sum of member word scores, top
    {RAKE_TOP_K} phrases corpus-wide — the classic unsupervised
    keyword/topic surfacer ([[tfidf_top_terms]] ranks single terms by
    document discrimination; RAKE surfaces multi-word PHRASES by
    internal cohesion).

    Exactness: pure integer counting; word scores floor-divide in
    BIGINT milli; identical phrase text always carries identical
    member words, so min(score) per phrase is the (unique) score.

    Scale shape: the phrase build is the gaps-and-islands window
    (partitioned BY DOCUMENT — parallel at any corpus size); word and
    phrase stats are map-side-combined keyed aggregates.  The final
    top-k is orderBy+limit — Spark compiles it to TakeOrdered
    (distributed partial top-k, no global sort shuffle), and the rank
    column is a window over the ALREADY-REDUCED {RAKE_TOP_K}-row
    result, never the full phrase table.

    Reference analog: the tokenize-map + combine discipline of
    /root/reference/src/main.c:28-59, lifted to phrase grain.
    """
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos", "t")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    ns = pos.filter(~F.col("t").isin(*RAKE_STOPWORDS)).select(
        "doc_id",
        "pos",
        "t",
        (F.col("pos") - F.row_number().over(wd)).alias("isl"),
    )
    phr = (
        ns.groupBy("doc_id", "isl")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "t"))),
                lambda s: s.t,
            ).alias("ws")
        )
        .filter(F.size("ws") <= RAKE_MAX_LEN)
    )
    words = phr.select(
        F.explode("ws").alias("t"), F.size("ws").alias("lw")
    )
    wsc = (
        words.groupBy("t")
        .agg(F.count("*").alias("freq"), F.sum("lw").alias("deg"))
        .select("t", F.expr("deg * 1000 div freq").alias("w_milli"))
    )
    pw = phr.select(
        "doc_id",
        "isl",
        F.array_join("ws", " ").alias("phrase"),
        F.explode("ws").alias("t"),
    )
    psc = (
        pw.join(wsc, "t")
        .groupBy("doc_id", "isl", "phrase")
        .agg(F.sum("w_milli").alias("score"))
    )
    agg = psc.groupBy("phrase").agg(
        F.count("*").cast("long").alias("n_occurrences"),
        F.min("score").cast("long").alias("score_milli"),
    )
    top = agg.orderBy(F.desc("score_milli"), F.asc("phrase")).limit(
        RAKE_TOP_K
    )
    wr = Window.orderBy(F.desc("score_milli"), F.asc("phrase"))
    return top.select(
        "phrase",
        "n_occurrences",
        "score_milli",
        F.row_number().over(wr).cast("long").alias("rank"),
    )


# --- Round 10b: Heaps'-law power fit per source ----------------------------
#
# Fit V = K * N^beta (vocabulary vs cumulative tokens) per source by
# OLS in log-log space over the bucketed growth curve — the exponent
# is the number a curator actually reads off heaps_vocab_growth: how
# fast NEW vocabulary still arrives, per source, and therefore which
# sources more crawl should come from.  beta ~ 0 means the source is
# exhausted (pure repetition); beta ~ 1 means every token is new.
#
# Exactness contract: ln() of an exact integer is the same IEEE double
# in both engines; it is ROUNDED TO MILLI IMMEDIATELY so all OLS
# moments are exact integers (DECIMAL(38,0)); slope/intercept/r² are
# then pinned single double expressions over those integers (the
# welch_t_test_pairs rule) frozen to micro/ppm.


@register(
    "heaps_law_power_fit",
    oracle_sql=f"""
    WITH toks AS (
      SELECT source, doc_id // {HEAPS_BUCKET} AS bucket, unnest({_TOK}) AS t
      FROM documents
    ),
    per_bucket_tok AS (
      SELECT source, bucket, count(*) AS c
      FROM toks GROUP BY source, bucket
    ),
    first_seen AS (
      SELECT source, t, min(bucket) AS fb FROM toks GROUP BY source, t
    ),
    new_terms AS (
      SELECT source, fb AS bucket, count(*) AS nt
      FROM first_seen GROUP BY source, fb
    ),
    curve AS (
      SELECT p.source, p.bucket,
             sum(p.c) OVER (PARTITION BY p.source ORDER BY p.bucket) AS cum_n,
             sum(COALESCE(n.nt, 0))
               OVER (PARTITION BY p.source ORDER BY p.bucket) AS cum_v
      FROM per_bucket_tok p
      LEFT JOIN new_terms n ON n.source = p.source AND n.bucket = p.bucket
    ),
    pts AS (
      SELECT source,
             CAST(round(ln(CAST(cum_n AS DOUBLE)) * 1000) AS BIGINT) AS x,
             CAST(round(ln(CAST(cum_v AS DOUBLE)) * 1000) AS BIGINT) AS y
      FROM curve
    ),
    mom AS (
      SELECT source, count(*) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
             CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy
      FROM pts GROUP BY source
    )
    SELECT source, CAST(n AS BIGINT) AS n_points,
           CAST(CASE WHEN n >= 2 AND n * sxx - sx * sx <> 0 THEN
             round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * 1000000)
           ELSE 0 END AS BIGINT) AS beta_micro,
           CAST(CASE WHEN n >= 2 AND n * sxx - sx * sx <> 0 THEN
             round((CAST(sy AS DOUBLE)
                    - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * CAST(sx AS DOUBLE))
                   / CAST(n AS DOUBLE))
           ELSE 0 END AS BIGINT) AS lnk_milli,
           CAST(CASE WHEN n >= 2 AND n * sxx - sx * sx <> 0
                      AND n * syy - sy * sy <> 0 THEN
             round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   * 1000000)
           ELSE 0 END AS BIGINT) AS r2_ppm
    FROM mom
    """,
    tags=("text", "heaps", "regression", "diagnostics"),
)
def heaps_law_power_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Heaps'-law exponent: OLS fit of ln V = ln K +
    beta * ln N over the source's bucketed vocabulary-growth curve
    (cumulative tokens N, cumulative distinct vocabulary V via the
    first-occurrence attribution of [[heaps_vocab_growth]], at
    {HEAPS_BUCKET}-doc buckets).  beta is THE data-curation number: a
    source with beta near zero repeats itself (more crawl adds nothing)
    while high-beta sources still pay vocabulary — the quantitative
    form of the curve-reading [[heaps_vocab_growth]] leaves to the
    human, and a companion to [[zipf_rank_frequency]]'s frequency
    exponent.

    Exactness: ln of exact integer counts rounds to milli BEFORE any
    aggregation, so the OLS moments are exact DECIMAL(38,0) integers;
    slope, intercept, and r² are each ONE pinned double expression over
    those integers (the [[welch_t_test_pairs]] rule), frozen to
    micro / milli / ppm; degenerate fits (n < 2 or zero variance)
    pin to 0.

    Scale shape: token explode -> two map-side-combined aggregates
    ((source, bucket) counts and (source, term) first-occurrence) ->
    source-partitioned cumulative windows over bucket-grain rows ->
    one source-grain moment rollup.  Bucket rows grow with corpus /
    {HEAPS_BUCKET}, but stay partitioned by source; nothing is ever
    single-task corpus-sized.

    Reference analog: none (SURVEY §2.2 text-analysis surface).
    """
    from pyspark.sql.window import Window

    d = compute_scan(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.expr(f"doc_id div {HEAPS_BUCKET}").alias("bucket"),
        F.explode(tokenize(F.col("text"))).alias("t"),
    )
    per_bucket = toks.groupBy("source", "bucket").agg(
        F.count("*").alias("c")
    )
    first_seen = toks.groupBy("source", "t").agg(F.min("bucket").alias("fb"))
    new_terms = first_seen.groupBy(
        "source", F.col("fb").alias("bucket")
    ).agg(F.count("*").alias("nt"))
    wc = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    curve = (
        per_bucket.join(new_terms, ["source", "bucket"], "left")
        .select(
            "source",
            "bucket",
            F.sum("c").over(wc).alias("cum_n"),
            F.sum(F.coalesce("nt", F.lit(0))).over(wc).alias("cum_v"),
        )
    )
    pts = curve.select(
        "source",
        F.expr(
            "CAST(round(ln(CAST(cum_n AS DOUBLE)) * 1000) AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(round(ln(CAST(cum_v AS DOUBLE)) * 1000) AS BIGINT)"
        ).alias("y"),
    )
    mom = pts.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    num = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    )
    den = (
        "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    deny = (
        "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
    )
    guard = "n >= 2 AND n * sxx - sx * sx <> 0"
    return mom.select(
        "source",
        F.col("n").cast("long").alias("n_points"),
        F.expr(
            f"CAST(CASE WHEN {guard} THEN"
            f" round({num} / {den} * 1000000)"
            " ELSE 0 END AS BIGINT)"
        ).alias("beta_micro"),
        F.expr(
            f"CAST(CASE WHEN {guard} THEN"
            f" round((CAST(sy AS DOUBLE) - {num} / {den}"
            " * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))"
            " ELSE 0 END AS BIGINT)"
        ).alias("lnk_milli"),
        F.expr(
            f"CAST(CASE WHEN {guard} AND n * syy - sy * sy <> 0 THEN"
            f" round({num} * {num} / ({den} * {deny}) * 1000000)"
            " ELSE 0 END AS BIGINT)"
        ).alias("r2_ppm"),
    )


# --- Round 10b: Platt scaling (parametric score calibration) ---------------
#
# Fit p(y=1 | s) = sigmoid(a*s + b) by Newton-Raphson on the logistic
# log-likelihood — Platt's parametric calibration, the smooth
# complement to the isotonic (PAV) rewrite.  The corpus collapses to
# the bounded score-grain bin table FIRST, so each Newton step is a
# tiny aggregate; determinism comes from micro-rounding the sigmoid
# per bin per step (exact integer moments between steps, one pinned
# double block per update — the iterative twin of the welch rule).
PLATT_ITERS = 6


def _platt_score_cte() -> str:
    lits = ", ".join(f"'{w}'" for w in LANG_PROFILES["en"])
    return f"""scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             len(list_intersect(ts, [{lits}])) * 10000 // len(ts) AS x
      FROM (SELECT lang, {_TOK} AS ts FROM documents)
      WHERE len(ts) > 0
    ),
    bins AS MATERIALIZED (
      SELECT x, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
      FROM scored GROUP BY x
    )"""


def _platt_oracle() -> str:
    """Unrolled Newton iterations (every CTE MATERIALIZED — the
    _hits_oracle inlining lesson)."""
    ctes = [
        _platt_score_cte(),
        "p0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b)",
    ]
    for k in range(1, PLATT_ITERS + 1):
        ctes.append(
            f"""m{k} AS MATERIALIZED (
      SELECT CAST(sum(pos * 1000000 - n * pm) AS DECIMAL(38,0)) AS gb6,
             CAST(sum(CAST(x AS DECIMAL(38,0))
                      * (pos * 1000000 - n * pm)) AS DECIMAL(38,0)) AS ga10,
             CAST(sum(CAST(n AS DECIMAL(38,0)) * pm * (1000000 - pm))
                  AS DECIMAL(38,0)) AS hbb12,
             CAST(sum(CAST(n AS DECIMAL(38,0)) * x * pm * (1000000 - pm))
                  AS DECIMAL(38,0)) AS hab16,
             CAST(sum(CAST(n AS DECIMAL(38,0)) * x * x * pm * (1000000 - pm))
                  AS DECIMAL(38,0)) AS haa20
      FROM (SELECT bb.x, bb.n, bb.pos,
                   CAST(round(1000000 / (1 + exp(-(
                     CAST(p.a AS DOUBLE) / 1000000
                     * (CAST(bb.x AS DOUBLE) / 10000)
                     + CAST(p.b AS DOUBLE) / 1000000)))) AS BIGINT) AS pm
            FROM bins bb, p{k - 1} p)
    ),
    p{k} AS MATERIALIZED (
      SELECT p.a + CAST(round((
               (CAST(hbb12 AS DOUBLE) / 1e12 + 1e-9)
                 * (CAST(ga10 AS DOUBLE) / 1e10)
               - (CAST(hab16 AS DOUBLE) / 1e16)
                 * (CAST(gb6 AS DOUBLE) / 1e6)
             ) / (
               (CAST(haa20 AS DOUBLE) / 1e20 + 1e-9)
                 * (CAST(hbb12 AS DOUBLE) / 1e12 + 1e-9)
               - (CAST(hab16 AS DOUBLE) / 1e16)
                 * (CAST(hab16 AS DOUBLE) / 1e16)
             ) * 1000000) AS BIGINT) AS a,
             p.b + CAST(round((
               (CAST(haa20 AS DOUBLE) / 1e20 + 1e-9)
                 * (CAST(gb6 AS DOUBLE) / 1e6)
               - (CAST(hab16 AS DOUBLE) / 1e16)
                 * (CAST(ga10 AS DOUBLE) / 1e10)
             ) / (
               (CAST(haa20 AS DOUBLE) / 1e20 + 1e-9)
                 * (CAST(hbb12 AS DOUBLE) / 1e12 + 1e-9)
               - (CAST(hab16 AS DOUBLE) / 1e16)
                 * (CAST(hab16 AS DOUBLE) / 1e16)
             ) * 1000000) AS BIGINT) AS b
      FROM p{k - 1} p, m{k}
    )"""
        )
    unions = "\n    UNION ALL ".join(
        f"SELECT {k} AS iter, a, b FROM p{k}" for k in range(1, PLATT_ITERS + 1)
    )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {chain}
    SELECT CAST(iter AS BIGINT) AS iter, a AS a_micro, b AS b_micro
    FROM ({unions})
    """


@register(
    "platt_scaling_calibration",
    oracle_sql=_platt_oracle(),
    tags=("text", "calibration", "iterative", "pipeline"),
)
def platt_scaling_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt scaling: fit p(en | stopword-share) = sigmoid(a*s + b) by
    {PLATT_ITERS} Newton-Raphson steps on the logistic log-likelihood
    over the [[score_calibration_reliability]] score/label pair — the
    PARAMETRIC calibrator beside [[isotonic_calibration_rewrite]]'s
    monotone one (Platt extrapolates smoothly and needs two numbers;
    isotonic is shape-free).  Output: the (a, b) trace per iteration
    in micro units (converged by ~step 3 on this fixture; the trailing
    +-2-micro wobble is the pinned rounding's fixpoint, identical in
    both engines).

    Exactness: the corpus collapses ONCE to the bounded score-grain
    bin table (x, n, pos); each step micro-rounds the sigmoid per bin,
    accumulates gradient/Hessian as exact DECIMAL(38,0) integer
    moments (hab reaches ~1e19 — past int64), and applies the 2x2
    Newton solve as ONE pinned double block (1e-9 ridge) frozen back
    to integer micro.  Floats never cross an aggregation.

    Scale shape: one map-side-combined aggregate to <= 10001 bin rows;
    every Newton step is a broadcast of the 2-number param row against
    the bounded bin table + a 5-sum rollup, one
    ``functions/iterate.py::fixed_rounds`` round — corpus passes:
    exactly one, regardless of iterations.

    Reference analog: none (LLM-pipeline surface per the brief).
    """
    d = compute_scan(spark, sf_dir, "documents")
    ts = F.col("ts")
    scored = (
        d.select("lang", tokenize(F.col("text")).alias("ts"))
        .filter(F.size(ts) > 0)
        .select(
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            (
                F.size(
                    F.array_intersect(
                        ts, F.array(*[F.lit(w) for w in LANG_PROFILES["en"]])
                    )
                )
                * 10000
                / F.size(ts)
            )
            .cast("long")
            .alias("x"),
        )
    )
    bins = (
        scored.groupBy("x")
        .agg(F.count("*").alias("n"), F.sum("y").alias("pos"))
        .localCheckpoint()
    )
    # The state is the trace of (iter, a, b) rows, seeded with iter 0.
    trace = spark.range(1).select(
        *(F.lit(0).cast("long").alias(c) for c in ("iter", "a", "b"))
    )
    det = (
        "((CAST(haa20 AS DOUBLE) / 1e20 + 1e-9)"
        " * (CAST(hbb12 AS DOUBLE) / 1e12 + 1e-9)"
        " - (CAST(hab16 AS DOUBLE) / 1e16)"
        " * (CAST(hab16 AS DOUBLE) / 1e16))"
    )

    def newton(trace: DataFrame, k: int) -> DataFrame:
        params = trace.where(F.col("iter") == k - 1)
        pm = F.expr(
            "CAST(round(1000000 / (1 + exp(-("
            " CAST(a AS DOUBLE) / 1000000 * (CAST(x AS DOUBLE) / 10000)"
            " + CAST(b AS DOUBLE) / 1000000)))) AS BIGINT)"
        )
        j = bins.crossJoin(F.broadcast(params)).withColumn("pm", pm)
        m = j.agg(
            F.sum(F.expr("pos * 1000000 - n * pm"))
            .cast("decimal(38,0)")
            .alias("gb6"),
            F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * (pos * 1000000 - n * pm)"))
            .cast("decimal(38,0)")
            .alias("ga10"),
            F.sum(F.expr("CAST(n AS DECIMAL(38,0)) * pm * (1000000 - pm)"))
            .cast("decimal(38,0)")
            .alias("hbb12"),
            F.sum(
                F.expr("CAST(n AS DECIMAL(38,0)) * x * pm * (1000000 - pm)")
            )
            .cast("decimal(38,0)")
            .alias("hab16"),
            F.sum(
                F.expr(
                    "CAST(n AS DECIMAL(38,0)) * x * x * pm * (1000000 - pm)"
                )
            )
            .cast("decimal(38,0)")
            .alias("haa20"),
        )
        return trace.unionByName(
            params.crossJoin(F.broadcast(m)).select(
                F.lit(k).cast("long").alias("iter"),
                F.expr(
                    "a + CAST(round("
                    " ((CAST(hbb12 AS DOUBLE) / 1e12 + 1e-9)"
                    "  * (CAST(ga10 AS DOUBLE) / 1e10)"
                    "  - (CAST(hab16 AS DOUBLE) / 1e16)"
                    "  * (CAST(gb6 AS DOUBLE) / 1e6))"
                    f" / {det} * 1000000) AS BIGINT)"
                ).alias("a"),
                F.expr(
                    "b + CAST(round("
                    " ((CAST(haa20 AS DOUBLE) / 1e20 + 1e-9)"
                    "  * (CAST(gb6 AS DOUBLE) / 1e6)"
                    "  - (CAST(hab16 AS DOUBLE) / 1e16)"
                    "  * (CAST(ga10 AS DOUBLE) / 1e10))"
                    f" / {det} * 1000000) AS BIGINT)"
                ).alias("b"),
            )
        )

    trace = fixed_rounds(platt_scaling_calibration, trace, newton, PLATT_ITERS)
    return trace.where(F.col("iter") > 0).select(
        "iter", F.col("a").alias("a_micro"), F.col("b").alias("b_micro")
    )


# --- Round 10b: greedy set-cover document selection ------------------------
#
# The classic (1 - 1/e)-approximate max-coverage loop: each round
# selects the document covering the most NOT-YET-COVERED vocabulary
# terms — the coverage-first data-selection primitive (pick the
# fewest documents that exercise the whole vocabulary), complementary
# to [[kcenter_greedy_coreset]]'s geometry-first diversity.
SETCOVER_K = 8


def _setcover_oracle() -> str:
    """Unrolled greedy rounds (every CTE MATERIALIZED — the
    _hits_oracle inlining lesson).  Rounds emit only while uncovered
    vocabulary remains (an exhausted round selects nothing)."""
    ctes = [
        f"""dt AS MATERIALIZED (
      SELECT DISTINCT doc_id, t
      FROM (SELECT doc_id, unnest({_TOK}) AS t FROM documents)
    ),
    cov0 AS MATERIALIZED (SELECT CAST(NULL AS VARCHAR) AS t WHERE 1 = 0)"""
    ]
    for r in range(1, SETCOVER_K + 1):
        ctes.append(
            f"""g{r} AS MATERIALIZED (
      SELECT dt.doc_id, count(*) AS g
      FROM dt LEFT JOIN cov{r - 1} c ON c.t = dt.t
      WHERE c.t IS NULL
      GROUP BY dt.doc_id
    ),
    pick{r} AS MATERIALIZED (
      SELECT doc_id, g FROM g{r} ORDER BY g DESC, doc_id LIMIT 1
    ),
    cov{r} AS MATERIALIZED (
      SELECT DISTINCT t FROM (
        SELECT t FROM cov{r - 1}
        UNION ALL
        SELECT dt.t FROM dt JOIN pick{r} p ON p.doc_id = dt.doc_id
      )
    )"""
        )
    unions = "\n    UNION ALL ".join(
        f"SELECT {r} AS round, doc_id, g,"
        f" (SELECT count(*) FROM cov{r}) AS ct FROM pick{r}"
        for r in range(1, SETCOVER_K + 1)
    )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {chain}
    SELECT CAST(round AS BIGINT) AS round, doc_id,
           CAST(g AS BIGINT) AS new_terms,
           CAST(ct AS BIGINT) AS covered_total
    FROM ({unions})
    """


@register(
    "greedy_set_cover_docs",
    oracle_sql=_setcover_oracle(),
    tags=("text", "sampling", "coverage", "iterative", "pipeline"),
)
def greedy_set_cover_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy max-coverage document selection: {SETCOVER_K} rounds,
    each picking the document that covers the most not-yet-covered
    vocabulary terms (ties to the smaller doc_id; rounds stop emitting
    once the vocabulary is exhausted) — the classic (1-1/e)-approx
    set-cover loop, i.e. "the fewest documents that exercise the whole
    vocabulary": the coverage-first complement to
    [[kcenter_greedy_coreset]] (geometry-first) and
    [[cluster_capped_diversity_sample]] (density-capped), and the
    selection rule behind minimal eval-seed and tokenizer-exercise
    sets.  Output: the selection trace (round, doc, newly covered,
    cumulative coverage).

    Exactness: pure integer counting and a total-order argmax.

    Scale shape: the doc-term table builds once (distinct pairs,
    map-side combined) and is localCheckpoint-pinned; each round is a
    term-keyed LEFT-ANTI join against the covered-term table, a
    doc-keyed count, and a TakeOrdered(1) — the
    [[kcenter_greedy_coreset]] loop with set semantics.  The covered
    table is the vocabulary-bounded ``functions/iterate.py::fixed_rounds``
    state, shuffles stay term/doc-keyed, and K corpus passes total.

    Reference analog: none (LLM-pipeline surface per the brief).
    """
    from pyspark.sql import Window as _W

    d = compute_scan(spark, sf_dir, "documents")
    # Distinct (doc_id, t) via per-doc array_distinct before the explode:
    # doc_id is constant within a row, so in-row dedup IS global dedup —
    # the former corpus-wide `.distinct()` Exchange is gone from the dt
    # build (the _doc_shingles lever).
    dt = (
        d.select(
            "doc_id",
            F.explode(F.array_distinct(tokenize(F.col("text")))).alias("t"),
        )
        .localCheckpoint()
    )
    # The state is the covered-term table; each term carries the round,
    # document and gain of the pick that covered it.
    covered = local_frame(
        spark, [], "t string, round long, doc_id long, new_terms long"
    ).localCheckpoint()

    def cover(covered: DataFrame, r: int) -> DataFrame:
        # covered is vocabulary-bounded and localCheckpoint-backed, so
        # its stats are UNKNOWN to the planner — an unhinted anti-join
        # plans sort-merge and re-shuffles the full doc-term table
        # every round (measured r13: loop 4.7 s vs 2.0 s broadcast).
        # Broadcasting it makes both anti-joins shuffle-free.
        cov = F.broadcast(covered.select("t"))
        gain = (
            dt.join(cov, "t", "left_anti")
            .groupBy("doc_id")
            .agg(F.count("*").alias("g"))
        )
        pick = gain.orderBy(F.desc("g"), F.asc("doc_id")).limit(1).select(
            F.lit(r).cast("long").alias("round"),
            "doc_id",
            F.col("g").cast("long").alias("new_terms"),
        )
        # The picked doc's NEW terms are disjoint from `covered` and
        # internally distinct (dt is a distinct pair set), so the union
        # needs no per-round distinct re-shuffle of the covered table.
        return covered.unionByName(
            dt.join(F.broadcast(pick), "doc_id").join(cov, "t", "left_anti")
        )

    covered = fixed_rounds(greedy_set_cover_docs, covered, cover, SETCOVER_K)
    # covered_total == running sum of new_terms: round r's gain counts
    # exactly the terms newly added to the covered set (|cov_r| =
    # |cov_{r-1}| + g_r), so the former per-round covered-count job +
    # crossJoin is a {SETCOVER_K}-row window here instead.
    w_run = _W.orderBy("round").rowsBetween(_W.unboundedPreceding, 0)
    return covered.select("round", "doc_id", "new_terms").distinct().select(
        "round",
        "doc_id",
        "new_terms",
        F.sum("new_terms").over(w_run).cast("long").alias("covered_total"),
    )


# --- Round 11: exact ranking-metric eval pack ----------------------------
#
# The threshold sweep ([[f1_threshold_sweep]]) grades ONE operating
# point per threshold; ROC-AUC and average precision grade the whole
# RANKING the quality score induces — the two numbers a filter-model
# card reports.  Both are exact-integer formulations of the same
# (score_bp, y) construction, so all three ops grade the same
# classifier and reconcile.

_AUC_SCALE = 1_000_000_000_000  # 1e12: per-term precision scaling for AP


@register(
    "roc_auc_rank_exact",
    oracle_sql=f"""
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             10000 - CAST(len(list_intersect({{tok}}, {_F1_STOPS_DUCK}))
                          AS BIGINT) * 10000 // len({{tok}}) AS score_bp
      FROM documents WHERE len({{tok}}) > 0
    ),
    grain AS (
      SELECT score_bp,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(count(*) - sum(y) AS BIGINT) AS n_neg
      FROM scored GROUP BY score_bp
    ),
    cum AS (
      SELECT n_pos, n_neg,
             coalesce(sum(n_neg) OVER (ORDER BY score_bp
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS neg_below
      FROM grain
    ),
    tot AS (
      SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
             CAST(sum(n_neg) AS BIGINT) AS n_neg,
             CAST(sum(2 * n_pos * neg_below + n_pos * n_neg) AS BIGINT)
               AS auc_num2
      FROM cum
    )
    SELECT n_pos, n_neg, auc_num2,
           CAST(auc_num2 * 1000000 // (2 * n_pos * n_neg) AS BIGINT)
             AS auc_ppm,
           CAST(auc_num2 * 1000000 // (n_pos * n_neg) - 1000000 AS BIGINT)
             AS gini_ppm
    FROM tot
    """.format(tok=_TOK),
    tags=("text", "eval", "ranking", "auc", "pipeline"),
)
def roc_auc_rank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of the stopword quality score against the lang=='en'
    label, via the rank-sum identity with proper tie handling: AUC =
    (#correctly-ordered pairs + #tied pairs / 2) / (n_pos * n_neg).
    Doubling the numerator keeps it integral (``auc_num2``); the Gini
    coefficient (2*AUC - 1) comes free.  This is the rank formulation
    that never materializes pairs — the pair count appears only as
    arithmetic on the score-grain margins.

    Scale shape: one doc-grain scoring map, one map-side-combined
    aggregate onto the bounded score grain (<= 10001 basis points), a
    cumulative window over that bounded table, one 1-row reduce.
    Nothing corpus-sized crosses a window; corpus size only enters the
    first aggregate.  The exact twin of a sampled/sketched AUC monitor.

    Reference analog: none (LLM-pipeline eval surface per the brief).
    """
    from pyspark.sql.window import Window

    d = compute_scan(spark, sf_dir, "documents")
    ts = tokenize(F.col("text"))
    scored = (
        d.select("lang", ts.alias("ts"))
        .filter(F.size("ts") > 0)
        .select(
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            F.expr(
                f"10000 - CAST(size(array_intersect(ts, {_F1_STOPS}))"
                " AS BIGINT) * 10000 div size(ts)"
            ).alias("score_bp"),
        )
    )
    grain = scored.groupBy("score_bp").agg(
        F.sum("y").cast("long").alias("n_pos"),
        (F.count("*") - F.sum("y")).cast("long").alias("n_neg"),
    )
    w_below = Window.orderBy("score_bp").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = grain.select(
        "n_pos",
        "n_neg",
        F.coalesce(F.sum("n_neg").over(w_below), F.lit(0)).alias("neg_below"),
    )
    tot = cum.agg(
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.sum("n_neg").cast("long").alias("n_neg"),
        F.sum(
            2 * F.col("n_pos") * F.col("neg_below")
            + F.col("n_pos") * F.col("n_neg")
        )
        .cast("long")
        .alias("auc_num2"),
    )
    return tot.select(
        "n_pos",
        "n_neg",
        "auc_num2",
        F.expr("CAST(auc_num2 * 1000000 div (2 * n_pos * n_neg) AS BIGINT)")
        .alias("auc_ppm"),
        F.expr(
            "CAST(auc_num2 * 1000000 div (n_pos * n_neg) - 1000000 AS BIGINT)"
        ).alias("gini_ppm"),
    )


@register(
    "average_precision_eval",
    oracle_sql=f"""
    WITH scored AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             10000 - CAST(len(list_intersect({{tok}}, {_F1_STOPS_DUCK}))
                          AS BIGINT) * 10000 // len({{tok}}) AS score_bp
      FROM documents WHERE len({{tok}}) > 0
    ),
    ranked AS (
      SELECT y,
             row_number() OVER (ORDER BY score_bp DESC, doc_id) AS k,
             sum(y) OVER (ORDER BY score_bp DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_pos
      FROM scored
    ),
    terms AS (
      SELECT CAST(sum(CASE WHEN y = 1
                      THEN cum_pos * {_AUC_SCALE} // k ELSE 0 END) AS BIGINT)
               AS ap_sum,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(count(*) AS BIGINT) AS n_total
      FROM ranked
    )
    SELECT n_pos, n_total,
           CAST(ap_sum // (n_pos * 1000000) AS BIGINT) AS ap_ppm
    FROM terms
    """.format(tok=_TOK),
    tags=("text", "eval", "ranking", "ap", "pipeline"),
)
def average_precision_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT average precision (area under the precision-recall curve,
    interpolation-free form): AP = mean over positives of
    precision@their-rank, under the deterministic total order
    (score_bp DESC, doc_id ASC).  Each precision term is scaled to an
    integer (x1e12 floor) before summation, so the result is
    bit-identical across engines and partitionings — no float-sum
    order dependence.  Complements [[roc_auc_rank_exact]]: AP weights
    the head of the ranking, AUC weighs all pairs equally — the pair a
    retrieval-filter model card reports together.

    Scale shape: the global rank and the positive running count are
    one ``functions/prefix.py`` ``running_by_bucket`` call bucketed on
    the negated score basis points; one 1-row reduce ends it.  No
    unpartitioned corpus window.

    Reference analog: none (LLM-pipeline eval surface per the brief).
    """
    d = compute_scan(spark, sf_dir, "documents")
    ts = tokenize(F.col("text"))
    scored = (
        d.select("doc_id", "lang", ts.alias("ts"))
        .filter(F.size("ts") > 0)
        .select(
            "doc_id",
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            # negated: scores rank DESC, doc_id ASC
            F.expr(
                f"CAST(size(array_intersect(ts, {_F1_STOPS}))"
                " AS BIGINT) * 10000 div size(ts) - 10000"
            ).alias("neg_bp"),
        )
    )
    ranked = running_by_bucket(
        scored, "neg_bp", ["doc_id"], k=None, cum_pos=F.col("y")
    )
    terms = ranked.agg(
        F.sum(
            F.when(
                F.col("y") == 1,
                F.expr(f"cum_pos * {_AUC_SCALE} div k"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("ap_sum"),
        F.sum("y").cast("long").alias("n_pos"),
        F.count("*").cast("long").alias("n_total"),
    )
    return terms.select(
        "n_pos",
        "n_total",
        F.expr("CAST(ap_sum div (n_pos * 1000000) AS BIGINT)").alias("ap_ppm"),
    )


# McNemar operating points: classifier A thresholds the stopword score,
# classifier B thresholds the distinct-token ratio (both in basis
# points, fixed cutoffs near the fixture medians so all four cells of
# the paired table populate).
_MCN_A_BP = 9400
_MCN_B_BP = 4600


@register(
    "mcnemar_paired_eval",
    oracle_sql=f"""
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             CASE WHEN 10000 - CAST(len(list_intersect({{tok}},
                         {_F1_STOPS_DUCK})) AS BIGINT) * 10000
                       // len({{tok}}) >= {_MCN_A_BP}
                  THEN 1 ELSE 0 END AS pred_a,
             CASE WHEN CAST(len(list_distinct({{tok}})) AS BIGINT) * 10000
                       // len({{tok}}) >= {_MCN_B_BP}
                  THEN 1 ELSE 0 END AS pred_b
      FROM documents WHERE len({{tok}}) > 0
    ),
    cells AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN pred_a = y AND pred_b <> y
                      THEN 1 ELSE 0 END) AS BIGINT) AS b_only_a,
             CAST(sum(CASE WHEN pred_a <> y AND pred_b = y
                      THEN 1 ELSE 0 END) AS BIGINT) AS c_only_b,
             CAST(sum(CASE WHEN pred_a = y THEN 1 ELSE 0 END) AS BIGINT)
               AS acc_a_n,
             CAST(sum(CASE WHEN pred_b = y THEN 1 ELSE 0 END) AS BIGINT)
               AS acc_b_n
      FROM scored
    )
    SELECT n, b_only_a, c_only_b, acc_a_n, acc_b_n,
           CAST(CASE WHEN b_only_a + c_only_b > 0
                THEN (b_only_a - c_only_b) * (b_only_a - c_only_b)
                     * 1000000 // (b_only_a + c_only_b)
                ELSE 0 END AS BIGINT) AS chi2_ppm
    FROM cells
    """.format(tok=_TOK),
    tags=("text", "eval", "paired-test", "pipeline"),
)
def mcnemar_paired_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test comparing TWO quality classifiers on the
    SAME documents — the statistically-correct way to claim "filter A
    beats filter B" (unpaired accuracy comparison wastes the pairing):
    only the DISCORDANT cells matter, b = A right & B wrong, c = A
    wrong & B right; chi2 = (b-c)^2/(b+c) (1 df).  Classifier A
    thresholds the stopword score at {_MCN_A_BP} bp, classifier B the
    distinct-token ratio at {_MCN_B_BP} bp, both against lang=='en' —
    the same label the rest of the eval pack grades, so the accuracy
    columns reconcile with [[f1_threshold_sweep]]'s curve.

    Scale shape: one doc-grain map, one 1-row reduce.  The entire
    statistic is map-side-combinable — the cheapest possible eval at
    100 TB.

    Reference analog: none (LLM-pipeline eval surface per the brief).
    """
    d = compute_scan(spark, sf_dir, "documents")
    ts = tokenize(F.col("text"))
    scored = (
        d.select("lang", ts.alias("ts"))
        .filter(F.size("ts") > 0)
        .select(
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            F.expr(
                f"CASE WHEN 10000 - CAST(size(array_intersect(ts, {_F1_STOPS}))"
                f" AS BIGINT) * 10000 div size(ts) >= {_MCN_A_BP}"
                " THEN 1 ELSE 0 END"
            ).alias("pred_a"),
            F.expr(
                f"CASE WHEN CAST(size(array_distinct(ts)) AS BIGINT) * 10000"
                f" div size(ts) >= {_MCN_B_BP} THEN 1 ELSE 0 END"
            ).alias("pred_b"),
        )
    )
    cells = scored.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.when((F.col("pred_a") == F.col("y")) & (F.col("pred_b") != F.col("y")), 1).otherwise(0)
        )
        .cast("long")
        .alias("b_only_a"),
        F.sum(
            F.when((F.col("pred_a") != F.col("y")) & (F.col("pred_b") == F.col("y")), 1).otherwise(0)
        )
        .cast("long")
        .alias("c_only_b"),
        F.sum(F.when(F.col("pred_a") == F.col("y"), 1).otherwise(0))
        .cast("long")
        .alias("acc_a_n"),
        F.sum(F.when(F.col("pred_b") == F.col("y"), 1).otherwise(0))
        .cast("long")
        .alias("acc_b_n"),
    )
    return cells.select(
        "n",
        "b_only_a",
        "c_only_b",
        "acc_a_n",
        "acc_b_n",
        F.expr(
            "CAST(CASE WHEN b_only_a + c_only_b > 0"
            " THEN (b_only_a - c_only_b) * (b_only_a - c_only_b)"
            " * 1000000 div (b_only_a + c_only_b)"
            " ELSE 0 END AS BIGINT)"
        ).alias("chi2_ppm"),
    )


def _bleu_oracle() -> str:
    parts = []
    for n in (1, 2, 3, 4):
        parts.append(f"""
    m{n} AS (
      SELECT doc_id, CAST(sum(least(cr, cg)) AS BIGINT) AS m{n}
      FROM (
        SELECT doc_id, gram, count(*) AS cr FROM (
          SELECT doc_id, unnest({duckdb_ngrams("ref_ts", n)}) AS gram
          FROM pairs
        ) GROUP BY doc_id, gram
      ) r
      JOIN (
        SELECT doc_id, gram, count(*) AS cg FROM (
          SELECT doc_id, unnest({duckdb_ngrams("gen_ts", n)}) AS gram
          FROM pairs
        ) GROUP BY doc_id, gram
      ) g USING (doc_id, gram)
      GROUP BY doc_id
    )""")
    m_ctes = ",".join(parts)
    sel = ",\n           ".join(
        f"CAST(coalesce(m{n}.m{n}, 0) AS BIGINT) AS m{n},"
        f" CAST(greatest(len(gen_ts) - {n - 1}, 0) AS BIGINT) AS g{n}"
        for n in (1, 2, 3, 4)
    )
    joins = " ".join(f"LEFT JOIN m{n} USING (doc_id)" for n in (1, 2, 3, 4))
    return f"""
    WITH pairs AS (
      SELECT doc_id, {_TOK} AS ref_ts,
             list_filter({_TOK}, (t, i) -> i % {CER_DROP_MOD} <> 0) AS gen_ts
      FROM documents WHERE len({_TOK}) > 0
    ),{m_ctes}
    SELECT p.doc_id,
           CAST(len(ref_ts) AS BIGINT) AS r_len,
           CAST(len(gen_ts) AS BIGINT) AS c_len,
           {sel}
    FROM pairs p {joins}
    """


@register(
    "bleu_ngram_component_eval",
    oracle_sql=_bleu_oracle(),
    tags=("text", "eval", "bleu", "pipeline"),
)
def bleu_ngram_component_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU components per (reference, generation) pair — clipped
    modified n-gram matches m_n and candidate n-gram totals g_n for
    n = 1..4 plus both lengths, on the SAME deterministic corruption
    pairs as [[generation_cer_eval]] / [[rouge_n_overlap_eval]] (every
    {CER_DROP_MOD}th token dropped), so the three generation metrics
    grade identical pairs.  Emitted as exact integers: corpus BLEU is
    then one tiny reduction downstream (sum the columns, geometric-mean
    the four precisions, apply exp(1 - r/c) brevity) — kept out of the
    distributed stage because exp/ln are the only non-exact steps.

    Scale shape: per n, the gram counts are (doc_id, gram)-keyed
    map-side-combined aggregates and the clip is a (doc_id, gram)
    equi-join — [[rouge_n_overlap_eval]]'s plan times four, everything
    keyed and linear, the final assembly a doc-grain join.

    Reference analog: none (LLM-pipeline eval surface per the brief).
    """
    d = compute_scan(spark, sf_dir, "documents")
    ts = tokenize(F.col("text"))
    pairs = (
        d.select("doc_id", ts.alias("ref_ts"))
        .filter(F.size("ref_ts") > 0)
        .select(
            "doc_id",
            "ref_ts",
            F.filter(
                "ref_ts", lambda t, i: (i + 1) % CER_DROP_MOD != 0
            ).alias("gen_ts"),
        )
        # token arrays consumed by eight explodes + the lengths row
        .cache()
    )

    # All four n-gram levels in ONE pass per side: each gram is tagged
    # with its n and exploded once, so the former 8 explode+aggregate
    # passes over the cached pairs, 4 (doc_id, gram) joins, and 4
    # doc-grain left joins collapse to 2 passes, 1 join on
    # (doc_id, n, gram), and 1 doc-grain left join — identical clipped
    # counts (grams only ever match within their own n level).
    def _tag(n):
        # single-arg lambda: a two-arg lambda would be read by
        # F.transform as (element, INDEX) and tag grams by position
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))

    def _tagged(col):
        return F.concat(
            *[F.transform(ngrams(col, n), _tag(n)) for n in (1, 2, 3, 4)]
        )

    def _counts(col, alias):
        return (
            pairs.select("doc_id", F.explode(_tagged(col)).alias("ng"))
            .select("doc_id", F.col("ng.n").alias("n"), F.col("ng.g").alias("g"))
            .groupBy("doc_id", "n", "g")
            .agg(F.count("*").alias(alias))
        )

    m = (
        _counts(F.col("ref_ts"), "cr")
        .join(_counts(F.col("gen_ts"), "cg"), ["doc_id", "n", "g"])
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(F.when(F.col("n") == n, F.least("cr", "cg"))).alias(
                    f"_m{n}"
                )
                for n in (1, 2, 3, 4)
            ]
        )
    )
    out = pairs.select(
        "doc_id",
        F.size("ref_ts").cast("long").alias("r_len"),
        F.size("gen_ts").cast("long").alias("c_len"),
    ).join(m, "doc_id", "left")
    cols = ["doc_id", "r_len", "c_len"]
    for n in (1, 2, 3, 4):
        out = out.withColumn(
            f"m{n}", F.coalesce(f"_m{n}", F.lit(0)).cast("long")
        ).withColumn(
            f"g{n}",
            F.greatest(F.col("c_len") - (n - 1), F.lit(0)).cast("long"),
        )
        cols += [f"m{n}", f"g{n}"]
    return out.select(*cols)


# --- Round 11: black-box label-shift estimation (BBSE) --------------------
#
# Lipton, Wang & Smola, "Detecting and Correcting for Label Shift with
# Black Box Predictors" (ICML 2018), binary form: under label shift the
# target class prior pi solves C @ pi = mu, where C is the classifier's
# source confusion (columns = true class) and mu its predicted-positive
# rate on the UNLABELED target.  For two classes the inversion is one
# rational expression — kept exact with integer cross-multiplication.
#
# Fixture staging: label = long document (n_chars >= BBSE_Y_CHARS),
# black-box classifier = token count >= BBSE_PRED_TOKS (correlated but
# imperfect), and the TARGET split is deliberately label-shifted by
# dropping the odd-parity quarter of its short docs — so the naive
# predicted rate is measurably wrong and the correction measurably
# right, with the target's true rate riding along as ground truth.
BBSE_Y_CHARS = 305
BBSE_PRED_TOKS = 56


@register(
    "label_shift_bbse_estimate",
    oracle_sql=f"""
    WITH scored AS (
      SELECT doc_id,
             CASE WHEN n_chars >= {BBSE_Y_CHARS} THEN 1 ELSE 0 END AS y,
             CASE WHEN len({_TOK}) >= {BBSE_PRED_TOKS} THEN 1 ELSE 0 END
               AS pred
      FROM documents
    ),
    src AS (
      SELECT CAST(sum(y) AS BIGINT) AS s1,
             CAST(count(*) - sum(y) AS BIGINT) AS s0,
             CAST(sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS s11,
             CAST(sum(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS s10
      FROM scored WHERE doc_id % 2 = 0
    ),
    tgt AS (
      SELECT CAST(sum(pred) AS BIGINT) AS m1,
             CAST(count(*) AS BIGINT) AS mt,
             CAST(sum(y) AS BIGINT) AS true_pos
      FROM scored
      WHERE doc_id % 2 = 1 AND NOT (y = 0 AND doc_id % 4 = 1)
    ),
    solved AS (
      SELECT s.s1, s.s0, s.s11, s.s10, t.m1, t.mt, t.true_pos,
             CAST(t.m1 AS HUGEINT) * s.s0 - CAST(s.s10 AS HUGEINT) * t.mt
               AS num_raw,
             CAST(t.mt AS HUGEINT)
               * (CAST(s.s11 AS HUGEINT) * s.s0
                  - CAST(s.s10 AS HUGEINT) * s.s1) AS den_raw
      FROM src s CROSS JOIN tgt t
    )
    SELECT s1, s0, s11, s10, m1, mt,
           CAST(CASE WHEN (num_raw * s1 >= 0) = (den_raw >= 0)
                     THEN 1 ELSE -1 END
                * (abs(num_raw * s1) * 1000000 // abs(den_raw))
                AS BIGINT) AS pi1_ppm,
           CAST(m1 * 1000000 // mt AS BIGINT) AS naive_pred_rate_ppm,
           CAST(true_pos * 1000000 // mt AS BIGINT) AS true_rate_ppm
    FROM solved
    """,
    tags=("text", "eval", "label-shift", "pipeline"),
)
def label_shift_bbse_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Black-box label-shift estimation (BBSE, binary): estimate the
    TARGET split's positive-class prior from (a) the classifier's
    confusion on the labeled SOURCE split and (b) nothing but its
    PREDICTIONS on the target — solving C pi = mu, the method-of-
    moments correction that beats reading the naive predicted rate
    whenever the classifier is imperfect.  The drift monitor to run
    when labels exist only upstream: [[psi_population_stability]]
    detects that inputs moved; BBSE says what the LABEL mix moved to.
    The target split is staged with genuine label shift (its
    odd-parity short docs drop); the moment equation is solved exactly
    (replayed in tests/test_round11_ops.py) with naive and true rates
    alongside for calibration.  BBSE's standing requirement applies:
    the confusion matrix must be well-conditioned (an uninformative
    classifier makes C singular and the estimate meaningless).

    Exactness: pi1 = (mu1 - c10) / (c11 - c10) with every rate kept a
    ratio of int64 counts and the division done once by integer
    cross-multiplication in DECIMAL(38,0)/HUGEINT, sign split from
    magnitude (the [[kendall_tau_topk_terms]] rule).

    Scale shape: one doc-grain map, two 1-row map-side-combined
    reduces (one per split), a 1x1 cross join — nothing else.

    Reference analog: none (LLM-pipeline eval surface per the brief).
    """
    d = compute_scan(spark, sf_dir, "documents")
    ts = tokenize(F.col("text"))
    scored = d.select(
        "doc_id",
        F.when(F.col("n_chars") >= BBSE_Y_CHARS, 1).otherwise(0).alias("y"),
        F.when(F.size(ts) >= BBSE_PRED_TOKS, 1).otherwise(0).alias("pred"),
    )
    src = scored.filter(F.col("doc_id") % 2 == 0).agg(
        F.sum("y").cast("long").alias("s1"),
        (F.count("*") - F.sum("y")).cast("long").alias("s0"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("s11"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("s10"),
    )
    tgt = scored.filter(
        (F.col("doc_id") % 2 == 1)
        & ~((F.col("y") == 0) & (F.col("doc_id") % 4 == 1))
    ).agg(
        F.sum("pred").cast("long").alias("m1"),
        F.count("*").cast("long").alias("mt"),
        F.sum("y").cast("long").alias("true_pos"),
    )
    solved = src.crossJoin(F.broadcast(tgt)).select(
        "s1",
        "s0",
        "s11",
        "s10",
        "m1",
        "mt",
        "true_pos",
        F.expr(
            "CAST(m1 AS DECIMAL(38,0)) * s0 - CAST(s10 AS DECIMAL(38,0)) * mt"
        ).alias("num_raw"),
        F.expr(
            "CAST(mt AS DECIMAL(38,0))"
            " * (CAST(s11 AS DECIMAL(38,0)) * s0"
            "    - CAST(s10 AS DECIMAL(38,0)) * s1)"
        ).alias("den_raw"),
    )
    return solved.select(
        "s1",
        "s0",
        "s11",
        "s10",
        "m1",
        "mt",
        F.expr(
            "CAST(CASE WHEN (num_raw * s1 >= 0) = (den_raw >= 0)"
            " THEN 1 ELSE -1 END"
            " * (abs(num_raw * s1) * 1000000 div abs(den_raw)) AS BIGINT)"
        ).alias("pi1_ppm"),
        F.expr("CAST(m1 * 1000000 div mt AS BIGINT)").alias(
            "naive_pred_rate_ppm"
        ),
        F.expr("CAST(true_pos * 1000000 div mt AS BIGINT)").alias(
            "true_rate_ppm"
        ),
    )


# --- Round 11: positional phrase query over the inverted index ------------


@register(
    "phrase_query_positional_index",
    oracle_sql=f"""
    WITH pos AS (
      SELECT doc_id, t.term, CAST(t.i AS BIGINT) AS p
      FROM (SELECT doc_id, list_transform(list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'), t -> t <> ''), t -> lower(substr(t, 1, 255))) AS ts FROM documents),
           LATERAL (SELECT unnest(ts) AS term,
                           generate_subscripts(ts, 1) AS i) t
    ),
    grams AS (
      SELECT g, count(*) AS n FROM (
        SELECT unnest(CASE WHEN len(ts) >= 3 THEN
          list_transform(generate_series(1, len(ts) - 2),
            i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])
          ELSE [] END) AS g
        FROM (SELECT list_transform(list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'), t -> t <> ''), t -> lower(substr(t, 1, 255))) AS ts FROM documents)
      ) GROUP BY g
    ),
    q AS (
      SELECT string_split(g, ' ') AS qt FROM grams
      ORDER BY n DESC, g LIMIT 1
    ),
    hits AS (
      SELECT a.doc_id, a.p AS first_pos
      FROM pos a
      JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
      JOIN pos c ON c.doc_id = a.doc_id AND c.p = a.p + 2
      CROSS JOIN q
      WHERE a.term = q.qt[1] AND b.term = q.qt[2] AND c.term = q.qt[3]
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(first_pos) AS BIGINT) AS first_pos
    FROM hits GROUP BY doc_id
    """,
    tags=("text", "retrieval", "phrase", "positional-index", "pipeline"),
)
def phrase_query_positional_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE query answered from a positional inverted index —
    the retrieval upgrade of the reference's flagship: the reference's
    index maps term -> doc list (src/main.c MR_Emit of (word, file));
    a positional index maps term -> (doc, position), and a phrase
    matches where the query terms' postings align at consecutive
    positions — the classic adjacency self-join, no text rescan at
    query time.  The query phrase is data-derived and deterministic
    (the corpus's most frequent trigram, ties to the lexicographically
    first), so the operator exercises both halves: the trigram-stats
    pass a query planner would cache, and the positional intersection
    that answers the query.

    Scale shape: the positional postings table is the tokenize explode
    (one row per token — the same volume the flagship index shuffles);
    the phrase match is two (doc_id, position)-keyed equi-joins
    restricted to the THREE query terms' postings (selective semi
    filters first, so the join touches only matching postings), and
    the query phrase itself is a TakeOrdered(1) head over the
    map-side-combined trigram counts.  At 100 TB the postings would be
    the persisted bucketed index ([[dedup_minhash_bucketed_probe]]'s
    storage pattern); here both halves run in one plan.

    Reference analog: extends rows 14-15 of SURVEY §2.1 (the inverted
    index sink) with the position payload real engines carry.
    """
    d = compute_scan(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id",
        F.posexplode(tokenize(F.col("text"))).alias("i", "term"),
    ).select("doc_id", "term", (F.col("i") + 1).cast("long").alias("p"))
    a, b, c = pos.alias("a"), pos.alias("b"), pos.alias("c")
    # trigram stats are an IN-ROW ngram explode (no join) — the
    # positional joins below are reserved for the half that needs them
    toks = d.select(tokenize(F.col("text")).alias("ts"))
    tri = (
        toks.select(F.explode(ngrams(F.col("ts"), 3)).alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("n"))
    )
    q = (
        tri.orderBy(F.desc("n"), F.asc("g"))
        .limit(1)
        .select(F.split("g", " ").alias("qt"))
    )
    hits = (
        a.crossJoin(F.broadcast(q))
        .filter(F.col("a.term") == F.col("qt").getItem(0))
        .join(
            b,
            (F.col("b.doc_id") == F.col("a.doc_id"))
            & (F.col("b.p") == F.col("a.p") + 1),
        )
        .filter(F.col("b.term") == F.col("qt").getItem(1))
        .join(
            c,
            (F.col("c.doc_id") == F.col("a.doc_id"))
            & (F.col("c.p") == F.col("a.p") + 2),
        )
        .filter(F.col("c.term") == F.col("qt").getItem(2))
        .select(F.col("a.doc_id").alias("doc_id"), F.col("a.p").alias("first_pos"))
    )
    return hits.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_occurrences"),
        F.min("first_pos").cast("long").alias("first_pos"),
    )


# --- Round 11: char-span -> token-span annotation alignment ---------------
#
# Annotation tooling emits CHARACTER offsets; token-level training
# (NER tags, span corruption, citation grounding) needs TOKEN indices.
# The alignment is exact integer arithmetic over in-row prefix sums of
# token lengths — one fixture annotation per doc (a 20-char span
# anchored at the first quarter point) keeps the oracle deterministic.
SPAN_ALIGN_LEN = 20


@register(
    "span_token_alignment",
    oracle_sql=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             CAST(n_chars // 4 + 1 AS BIGINT) AS s,
             CAST(n_chars // 4 + 1 + {SPAN_ALIGN_LEN} AS BIGINT) AS e
      FROM documents
    ),
    off AS (
      SELECT doc_id, toks, s, e,
             list_reduce(
               list_prepend([CAST(1 AS BIGINT)],
                 list_transform(toks, t -> [CAST(length(t) AS BIGINT)])),
               (acc, x) -> list_append(acc, acc[-1] + x[1] + 1)) AS starts
      FROM base
    ),
    cov AS (
      SELECT doc_id, toks, s, e,
             list_filter(generate_series(1, len(toks)),
               i -> starts[i] < e
                AND starts[i] + length(toks[i]) > s) AS c
      FROM off
    )
    SELECT doc_id, s AS char_start, e AS char_end,
           CAST(CASE WHEN len(c) > 0 THEN c[1] END AS BIGINT) AS tok_start,
           CAST(CASE WHEN len(c) > 0 THEN c[-1] END AS BIGINT) AS tok_end,
           CAST(len(c) AS BIGINT) AS n_tokens_covered,
           CASE WHEN len(c) > 0
                THEN md5(array_to_string(toks[c[1]:c[-1]], ' ')) END
             AS covered_md5
    FROM cov
    """,
    tags=("text", "alignment", "spans", "pipeline"),
)
def span_token_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-span to TOKEN-span alignment — the data-prep step
    between annotation tooling (which emits char offsets) and token-
    level training data (NER tags, grounded citations,
    [[span_corruption_masking]]-style objectives): for each document's
    fixture annotation ({SPAN_ALIGN_LEN} chars at the quarter point),
    the covered token range under the space-token segmentation whose
    char offsets are EXACT in-row prefix sums of token lengths.
    Overlap rule: token covers the span iff start < span_end and
    start + len > span_start (half-open on both sides).

    The prefix sums are a runtime list fold in BOTH engines (Spark
    ``aggregate`` with an array accumulator, DuckDB ``list_reduce``
    over single-element lists — its accumulator must share the element
    type), so the offsets stay O(tokens) per row with no O(n^2)
    re-concatenation and no token-grain explode — the whole operator
    is one shuffle-free map.

    Reference analog: none (LLM-pipeline data-prep surface).
    """
    base = compute_scan(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.expr("CAST(n_chars div 4 + 1 AS BIGINT)").alias("s"),
        F.expr(
            f"CAST(n_chars div 4 + 1 + {SPAN_ALIGN_LEN} AS BIGINT)"
        ).alias("e"),
    )
    off = base.withColumn(
        "starts",
        F.expr(
            "aggregate(transform(toks, t -> CAST(length(t) AS BIGINT)),"
            " array(CAST(1 AS BIGINT)),"
            " (acc, x) -> array_append(acc, element_at(acc, -1) + x + 1))"
        ),
    )
    cov = off.withColumn(
        "c",
        F.expr(
            "filter(sequence(1, size(toks)),"
            " i -> element_at(starts, i) < e"
            " AND element_at(starts, i)"
            "     + length(element_at(toks, i)) > s)"
        ),
    )
    return cov.select(
        "doc_id",
        F.col("s").alias("char_start"),
        F.col("e").alias("char_end"),
        F.expr(
            "CAST(CASE WHEN size(c) > 0 THEN element_at(c, 1) END AS BIGINT)"
        ).alias("tok_start"),
        F.expr(
            "CAST(CASE WHEN size(c) > 0 THEN element_at(c, -1) END AS BIGINT)"
        ).alias("tok_end"),
        F.size("c").cast("long").alias("n_tokens_covered"),
        F.expr(
            "CASE WHEN size(c) > 0 THEN md5(array_join("
            "slice(toks, CAST(element_at(c, 1) AS INT),"
            " CAST(element_at(c, -1) - element_at(c, 1) + 1 AS INT)), ' '))"
            " END"
        ).alias("covered_md5"),
    )

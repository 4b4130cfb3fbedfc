"""Corpus-hygiene operators for LLM training-data pipelines: repetition
statistics (Gopher-style), eval-set contamination auditing, cross-document
exact-substring duplicate detection, and PII redaction.

These extend the reference's filter-inside-Map idiom (a Map that drops or
rewrites records is filter+project, /root/reference/src/main.c:39-56) to
the document-hygiene stages every pre-training pipeline runs between raw
scrape and tokenization.  All are built-in column expressions — no Python
in the hot path — and every shuffle is keyed on a bounded-width digest.

Cross-engine determinism: ratio features are single IEEE divisions;
window/shingle content is pinned through md5; thresholds compare the same
doubles in both engines.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_c_implementation_spark.functions.text import (
    DUCKDB_TOKENIZE,
    duckdb_ngrams,
    ngrams,
    tokenize,
)
from mapreduce_c_implementation_spark.operators.textanalysis import (
    SPLIT_TRAIN_PCT,
    SPLIT_VALID_PCT,
)
from mapreduce_c_implementation_spark.registry import register
from mapreduce_c_implementation_spark.sources.tables import (
    compute_scan,
    local_frame,
    parallel_scan,
)

_TOK = DUCKDB_TOKENIZE.format(col="text")

# Gopher-style repetition thresholds: a document is dropped when one
# bigram dominates or when most of its bigrams are repeats.
REP_TOP_BIGRAM_MAX = 0.20
REP_DUP_BIGRAM_MAX = 0.50


@register(
    "repetition_ngram_stats",
    oracle_sql=f"""
    WITH toks AS (
      SELECT doc_id, {_TOK} AS tokens FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest({duckdb_ngrams("tokens", 2)}) AS g
      FROM toks
    ),
    counts AS (
      SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_bigrams,
             CAST(max(c) AS BIGINT) AS top_bigram_cnt,
             CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
               AS dup_bigram_occ
      FROM counts GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(p.n_bigrams, 0) AS n_bigrams,
           round(CAST(coalesce(p.top_bigram_cnt, 0) AS DOUBLE)
                 / greatest(coalesce(p.n_bigrams, 0), 1), 6) AS top_bigram_frac,
           round(CAST(coalesce(p.dup_bigram_occ, 0) AS DOUBLE)
                 / greatest(coalesce(p.n_bigrams, 0), 1), 6) AS dup_bigram_frac,
           CASE WHEN CAST(coalesce(p.top_bigram_cnt, 0) AS DOUBLE)
                     / greatest(coalesce(p.n_bigrams, 0), 1) > {REP_TOP_BIGRAM_MAX}
                  THEN 'drop:top_bigram'
                WHEN CAST(coalesce(p.dup_bigram_occ, 0) AS DOUBLE)
                     / greatest(coalesce(p.n_bigrams, 0), 1) > {REP_DUP_BIGRAM_MAX}
                  THEN 'drop:dup_bigrams'
                ELSE 'keep' END AS verdict
    FROM toks t LEFT JOIN per_doc p ON p.doc_id = t.doc_id
    """,
    tags=("text", "quality", "repetition", "pipeline"),
)
def repetition_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition detector: per document, the fraction of
    bigram mass held by the single most frequent bigram and the fraction
    of bigram occurrences that are repeats, with a keep/drop verdict.
    Boilerplate and looped generations light both signals up.

    Shape: one tokenize pass, explode bigrams, a (doc_id, bigram) partial
    aggregate (combines map-side), then a per-doc rollup — the first
    exchange keys on (doc_id, bigram) and the rollup re-exchanges on
    doc_id, but both carry only narrow count rows, never text; docs
    with <2 tokens are preserved via the left join (never silently
    dropped).
    """
    d = parallel_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("tokens"))
    counts = (
        toks.select("doc_id", F.explode(ngrams(F.col("tokens"), 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.max("c").cast("long").alias("top_bigram_cnt"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
        .cast("long")
        .alias("dup_bigram_occ"),
    )
    joined = toks.select("doc_id").join(per_doc, "doc_id", "left")
    n_bigrams = F.coalesce(F.col("n_bigrams"), F.lit(0))
    top_frac = (
        F.coalesce(F.col("top_bigram_cnt"), F.lit(0)).cast("double")
        / F.greatest(n_bigrams, F.lit(1))
    )
    dup_frac = (
        F.coalesce(F.col("dup_bigram_occ"), F.lit(0)).cast("double")
        / F.greatest(n_bigrams, F.lit(1))
    )
    verdict = (
        F.when(top_frac > REP_TOP_BIGRAM_MAX, F.lit("drop:top_bigram"))
        .when(dup_frac > REP_DUP_BIGRAM_MAX, F.lit("drop:dup_bigrams"))
        .otherwise(F.lit("keep"))
    )
    return joined.select(
        "doc_id",
        n_bigrams.alias("n_bigrams"),
        F.round(top_frac, 6).alias("top_bigram_frac"),
        F.round(dup_frac, 6).alias("dup_bigram_frac"),
        verdict.alias("verdict"),
    )


# Contamination audit: the "eval suite" is the deterministic slice
# doc_id % EVAL_MOD == 0; shingles are word 3-grams; a training document
# is contaminated when >= CONTAM_FRAC of its distinct shingles appear in
# the eval suite.
EVAL_MOD = 50
CONTAM_K = 3
CONTAM_FRAC = 0.05


@register(
    "contamination_ngram_overlap",
    oracle_sql=f"""
    WITH toks AS (
      SELECT doc_id, {_TOK} AS tokens FROM documents
    ),
    shingled AS (
      SELECT doc_id,
             unnest(list_distinct({duckdb_ngrams("tokens", CONTAM_K)})) AS sh
      FROM toks
    ),
    eval_sh AS (
      SELECT DISTINCT sh FROM shingled WHERE doc_id % {EVAL_MOD} = 0
    ),
    train_sh AS (
      SELECT doc_id, sh FROM shingled WHERE doc_id % {EVAL_MOD} <> 0
    ),
    base AS (
      SELECT doc_id, count(*) AS n_shingles FROM train_sh GROUP BY doc_id
    ),
    hits AS (
      SELECT t.doc_id, count(*) AS n_overlap
      FROM train_sh t JOIN eval_sh e ON t.sh = e.sh
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           coalesce(b.n_shingles, 0) AS n_shingles,
           coalesce(h.n_overlap, 0) AS n_overlap,
           round(CAST(coalesce(h.n_overlap, 0) AS DOUBLE)
                 / greatest(coalesce(b.n_shingles, 0), 1), 6) AS overlap_frac,
           CASE WHEN CAST(coalesce(h.n_overlap, 0) AS DOUBLE)
                     / greatest(coalesce(b.n_shingles, 0), 1) >= {CONTAM_FRAC}
                THEN 'contaminated' ELSE 'clean' END AS verdict
    FROM (SELECT doc_id FROM documents WHERE doc_id % {EVAL_MOD} <> 0) d
    LEFT JOIN base b ON b.doc_id = d.doc_id
    LEFT JOIN hits h ON h.doc_id = d.doc_id
    """,
    tags=("text", "contamination", "pipeline"),
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination audit: word {CONTAM_K}-gram shingles of
    every training document are checked against the distinct shingle set
    of a deterministic held-out eval slice (doc_id % {EVAL_MOD} == 0);
    documents whose distinct-shingle overlap fraction reaches
    {CONTAM_FRAC} are flagged — the n-gram-overlap decontamination rule
    used before pre-training runs.

    Scale shape: the probe is a plain EQUI-join on the shingle.  This
    fixture's eval side is a corpus SLICE (doc_id % {EVAL_MOD}), so its
    shingle set grows with the corpus and must shuffle-join — the same
    rule as the TF-IDF vocabulary table (never broadcast an unbounded
    side).  A production run against a curated, genuinely bounded
    benchmark suite would add F.broadcast on the eval side and skip
    that shuffle.  Per-doc rollups key on doc_id; documents with
    <{CONTAM_K} tokens keep a row (0 shingles, clean).
    """
    d = parallel_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("tokens"))
    shingled = toks.select(
        "doc_id",
        F.explode(F.array_distinct(ngrams(F.col("tokens"), CONTAM_K))).alias("sh"),
    )
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eval_sh = shingled.filter(is_eval).select("sh").distinct()
    train_sh = shingled.filter(~is_eval)
    base = train_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        train_sh.join(eval_sh, "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    out = (
        d.filter(~is_eval)
        .select("doc_id")
        .join(base, "doc_id", "left")
        .join(hits, "doc_id", "left")
    )
    n_shingles = F.coalesce(F.col("n_shingles"), F.lit(0))
    n_overlap = F.coalesce(F.col("n_overlap"), F.lit(0))
    frac = n_overlap.cast("double") / F.greatest(n_shingles, F.lit(1))
    return out.select(
        "doc_id",
        n_shingles.alias("n_shingles"),
        n_overlap.alias("n_overlap"),
        F.round(frac, 6).alias("overlap_frac"),
        F.when(frac >= CONTAM_FRAC, F.lit("contaminated"))
        .otherwise(F.lit("clean"))
        .alias("verdict"),
    )


# Exact-substring duplicate windows: {SUBSTR_WIN}-char windows anchored
# at CONTENT-DEFINED positions (the scalable stand-in for suffix-array
# exact-substring dedup — cf. the "Deduplicating Training Data Makes
# Language Models Better" recipe).  An anchor is a position whose
# {SUBSTR_GRAM}-char gram hashes to 0 mod {SUBSTR_STRIDE} — so anchor
# placement travels WITH the content, and two documents sharing a run
# anchor at the same in-run offsets no matter where the run sits in
# either document (fixed-grid windows only match runs whose start
# positions agree mod stride — ~1/stride of random alignments).
SUBSTR_WIN = 40
SUBSTR_STRIDE = 20
SUBSTR_GRAM = 8


@register(
    "exact_substring_duplicates",
    oracle_sql=f"""
    WITH wins AS (
      SELECT doc_id, md5(substr(text, i, {SUBSTR_WIN})) AS win_hash
      FROM (
        SELECT doc_id, text,
               unnest(generate_series(1, length(text) - {SUBSTR_WIN - 1})) AS i
        FROM documents WHERE length(text) >= {SUBSTR_WIN}
      )
      WHERE CAST('0x' || substr(md5(substr(text, i, {SUBSTR_GRAM})), 1, 4)
                 AS BIGINT) % {SUBSTR_STRIDE} = 0
    )
    SELECT win_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM wins
    GROUP BY win_hash
    HAVING count(DISTINCT doc_id) >= 2
    """,
    tags=("text", "dedup", "substring", "pipeline"),
)
def exact_substring_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring duplicate detection with
    content-defined anchoring: a {SUBSTR_WIN}-char window is hashed at
    every position whose leading {SUBSTR_GRAM}-char gram hashes to
    0 mod {SUBSTR_STRIDE} (expected density 1/{SUBSTR_STRIDE}); window
    digests seen in >= 2 distinct documents are reported with counts
    and the doc-id range.  Because anchors are chosen by CONTENT, two
    documents sharing a run anchor at identical in-run offsets
    regardless of where the run starts in each document — the
    alignment-independence fixed-stride grids lack.  A shared run of
    length L >= {SUBSTR_WIN + SUBSTR_GRAM} is detected unless it
    contains no anchor (probability ~(1 - 1/{SUBSTR_STRIDE})^(L - 47),
    vanishing for long runs).

    Scale shape: a narrow per-row flatMap — only 16-byte digests
    shuffle, expected ~n_chars/{SUBSTR_STRIDE} keys, one digest-keyed
    exchange (plus the distinct-agg expansion), no quadratic stage.
    The per-position gram hash costs one md5 per char here; a 100 TB
    deployment would swap in a rolling Karp-Rabin gram hash inside
    mapInPandas for the constant factor — the anchor contract (and so
    the output) is unchanged.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    positions = F.when(
        F.length("text") >= SUBSTR_WIN,
        F.sequence(F.lit(1), F.length("text") - (SUBSTR_WIN - 1)),
    ).otherwise(F.array().cast("array<int>"))
    gram_hash = F.conv(
        F.substring(
            F.md5(F.substring(F.col("text"), F.col("i"), SUBSTR_GRAM)), 1, 4
        ),
        16,
        10,
    ).cast("long")
    wins = (
        d.select("doc_id", "text", F.explode(positions).alias("i"))
        .filter(gram_hash % SUBSTR_STRIDE == 0)
        .select(
            "doc_id",
            F.md5(F.substring(F.col("text"), F.col("i"), SUBSTR_WIN)).alias(
                "win_hash"
            ),
        )
    )
    return (
        wins.groupBy("win_hash")
        .agg(
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occurrences"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# PII patterns — identical RE2/Java-regex-safe forms in both engines.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
PII_IP = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"


@register(
    "pii_redaction",
    oracle_sql=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                  || CAST((doc_id * 7) % 256 AS VARCHAR) AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{PII_PHONE}')) AS BIGINT)
             AS n_phones,
           CAST(len(regexp_extract_all(text, '{PII_IP}')) AS BIGINT) AS n_ips,
           md5(regexp_replace(
                 regexp_replace(
                   regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
                   '{PII_IP}', '<IP>', 'g'),
                 '{PII_PHONE}', '<PHONE>', 'g')) AS redacted_md5
    FROM aug
    """,
    tags=("text", "pii", "pipeline"),
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: count and mask emails, phone numbers, and IPv4
    addresses with typed placeholders.  The fixture corpus is synthetic
    word salad with no organic PII, so the query deterministically
    injects one of each (derived from doc_id) before redacting — the
    oracle performs the identical injection, so the match proves the
    detect+mask machinery, not the fixture.

    Shape: pure regexp map — no shuffle, whole-stage codegen; the
    patterns are RE2-safe so Java (Spark) and RE2 (DuckDB) agree.  The
    md5 of the redacted text pins every replacement position.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
        ).alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
            PII_IP,
            "<IP>",
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(PII_PHONE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.size(F.regexp_extract_all("text", F.lit(PII_IP), F.lit(0)))
        .cast("long")
        .alias("n_ips"),
        F.md5(redacted).alias("redacted_md5"),
    )


# Leakage fingerprint: the first LEAK_PREFIX_TOKENS tokens.  Exact-dup
# md5(full stream) finds nothing at small SF (the fixture has no exact
# dups below sf0.1); a prefix fingerprint catches shared templates /
# boilerplate openings — the same leakage class, reliably exercised.
LEAK_PREFIX_TOKENS = 16


@register(
    "cross_split_leakage_audit",
    oracle_sql=f"""
    WITH keyed AS (
      SELECT doc_id,
             md5(array_to_string({_TOK}[1:{LEAK_PREFIX_TOKENS}], ' '))
               AS content_key,
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                       AS BIGINT) % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
                  WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                       AS BIGINT) % 100 < {SPLIT_TRAIN_PCT + SPLIT_VALID_PCT}
                    THEN 'valid'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT content_key,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
           array_to_string(list_sort(list_distinct(list(split))), ',') AS splits,
           CASE WHEN count(DISTINCT split) > 1 THEN 1 ELSE 0 END AS leaked
    FROM keyed
    GROUP BY content_key
    HAVING count(*) >= 2
    """,
    tags=("text", "split", "audit", "pipeline"),
)
def cross_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit: documents sharing a content fingerprint
    (md5 of the first {LEAK_PREFIX_TOKENS} normalized tokens — the
    shared-template/boilerplate-opening duplicate class) that land in
    DIFFERENT splits of the deterministic md5 splitter leak training
    content into eval — the audit every dedup-then-split pipeline runs
    to prove stage ORDER (the reason dedup must precede splitting).
    Reports every duplicate group with its split spread and a leaked
    flag.

    One tokenize pass -> 16-byte digest groupBy (the dedup_exact
    shuffle shape) carrying only the 5-byte split tag; split assignment
    is the same content-hash bucketing as ``deterministic_split``, so
    the audit composes with it by construction.
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
    keyed = d.select(
        F.md5(
            F.array_join(
                F.slice(tokenize(F.col("text")), 1, LEAK_PREFIX_TOKENS), " "
            )
        ).alias("content_key"),
        split.alias("split"),
    )
    return (
        keyed.groupBy("content_key")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count_distinct("split").cast("long").alias("n_splits"),
            F.array_join(
                F.array_sort(F.collect_set("split")), ","
            ).alias("splits"),
            F.when(F.count_distinct("split") > 1, 1).otherwise(0).alias("leaked"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "leakage_split_repair",
    oracle_sql=f"""
    WITH keyed AS (
      SELECT doc_id,
             md5(array_to_string({_TOK}[1:{LEAK_PREFIX_TOKENS}], ' '))
               AS content_key,
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                       AS BIGINT) % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
                  WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                       AS BIGINT) % 100 < {SPLIT_TRAIN_PCT + SPLIT_VALID_PCT}
                    THEN 'valid'
                  ELSE 'test' END AS split
      FROM documents
    ),
    leaked AS (
      SELECT content_key,
             arg_min(split, doc_id) AS new_split
      FROM keyed
      GROUP BY content_key
      HAVING count(DISTINCT split) > 1
    )
    SELECT k.doc_id, k.content_key,
           k.split AS old_split, l.new_split,
           CAST(CASE WHEN k.split <> l.new_split THEN 1 ELSE 0 END AS BIGINT)
             AS moved
    FROM keyed k JOIN leaked l USING (content_key)
    """,
    tags=("text", "split", "repair", "pipeline"),
)
def leakage_split_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware split REPAIR — the fix for what
    [[cross_split_leakage_audit]] detects: every fingerprint group that
    straddles splits is reassigned WHOLE to one canonical split (the
    split of its min-doc_id member — deterministic and
    engine-independent), closing the audit->fix loop the way
    [[contamination_filter_rewrite]] did for eval contamination.
    Emits the repair table (doc_id, old/new split, moved flag) a
    pipeline would apply as the authoritative split override; after
    applying it, the audit's leaked count is zero by construction
    (pinned by test).

    Scale shape: the audit's digest-keyed groupBy (16-byte keys, split
    tag payload) with an arg-min canonical pick, then ONE equi-join of
    the leaked-group table back to the keyed docs on the digest.  The
    leaked table is duplicate-groups-only — far smaller than the
    corpus — and everything shuffles on the digest key; no windows, no
    driver state.

    Reference analog: none (LLM-pipeline surface per the brief); the rewrite extends the reference's filter-inside-Map idiom (/root/reference/src/main.c:39-56).
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
    keyed = d.select(
        "doc_id",
        F.md5(
            F.array_join(
                F.slice(tokenize(F.col("text")), 1, LEAK_PREFIX_TOKENS), " "
            )
        ).alias("content_key"),
        split.alias("split"),
    )
    leaked = (
        keyed.groupBy("content_key")
        .agg(
            F.expr("min_by(split, doc_id)").alias("new_split"),
            F.count_distinct("split").alias("n_splits"),
        )
        .filter(F.col("n_splits") > 1)
        .select("content_key", "new_split")
    )
    return keyed.join(leaked, "content_key").select(
        "doc_id",
        "content_key",
        F.col("split").alias("old_split"),
        "new_split",
        F.when(F.col("split") != F.col("new_split"), 1)
        .otherwise(0)
        .cast("long")
        .alias("moved"),
    )


# Shared CTE chain for the span family: anchored duplicate windows ->
# per-doc overlapping-window islands (used by substring_overlap_spans
# and the trim rewrite built on top of it).
_SQL_SPAN_CTES = f"""
    wins AS (
      SELECT doc_id, CAST(i AS BIGINT) AS i,
             md5(substr(text, i, {SUBSTR_WIN})) AS win_hash
      FROM (
        SELECT doc_id, text,
               unnest(generate_series(1, length(text) - {SUBSTR_WIN - 1})) AS i
        FROM documents WHERE length(text) >= {SUBSTR_WIN}
      )
      WHERE CAST('0x' || substr(md5(substr(text, i, {SUBSTR_GRAM})), 1, 4)
                 AS BIGINT) % {SUBSTR_STRIDE} = 0
    ),
    dup AS (
      SELECT win_hash FROM wins
      GROUP BY win_hash HAVING count(DISTINCT doc_id) >= 2
    ),
    occ AS (
      SELECT w.doc_id, w.i FROM wins w JOIN dup USING (win_hash)
    ),
    flagged AS (
      SELECT doc_id, i,
             CASE WHEN max(i + {SUBSTR_WIN}) OVER (
                    PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= i
                  THEN 0 ELSE 1 END AS new_span
      FROM occ
    ),
    islands AS (
      SELECT doc_id, i,
             sum(new_span) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS UNBOUNDED PRECEDING) AS span_id
      FROM flagged
    )
"""


@register(
    "substring_overlap_spans",
    oracle_sql=f"""
    WITH {_SQL_SPAN_CTES.strip()}
    SELECT doc_id,
           CAST(span_id AS BIGINT) AS span_id,
           CAST(min(i) AS BIGINT) AS span_start,
           CAST(max(i) + {SUBSTR_WIN} AS BIGINT) AS span_end,
           CAST(max(i) + {SUBSTR_WIN} - min(i) AS BIGINT) AS span_len,
           CAST(count(*) AS BIGINT) AS n_windows
    FROM islands
    GROUP BY doc_id, span_id
    """,
    tags=("text", "dedup", "substring", "spans", "pipeline"),
)
def substring_overlap_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-grain exact-substring overlap extraction — the partial-
    overlap TRIMMING companion to [[exact_substring_duplicates]]: for
    every content-anchored {SUBSTR_WIN}-char window seen in >= 2
    distinct documents, keep each occurrence's OFFSET, then merge
    per-document overlapping-or-adjacent duplicated windows into
    maximal spans (gaps-and-islands) — exactly the byte ranges a
    suffix-array-style dedup would cut out of each document while
    keeping the novel remainder (the "deduplicating training data"
    partial-dedup move, vs whole-doc dropping).

    Scale shape: the anchored-window flatMap shuffles (digest, offset)
    pairs once to find multi-doc windows, one digest-keyed equi-join
    back to occurrences (dup side is duplicate digests only), then a
    DOC-partitioned window sort for the island merge — per-document
    work, bounded by the heaviest single document, never cross-doc.
    The doc-grain span table is what a trimming rewrite would apply
    with one substring pass.

    Reference analog: none (LLM-pipeline surface per the brief).
    """
    d = parallel_scan(spark, sf_dir, "documents")
    positions = F.when(
        F.length("text") >= SUBSTR_WIN,
        F.sequence(F.lit(1), F.length("text") - (SUBSTR_WIN - 1)),
    ).otherwise(F.array().cast("array<int>"))
    gram_hash = F.conv(
        F.substring(
            F.md5(F.substring(F.col("text"), F.col("i"), SUBSTR_GRAM)), 1, 4
        ),
        16,
        10,
    ).cast("long")
    wins = (
        d.select("doc_id", "text", F.explode(positions).alias("i"))
        .filter(gram_hash % SUBSTR_STRIDE == 0)
        .select(
            "doc_id",
            F.col("i").cast("long").alias("i"),
            F.md5(F.substring(F.col("text"), F.col("i"), SUBSTR_WIN)).alias(
                "win_hash"
            ),
        )
        .cache()
    )
    # ">= 2 distinct docs" == min(doc) != max(doc): a plain min/max
    # aggregate (map-side combined, single exchange) instead of the
    # count_distinct whose Expand doubles the rows through the shuffle.
    dup = (
        wins.groupBy("win_hash")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .filter(F.col("mn") != F.col("mx"))
        .select("win_hash")
    )
    occ = wins.join(dup, "win_hash").select("doc_id", "i")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = occ.select(
        "doc_id",
        "i",
        F.when(
            F.max(F.col("i") + SUBSTR_WIN).over(w_prev) >= F.col("i"), 0
        )
        .otherwise(1)
        .alias("new_span"),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.select(
        "doc_id", "i", F.sum("new_span").over(w_run).alias("span_id")
    )
    return islands.groupBy("doc_id", "span_id").agg(
        F.min("i").alias("span_start"),
        (F.max("i") + SUBSTR_WIN).alias("span_end"),
        (F.max("i") + SUBSTR_WIN - F.min("i")).alias("span_len"),
        F.count("*").alias("n_windows"),
    )


@register(
    "substring_trim_rewrite",
    oracle_sql=f"""
    WITH {_SQL_SPAN_CTES.strip()},
    spans AS (
      SELECT doc_id, min(i) AS s, max(i) + {SUBSTR_WIN} AS e
      FROM islands GROUP BY doc_id, span_id
    ),
    gaps AS (
      SELECT doc_id,
             lag(e, 1, 1) OVER (PARTITION BY doc_id ORDER BY s) AS gs,
             s AS ge
      FROM spans
      UNION ALL
      SELECT doc_id, max(e) AS gs, NULL AS ge FROM spans GROUP BY doc_id
    ),
    chunks AS (
      SELECT g.doc_id, g.gs,
             substr(d.text, CAST(g.gs AS INTEGER),
                    CAST(coalesce(g.ge, length(d.text) + 1) - g.gs
                         AS INTEGER)) AS chunk
      FROM gaps g JOIN documents d USING (doc_id)
      WHERE coalesce(g.ge, length(d.text) + 1) > g.gs
    ),
    trimmed AS (
      SELECT doc_id, string_agg(chunk, '' ORDER BY gs) AS kept_text
      FROM chunks GROUP BY doc_id
    ),
    stats AS (
      SELECT doc_id, count(*) AS n_spans, sum(e - s) AS cut_chars
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_cut_spans,
           CAST(coalesce(st.cut_chars, 0) AS BIGINT) AS n_cut_chars,
           CAST(length(d.text) - coalesce(st.cut_chars, 0) AS BIGINT)
             AS kept_chars,
           md5(coalesce(t.kept_text,
                        CASE WHEN st.doc_id IS NOT NULL THEN '' ELSE d.text END))
             AS trimmed_md5
    FROM documents d
    LEFT JOIN trimmed t USING (doc_id)
    LEFT JOIN stats st USING (doc_id)
    """,
    tags=("text", "dedup", "substring", "rewrite", "pipeline"),
)
def substring_trim_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap TRIM rewrite — the fix for what
    [[substring_overlap_spans]] extracts: every document's maximal
    cross-document duplicated spans are CUT OUT and the novel remainder
    is stitched back together, the "deduplicating training data"
    partial-dedup move that salvages documents whole-doc dedup would
    drop.  Closes the span-extraction->fix loop the way
    [[leakage_split_repair]] closed the leakage audit and
    [[contamination_filter_rewrite]] closed the contamination audit.
    The md5 of the reassembled text pins every cut position and the
    stitch order; untouched documents pass through verbatim (their md5
    is the raw text's).  Reference analog: none (LLM-pipeline surface
    per the brief).

    Scale shape: the span table is doc-grain and small (duplicated
    regions only); gaps derive from one doc-partitioned lag window; the
    reassembly is an ordered string_agg per document (each chunk is a
    single in-row substring against the joined text) — all keyed on
    doc_id, bounded by the heaviest single document.  The corpus is
    scanned twice (span detection, chunk extraction), both scan-shaped.
    """
    spans = substring_overlap_spans(spark, sf_dir).select(
        "doc_id",
        F.col("span_start").alias("s"),
        F.col("span_end").alias("e"),
    # doc-grain and small, but its LINEAGE is the full anchored-span
    # pipeline (explode + two digest exchanges + island windows) and it
    # feeds THREE consumers (gaps_mid, gaps_tail, stats) — without the
    # cache the span detection runs three times per invocation (the
    # same fix substring_exact_trim_rewrite already carries).
    ).cache()
    d = parallel_scan(spark, sf_dir, "documents").select("doc_id", "text")
    w = Window.partitionBy("doc_id").orderBy("s")
    gaps_mid = spans.select(
        "doc_id",
        F.lag("e", 1, 1).over(w).alias("gs"),
        F.col("s").alias("ge"),
    )
    gaps_tail = spans.groupBy("doc_id").agg(
        F.max("e").alias("gs"), F.lit(None).cast("long").alias("ge")
    )
    gaps = gaps_mid.unionByName(gaps_tail)
    chunks = (
        gaps.join(d, "doc_id")
        .filter(
            F.coalesce(F.col("ge"), F.length("text") + 1) > F.col("gs")
        )
        .select(
            "doc_id",
            "gs",
            F.expr(
                "substring(text, CAST(gs AS INT),"
                " CAST(coalesce(ge, length(text) + 1) - gs AS INT))"
            ).alias("chunk"),
        )
    )
    trimmed = chunks.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("gs", "chunk"))),
                lambda x: x["chunk"],
            ),
            "",
        ).alias("kept_text")
    )
    stats = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).alias("cut_chars"),
    )
    return (
        d.join(trimmed, "doc_id", "left")
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_cut_spans"),
            F.coalesce("cut_chars", F.lit(0))
            .cast("long")
            .alias("n_cut_chars"),
            (F.length("text") - F.coalesce("cut_chars", F.lit(0)))
            .cast("long")
            .alias("kept_chars"),
            F.md5(
                F.coalesce(
                    "kept_text",
                    # a fully-cut document has spans but no chunks: its
                    # trimmed text is EMPTY, not the raw passthrough
                    F.when(F.col("n_spans").isNotNull(), F.lit("")).otherwise(
                        F.col("text")
                    ),
                )
            ).alias("trimmed_md5"),
        )
    )


# Safety-filter surrogate lexicon (the fixture is benign word salad, so
# a real toxicity list would never fire; these stand in with the exact
# runtime shape — two terms present in the fixture vocabulary, one
# absent to exercise the zero path) and the drop threshold.
TOX_TERMS = ("slow", "big", "crash")
TOX_MAX_PPM = 60_000


@register(
    "toxicity_wordlist_filter",
    oracle_sql=f"""
    WITH toks AS (
      SELECT doc_id, {_TOK} AS ts FROM documents
      WHERE len({_TOK}) > 0
    )
    SELECT doc_id,
           CAST(len(ts) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(ts, t -> list_contains(
                  {list(TOX_TERMS)!r}, t))) AS BIGINT) AS n_flagged,
           CAST(len(list_filter(ts, t -> list_contains(
                  {list(TOX_TERMS)!r}, t))) * 1000000 // len(ts) AS BIGINT)
             AS flagged_ppm,
           CASE WHEN len(list_filter(ts, t -> list_contains(
                  {list(TOX_TERMS)!r}, t))) * 1000000 // len(ts)
                  >= {TOX_MAX_PPM}
                THEN 'drop' ELSE 'keep' END AS verdict
    FROM toks
    """,
    tags=("text", "safety", "filter", "pipeline"),
)
def toxicity_wordlist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordlist-based safety filtering — the unsafe-content screen every
    pretraining pipeline runs next to quality filtering ([[
    gopher_quality_rules]] is the fluency twin; this is the lexicon
    gate): per document, the count and ppm density of lexicon hits and
    a keep/drop verdict at {TOX_MAX_PPM} ppm.  The lexicon here is a
    frozen {len(TOX_TERMS)}-term surrogate (the fixture corpus is
    benign); a production list swaps in via the same array literal —
    at realistic lexicon sizes (~1e3-1e4 terms) the array_contains
    scan becomes a broadcast hash join of the exploded token stream
    against the term table, same plan class as [[url_blocklist_filter]].

    Shape: one narrow in-row map (token-array filter, no explode) into
    the doc-grain result — scan-bound, zero shuffles, whole-stage
    codegen end to end.  The ppm division is integer floor in both
    engines.

    Reference analog: the filter-inside-Map idiom (/root/reference/src/main.c:39-56) applied to a lexicon gate; LLM-pipeline surface per the brief.
    """
    d = compute_scan(spark, sf_dir, "documents")
    ts = tokenize(F.col("text"))
    terms = F.array(*[F.lit(t) for t in TOX_TERMS])
    toks = d.select("doc_id", ts.alias("ts")).filter(F.size("ts") > 0)
    n_flagged = F.size(
        F.filter(F.col("ts"), lambda t: F.array_contains(terms, t))
    ).cast("long")
    return toks.select(
        "doc_id",
        F.size("ts").cast("long").alias("n_tokens"),
        n_flagged.alias("n_flagged"),
        F.expr(
            f"CAST(size(filter(ts, t -> array_contains("
            f"array{TOX_TERMS}, t))) AS BIGINT) * 1000000 div size(ts)"
        ).alias("flagged_ppm"),
        F.when(
            F.expr(
                f"CAST(size(filter(ts, t -> array_contains("
                f"array{TOX_TERMS}, t))) AS BIGINT) * 1000000 div size(ts)"
            )
            >= TOX_MAX_PPM,
            "drop",
        )
        .otherwise("keep")
        .alias("verdict"),
    )


# Winnowing (MOSS-style) fingerprint selection: token {WINNOW_GRAM}-gram
# hashes, and every window of {WINNOW_W} consecutive gram hashes selects
# its minimum — guaranteeing at least one fingerprint per window (the
# coverage guarantee mod-p sampling lacks) while keeping density ~2/(W+1).
WINNOW_GRAM = 3
WINNOW_W = 8


@register(
    "winnowing_fingerprint_dedup",
    oracle_sql=f"""
    WITH toks AS (
      SELECT doc_id, {_TOK} AS ts FROM documents
      WHERE len({_TOK}) >= {WINNOW_GRAM}
    ),
    grams AS (
      SELECT doc_id, i - 1 AS pos,
             CAST('0x' || substr(md5(array_to_string(
               list_slice(ts, i, i + {WINNOW_GRAM - 1}), ' ')), 1, 12)
               AS BIGINT) AS gh
      FROM (SELECT doc_id, ts,
                   unnest(generate_series(1, len(ts) - {WINNOW_GRAM - 1})) AS i
            FROM toks)
    ),
    winmin AS (
      SELECT doc_id, pos, gh,
             min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN {WINNOW_W - 1} PRECEDING
                           AND CURRENT ROW) AS wm
      FROM grams
    ),
    selected AS (
      SELECT doc_id, pos, gh FROM winmin
      WHERE pos >= {WINNOW_W - 1} AND gh = wm
    )
    SELECT gh AS fingerprint,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_selected,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM selected
    GROUP BY gh
    HAVING count(DISTINCT doc_id) >= 2
    """,
    tags=("text", "dedup", "fingerprint", "pipeline"),
)
def winnowing_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (the MOSS algorithm): hash every
    token {WINNOW_GRAM}-gram, slide a {WINNOW_W}-gram window, select
    each window's MINIMUM hash, and report fingerprints selected in
    >= 2 distinct documents.  Winnowing's guarantee — at least one
    fingerprint in every window — means any shared run of
    {WINNOW_W + WINNOW_GRAM - 1}+ tokens is ALWAYS detected, the
    coverage contract that [[exact_substring_duplicates]]'s mod-stride
    anchoring only meets in expectation (its misses vanish with run
    length; winnowing's are zero).  The two are the standard
    recall/cost pair for exact-overlap mining.

    Scale shape: gram hashing is a per-doc in-row flatMap; the window
    minimum is DOC-partitioned (bounded by the longest document, never
    cross-doc); only selected fingerprints — density ~2/({WINNOW_W}+1)
    of gram positions — shuffle to the final digest-keyed groupBy.
    Same exchange class as the substring detector, with the window
    pass traded for the coverage guarantee.

    Reference analog: none (LLM-pipeline surface per the brief; algorithm per Schleimer et al.'s winnowing paper).
    """
    d = compute_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("ts")).filter(
        F.size("ts") >= WINNOW_GRAM
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(ngrams(F.col("ts"), WINNOW_GRAM)).alias("pos", "gram"),
    ).select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5(F.col("gram")), 1, 12), 16, 10)
        .cast("long")
        .alias("gh"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    selected = (
        grams.select("doc_id", "pos", "gh", F.min("gh").over(w).alias("wm"))
        .filter((F.col("pos") >= WINNOW_W - 1) & (F.col("gh") == F.col("wm")))
    )
    return (
        selected.groupBy(F.col("gh").alias("fingerprint"))
        .agg(
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_selected"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# k-anonymity bar: a quasi-identifier combination shared by fewer than
# K individuals re-identifies them.
K_ANON = 5


@register(
    "k_anonymity_check",
    oracle_sql=f"""
    SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
           count(*) AS group_size,
           CAST(CASE WHEN count(*) >= {K_ANON} THEN 1 ELSE 0 END AS BIGINT)
             AS k_anonymous,
           CAST(substr(min(c_name), 1, 9) AS VARCHAR) AS sample_name_prefix
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
    tags=("privacy", "audit", "pipeline"),
)
def k_anonymity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit companion to [[pii_redaction]]: k-anonymity over the
    quasi-identifier pair (nation, market segment) on the customer
    table — every QI combination reports its group size and whether it
    clears k={K_ANON} (a group smaller than k re-identifies its members
    when the table is released).  The release decision a training-data
    pipeline makes before mixing user-derived records into a corpus.

    One hash aggregate on the QI columns — the same single-shuffle
    shape as word_count, so it scales to any table size; the truncated
    min-name prefix rides along as the redacted sample a privacy
    reviewer sees (9 chars = the constant 'Customer#' stem — the
    sample column demonstrates the redact-on-aggregate pattern without
    releasing an identifier).
    """
    from mapreduce_c_implementation_spark.sources import load_table

    c = load_table(spark, sf_dir, "customer")
    return c.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
    ).agg(
        F.count("*").alias("group_size"),
        F.when(F.count("*") >= K_ANON, 1).otherwise(0).cast("long").alias(
            "k_anonymous"
        ),
        F.substring(F.min("c_name"), 1, 9).alias("sample_name_prefix"),
    )


@register(
    "dataset_card_stats",
    oracle_sql=f"""
    WITH base AS (
      SELECT source, lang, CAST(len({_TOK}) AS BIGINT) AS tk, n_chars
      FROM documents
    ),
    sl AS (
      SELECT source, lang,
             CAST(count(*) AS BIGINT) AS c,
             CAST(sum(tk) AS BIGINT) AS t,
             CAST(sum(n_chars) AS BIGINT) AS nch
      FROM base GROUP BY source, lang
    ),
    tot AS (
      SELECT source,
             CAST(sum(c) AS BIGINT) AS n_docs,
             CAST(sum(t) AS BIGINT) AS n_tokens,
             CAST(sum(nch) AS BIGINT) AS n_chars_total,
             CAST(count(*) AS BIGINT) AS n_langs
      FROM sl GROUP BY source
    ),
    top AS (
      SELECT source, lang AS top_lang, c AS top_c FROM (
        SELECT sl.*, row_number() OVER (PARTITION BY source
                                        ORDER BY c DESC, lang ASC) AS rn
        FROM sl
      ) WHERE rn = 1
    )
    SELECT t.source, t.n_docs, t.n_tokens,
           CAST(t.n_tokens // t.n_docs AS BIGINT) AS tokens_per_doc,
           CAST(t.n_chars_total // t.n_docs AS BIGINT) AS chars_per_doc,
           t.n_langs, p.top_lang,
           CAST((p.top_c * 10000) // t.n_docs AS BIGINT) AS top_lang_share_bp
    FROM tot t JOIN top p ON p.source = t.source
    ORDER BY t.source
    """,
    tags=("corpus", "stats", "datasheet", "pipeline"),
)
def dataset_card_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset datasheet — the "Datasheets for Datasets" /
    model-card summary table every corpus release ships: document and
    token counts, mean document size, language spread, and the dominant
    language with its share.  All-integer (token counts, trunc
    divisions, basis points; non-negative so ``div`` == ``//``), with
    the dominant language chosen by a TOTAL order (count desc, lang
    asc) so ties cannot depend on partition layout.

    Scale shape: one tokenizing pass over the corpus feeds a
    (source, lang) aggregate — map-side combined down to the
    source x lang cardinality, the ONLY corpus-sized shuffle — and
    everything after runs on that metadata-sized table: the per-source
    rollup, the row_number window (partitioned by source, ranking only
    that source's languages), and a vocabulary-sized join.  At 100 TB
    this is the one-pass "corpus census" job whose output is a
    dashboard table.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    base = d.select(
        "source", "lang",
        F.size(tokenize(F.col("text"))).cast("long").alias("tk"),
        "n_chars",
    )
    sl = base.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("tk").cast("long").alias("t"),
        F.sum("n_chars").cast("long").alias("nch"),
    )
    tot = sl.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.sum("t").cast("long").alias("n_tokens"),
        F.sum("nch").cast("long").alias("n_chars_total"),
        F.count("*").cast("long").alias("n_langs"),
    )
    from pyspark.sql.window import Window

    top = (
        sl.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy(F.desc("c"), F.asc("lang"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("source").alias("p_source"),
            F.col("lang").alias("top_lang"),
            F.col("c").alias("top_c"),
        )
    )
    return (
        tot.join(top, tot.source == F.col("p_source"))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("n_tokens div n_docs").alias("tokens_per_doc"),
            F.expr("n_chars_total div n_docs").alias("chars_per_doc"),
            "n_langs",
            "top_lang",
            F.expr("top_c * 10000 div n_docs").alias("top_lang_share_bp"),
        )
        .orderBy("source")
    )


@register(
    "text_canonicalize_dedup",
    oracle_sql="""
    WITH canon AS (
      SELECT doc_id, text,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
               AS canon_text
      FROM documents
    )
    SELECT md5(canon_text) AS canon_hash,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT text) AS BIGINT) AS n_raw_variants,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
    FROM canon
    GROUP BY canon_text
    HAVING count(*) >= 2
    ORDER BY canon_hash
    """,
    tags=("dedup", "canonicalize", "pipeline"),
)
def text_canonicalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup: documents are canonicalized
    (casefold, collapse every non-alphanumeric run to one space, trim)
    BEFORE hashing, so trivially reformatted copies — whitespace,
    punctuation, capitalization variants — collapse into one group.
    This is the cheap middle rung between [[dedup_exact]] (raw-byte
    hash; misses reformatted copies) and MinHash (catches edits, costs
    a signature pass): real crawl pipelines run it first because it
    removes the bulk of boilerplate duplication for the price of one
    regex map.

    Each surviving group reports its size, how many RAW variants it
    collapsed (n_raw_variants > 1 is exactly the win over raw-hash
    dedup), and the smallest doc_id as the deterministic keeper.

    Scale shape: a narrow per-row regex map (stays in whole-stage
    codegen, no UDF), then ONE groupBy on the canonical digest —
    identical shuffle profile to dedup_exact; only 16-byte keys plus
    two counters move.  Spark's regexp_replace is global by default;
    the DuckDB mirror needs the explicit 'g' flag — a documented
    cross-engine trap.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    canon = d.select(
        "doc_id",
        "text",
        F.trim(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
        ).alias("canon_text"),
    )
    return (
        canon.groupBy("canon_text")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("text").alias("n_raw_variants"),
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            F.md5(F.col("canon_text")).alias("canon_hash"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_raw_variants").cast("long").alias("n_raw_variants"),
            "keeper_doc_id",
        )
        .orderBy("canon_hash")
    )


# Corpus version diff: v1/v2 are deterministic transforms of the same
# fixture (v1 lacks doc_id%7==5 "new" docs, v2 lacks doc_id%7==3
# "removed" docs, and doc_id%5==0 docs are "edited" in v2), so the
# operator contract — digest-keyed full-outer diff — runs on real data
# without needing a second corpus snapshot.
VDIFF_REMOVED_REM = 3
VDIFF_ADDED_REM = 5
VDIFF_EDIT_REM = 0


@register(
    "corpus_version_diff",
    oracle_sql=f"""
    WITH v1 AS (
      SELECT doc_id, md5(text) AS digest, n_chars
      FROM documents WHERE doc_id % 7 <> {VDIFF_ADDED_REM}
    ),
    v2 AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 5 = {VDIFF_EDIT_REM}
                      THEN text || ' edited' ELSE text END) AS digest,
             n_chars
      FROM documents WHERE doc_id % 7 <> {VDIFF_REMOVED_REM}
    ),
    diff AS (
      SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
             CASE WHEN v1.doc_id IS NULL THEN 'added'
                  WHEN v2.doc_id IS NULL THEN 'removed'
                  WHEN v1.digest <> v2.digest THEN 'changed'
                  ELSE 'unchanged' END AS status,
             COALESCE(v2.n_chars, v1.n_chars) AS n_chars
      FROM v1 FULL OUTER JOIN v2 ON v2.doc_id = v1.doc_id
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM diff
    GROUP BY status
    ORDER BY status
    """,
    tags=("corpus", "versioning", "diff", "pipeline"),
)
def corpus_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset release diff: digest-keyed full-outer comparison of two
    corpus versions into added / removed / changed / unchanged counts —
    the changelog every corpus release ships (and the input to
    incremental downstream recomputation: only added+changed re-enter
    [[dedup_minhash_incremental]]).  Versions are deterministic
    transforms of the fixture (see module constant comment) so the
    contract is exercised without a second snapshot table.

    Scale shape: one full-outer shuffle join on doc_id (at 100 TB:
    both sides bucketed by doc_id make it co-located, the
    [[bucketed_join_colocated]] layout), then a 4-row aggregate.
    Content equality compares 16-byte digests, never text.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    v1 = d.filter(F.col("doc_id") % 7 != VDIFF_ADDED_REM).select(
        "doc_id", F.md5("text").alias("digest"), "n_chars"
    )
    v2 = d.filter(F.col("doc_id") % 7 != VDIFF_REMOVED_REM).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 5 == VDIFF_EDIT_REM,
                F.concat(F.col("text"), F.lit(" edited")),
            ).otherwise(F.col("text"))
        ).alias("digest"),
        "n_chars",
    )
    diff = (
        v1.alias("a")
        .join(v2.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer")
        .select(
            F.when(F.col("a.doc_id").isNull(), "added")
            .when(F.col("b.doc_id").isNull(), "removed")
            .when(F.col("a.digest") != F.col("b.digest"), "changed")
            .otherwise("unchanged")
            .alias("status"),
            F.coalesce(F.col("b.n_chars"), F.col("a.n_chars")).alias("n_chars"),
        )
    )
    return (
        diff.groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("status")
    )


@register(
    "contamination_filter_rewrite",
    oracle_sql=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOK} AS tokens FROM documents
    ),
    shingled AS (
      SELECT doc_id,
             unnest(list_distinct({duckdb_ngrams("tokens", CONTAM_K)})) AS sh
      FROM toks
    ),
    eval_sh AS (
      SELECT DISTINCT sh FROM shingled WHERE doc_id % {EVAL_MOD} = 0
    ),
    base AS (
      SELECT doc_id, count(*) AS n_shingles
      FROM shingled WHERE doc_id % {EVAL_MOD} <> 0 GROUP BY doc_id
    ),
    hits AS (
      SELECT t.doc_id, count(*) AS n_overlap
      FROM (SELECT doc_id, sh FROM shingled WHERE doc_id % {EVAL_MOD} <> 0) t
      JOIN eval_sh e ON t.sh = e.sh
      GROUP BY t.doc_id
    ),
    verdicts AS (
      SELECT d.doc_id, d.source, len(d.tokens) AS n_toks,
             CASE WHEN coalesce(h.n_overlap, 0) * 10000
                       >= greatest(coalesce(b.n_shingles, 0), 1)
                          * {int(CONTAM_FRAC * 10000)}
                  THEN 1 ELSE 0 END AS dropped
      FROM toks d
      LEFT JOIN base b ON b.doc_id = d.doc_id
      LEFT JOIN hits h ON h.doc_id = d.doc_id
      WHERE d.doc_id % {EVAL_MOD} <> 0
    )
    SELECT source,
           CAST(sum(1 - dropped) AS BIGINT) AS n_kept,
           CAST(sum(dropped) AS BIGINT) AS n_dropped,
           CAST(sum((1 - dropped) * n_toks) AS BIGINT) AS kept_tokens
    FROM verdicts
    GROUP BY source
    ORDER BY source
    """,
    tags=("text", "contamination", "rewrite", "pipeline"),
)
def contamination_filter_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination as an ACTION: apply [[contamination_ngram_overlap]]'s
    verdict (drop training documents whose eval-shingle overlap reaches
    {CONTAM_FRAC:.0%}) and report the surviving corpus per source — the
    audit-to-rewrite pair [[dedup_paragraph_rewrite]] establishes for
    dedup, here for eval leakage.

    The threshold compare is the all-integer
    n_overlap * 10000 >= max(n_shingles, 1) * {int(CONTAM_FRAC * 10000)}
    — same verdicts as the audit's float fraction at any count, with no
    float boundary to disagree across engines.

    Scale shape: identical to the audit (shingle equi-join, doc-keyed
    rollups) plus one source-grain aggregate; the document text never
    re-materializes — the rewrite carries only (doc_id, source, token
    count) until the final fold.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", tokenize(F.col("text")).alias("tokens")
    )
    shingled = toks.select(
        "doc_id",
        F.explode(F.array_distinct(ngrams(F.col("tokens"), CONTAM_K))).alias(
            "sh"
        ),
    )
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eval_sh = shingled.filter(is_eval).select("sh").distinct()
    train_sh = shingled.filter(~is_eval)
    base = train_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        train_sh.join(eval_sh, "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    bp = int(CONTAM_FRAC * 10000)
    verdicts = (
        toks.filter(~is_eval)
        .select("doc_id", "source", F.size("tokens").alias("n_toks"))
        .join(base, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "source",
            "n_toks",
            F.when(
                F.coalesce(F.col("n_overlap"), F.lit(0)) * 10000
                >= F.greatest(
                    F.coalesce(F.col("n_shingles"), F.lit(0)), F.lit(1)
                )
                * bp,
                1,
            )
            .otherwise(0)
            .alias("dropped"),
        )
    )
    return (
        verdicts.groupBy("source")
        .agg(
            F.sum(1 - F.col("dropped")).cast("long").alias("n_kept"),
            F.sum("dropped").cast("long").alias("n_dropped"),
            F.sum((1 - F.col("dropped")) * F.col("n_toks"))
            .cast("long")
            .alias("kept_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# URL-level hygiene: canonicalization, URL dedup, blocklists, per-host caps.
# The fixture has no URL column, so a deterministic messy URL is DERIVED
# in-query from (doc_id, source, leading tokens) with doc_id-driven noise
# (scheme, www, default port, tracking params, fragments, trailing slash,
# case) — identical construction on both engines, so the thing under test
# is the canonicalization pipeline itself, exactly like corpus_version_diff
# derives its two snapshots from one fixture.
# ---------------------------------------------------------------------------

# Messy raw URL per document (DuckDB form; the Spark builder mirrors it
# column-op for column-op).  Duplicate canonical URLs arise whenever two
# docs share (source, first two tokens) — frequent under the fixture's
# small vocabulary — while the noise fields differ by doc_id.
_URL_RAW_SQL = f"""
    urls AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 13 = 0 THEN upper(u0) ELSE u0 END AS raw_url
      FROM (
        SELECT doc_id, source,
               (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
               || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
               || source || '.example.com'
               || (CASE WHEN doc_id % 10 = 0 THEN ':443' ELSE '' END)
               || '/' || {_TOK}[1]
               || (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END)
               || (CASE WHEN doc_id % 11 = 0 AND doc_id % 4 = 1
                        THEN '?page=2&utm_source=feed'
                        WHEN doc_id % 11 = 0 THEN '?page=2'
                        WHEN doc_id % 4 = 1 THEN '?utm_source=feed'
                        ELSE '' END)
               || (CASE WHEN doc_id % 7 = 0 THEN '#sec1' ELSE '' END) AS u0
        FROM documents
      )
    )
"""

# Canonicalization chain (DuckDB form).  Order matters: fragment before
# tracking-param removal (patterns use [^&#]); dangling ?/& cleanup after;
# default-port and slash-before-query via LITERAL replace (no regex
# dialect risk); trailing slash last.  DuckDB regexp_replace is
# first-match-only without the 'g' flag — Spark is always global, so the
# one multi-occurrence pattern (tracking params) carries 'g' here.
_URL_CANON_SQL = """
    regexp_replace(
      replace(
        replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(lower(raw_url), '^https?://', ''),
                  '^www\\.', ''),
                '#.*$', ''),
              '(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*&?', '', 'g'),
            '[?&]+$', ''),
          ':443/', '/'),
        '/?', '?'),
      '/+$', '')
"""


def _spark_url_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, raw_url, canonical_url, host) — the Spark mirror
    of ``_URL_RAW_SQL`` + ``_URL_CANON_SQL``."""
    d = parallel_scan(spark, sf_dir, "documents")
    ts = tokenize(F.col("text"))
    u0 = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https://")).otherwise(
            F.lit("http://")
        ),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example.com"),
        F.when(F.col("doc_id") % 10 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/"),
        F.element_at(ts, 1),
        F.when(F.col("doc_id") % 2 == 1, F.lit("/")).otherwise(F.lit("")),
        F.when(
            (F.col("doc_id") % 11 == 0) & (F.col("doc_id") % 4 == 1),
            F.lit("?page=2&utm_source=feed"),
        )
        .when(F.col("doc_id") % 11 == 0, F.lit("?page=2"))
        .when(F.col("doc_id") % 4 == 1, F.lit("?utm_source=feed"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("#sec1")).otherwise(F.lit("")),
    )
    raw = F.when(F.col("doc_id") % 13 == 0, F.upper(u0)).otherwise(u0)
    canon = F.regexp_replace(
        F.replace(
            F.replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace(
                            F.regexp_replace(
                                F.regexp_replace(
                                    F.lower(F.col("raw_url")),
                                    F.lit("^https?://"),
                                    F.lit(""),
                                ),
                                F.lit(r"^www\."),
                                F.lit(""),
                            ),
                            F.lit("#.*$"),
                            F.lit(""),
                        ),
                        F.lit("(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*&?"),
                        F.lit(""),
                    ),
                    F.lit("[?&]+$"),
                    F.lit(""),
                ),
                F.lit(":443/"),
                F.lit("/"),
            ),
            F.lit("/?"),
            F.lit("?"),
        ),
        F.lit("/+$"),
        F.lit(""),
    )
    return (
        d.select("doc_id", "source", raw.alias("raw_url"))
        .withColumn("canonical_url", canon)
        .withColumn("host", F.expr("split_part(canonical_url, '/', 1)"))
    )


@register(
    "url_canonicalize_dedup",
    oracle_sql=f"""
    WITH {_URL_RAW_SQL.strip()},
    canon AS (
      SELECT doc_id, raw_url, {_URL_CANON_SQL.strip()} AS canonical_url
      FROM urls
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT raw_url) AS BIGINT) AS n_raw_variants,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
    FROM canon
    GROUP BY canonical_url
    ORDER BY canonical_url
    """,
    tags=("url", "dedup", "canonicalize", "pipeline"),
)
def url_canonicalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-level keep-first dedup — the C4/
    CommonCrawl pre-step that runs BEFORE any content hashing: lowercase,
    strip scheme / leading www. / default port / tracking parameters
    (utm_*, fbclid, gclid, ref) / fragments / trailing slashes, KEEPING
    real query parameters (?page=2 survives), then group fetches by
    canonical URL and keep the smallest doc_id.  [[text_canonicalize_dedup]]
    is the same keep-first contract one stage later (content-level).

    Scale shape: the canonicalizer is a chain of whole-stage-codegen
    string ops (regex + literal replaces, no UDF); the dedup is ONE
    groupBy on the canonical string — the dedup_exact shuffle profile.
    Cross-engine trap documented in ``_URL_CANON_SQL``: DuckDB
    regexp_replace needs the explicit 'g' flag where Spark is global by
    default.
    """
    u = _spark_url_table(spark, sf_dir)
    return (
        u.groupBy("canonical_url")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("raw_url").cast("long").alias("n_raw_variants"),
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
        )
        .orderBy("canonical_url")
    )


# (host, path-prefix) blocklist: '' blocks the whole host.  K rows,
# broadcast; at 100 TB a real blocklist is still ~1e5 rows — broadcast.
_URL_BLOCKLIST = [
    ("src1.example.com", ""),
    ("src17.example.com", ""),
    ("src0.example.com", "/spark"),
]


@register(
    "url_blocklist_filter",
    oracle_sql=f"""
    WITH {_URL_RAW_SQL.strip()},
    canon AS (
      SELECT doc_id, source, {_URL_CANON_SQL.strip()} AS canonical_url
      FROM urls
    ),
    parts AS (
      SELECT doc_id, source, canonical_url,
             split_part(canonical_url, '/', 1) AS host,
             substr(canonical_url, length(split_part(canonical_url, '/', 1)) + 1)
               AS path
      FROM canon
    ),
    bl(bhost, bprefix) AS (
      VALUES {", ".join(f"('{h}', '{p}')" for h, p in _URL_BLOCKLIST)}
    ),
    flagged AS (
      SELECT p.doc_id, p.source,
             CASE WHEN EXISTS (
               SELECT 1 FROM bl
               WHERE bl.bhost = p.host AND starts_with(p.path, bl.bprefix)
             ) THEN 1 ELSE 0 END AS blocked
      FROM parts p
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(blocked) AS BIGINT) AS n_blocked,
           CAST(sum(1 - blocked) AS BIGINT) AS n_kept
    FROM flagged GROUP BY source ORDER BY source
    """,
    tags=("url", "filter", "blocklist", "pipeline"),
)
def url_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/prefix blocklist filter over canonical URLs — the opt-out /
    spam-list stage: a (host, path-prefix) rule table removes whole hosts
    (prefix '') or URL subtrees (prefix '/spark'), reported per source.

    Scale shape: the blocklist is a K-row BROADCAST joined on the equi
    host key with the prefix check as the join residual — a
    BroadcastHashJoin, never a nested loop, and still broadcastable at a
    real blocklist's ~1e5 rows.  The doc side is touched once.
    """
    u = _spark_url_table(spark, sf_dir).withColumn(
        "path", F.expr("substring(canonical_url, length(host) + 1)")
    )
    bl = local_frame(spark, _URL_BLOCKLIST, "bhost string, bprefix string")
    hit = (
        u.join(
            F.broadcast(bl),
            (F.col("host") == F.col("bhost"))
            & F.col("path").startswith(F.col("bprefix")),
            "left_semi",
        )
        .select("doc_id")
        .withColumn("blocked", F.lit(1))
    )
    return (
        u.select("doc_id", "source")
        .join(hit, "doc_id", "left")
        .select("source", F.coalesce("blocked", F.lit(0)).alias("blocked"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.sum("blocked").cast("long").alias("n_blocked"),
            F.sum(1 - F.col("blocked")).cast("long").alias("n_kept"),
        )
        .orderBy("source")
    )


# Per-host document cap (C4 keeps the first N pages per host).
DOMAIN_CAP = 16


@register(
    "domain_cap_rewrite",
    oracle_sql=f"""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN rn <= {DOMAIN_CAP} THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars,
           CAST(max(CASE WHEN rn <= {DOMAIN_CAP} THEN doc_id END) AS BIGINT)
             AS last_kept_doc
    FROM ranked GROUP BY source ORDER BY source
    """,
    tags=("url", "filter", "cap", "pipeline"),
)
def domain_cap_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host document cap — keep only the first {DOMAIN_CAP} documents
    per source (by doc_id), the C4-style guard against any one host
    dominating the corpus.  Complements [[source_concentration_metrics]]
    (which MEASURES dominance) with the rewrite that enforces the cap.

    Scale shape: one row_number window PARTITIONED BY the host key — a
    keyed shuffle, no global sort.  A pathological mega-host makes its
    partition hot, but mega-hosts are exactly what the cap discards: the
    production refinement is a per-host count pre-pass that routes only
    hosts over the cap through the rank (the [[bottomk_sample_per_group]]
    bound), leaving the long tail rank-free.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    ranked = d.select("doc_id", "source", "n_chars").withColumn(
        "rn", F.row_number().over(w)
    )
    kept = F.col("rn") <= DOMAIN_CAP
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.sum(kept.cast("int")).cast("long").alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("kept_chars"),
            F.max(F.when(kept, F.col("doc_id"))).cast("long").alias(
                "last_kept_doc"
            ),
        )
        .orderBy("source")
    )


# Bloom-filter contamination screen: M-bit filter, K md5-slice probes.
BLOOM_M = 65536
BLOOM_K = 3


@register(
    "bloom_contamination_screen",
    oracle_sql=f"""
    WITH toks AS (
      SELECT doc_id, {_TOK} AS tokens FROM documents
    ),
    shingled AS (
      SELECT doc_id,
             unnest(list_distinct({duckdb_ngrams("tokens", CONTAM_K)})) AS sh
      FROM toks
    ),
    eval_sh AS (
      SELECT DISTINCT sh FROM shingled WHERE doc_id % {EVAL_MOD} = 0
    ),
    bloom AS (
      SELECT DISTINCT pos FROM (
        SELECT unnest([
          CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT) % {BLOOM_M},
          CAST('0x' || substr(md5(sh), 9, 8) AS BIGINT) % {BLOOM_M},
          CAST('0x' || substr(md5(sh), 17, 8) AS BIGINT) % {BLOOM_M}
        ]) AS pos FROM eval_sh
      )
    ),
    train_sh AS (
      SELECT doc_id, sh,
             CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT) % {BLOOM_M} AS p0,
             CAST('0x' || substr(md5(sh), 9, 8) AS BIGINT) % {BLOOM_M} AS p1,
             CAST('0x' || substr(md5(sh), 17, 8) AS BIGINT) % {BLOOM_M} AS p2
      FROM shingled WHERE doc_id % {EVAL_MOD} <> 0
    ),
    verdicts AS (
      SELECT t.doc_id, t.sh,
             CASE WHEN EXISTS (SELECT 1 FROM bloom b WHERE b.pos = t.p0)
                   AND EXISTS (SELECT 1 FROM bloom b WHERE b.pos = t.p1)
                   AND EXISTS (SELECT 1 FROM bloom b WHERE b.pos = t.p2)
                  THEN 1 ELSE 0 END AS bloom_hit,
             CASE WHEN EXISTS (SELECT 1 FROM eval_sh e WHERE e.sh = t.sh)
                  THEN 1 ELSE 0 END AS exact_hit
      FROM train_sh t
    )
    SELECT CAST((SELECT count(*) FROM eval_sh) AS BIGINT) AS n_eval_shingles,
           CAST((SELECT count(*) FROM bloom) AS BIGINT) AS n_bits_set,
           CAST(count(*) AS BIGINT) AS n_train_shingles,
           CAST(sum(bloom_hit) AS BIGINT) AS n_bloom_hits,
           CAST(sum(exact_hit) AS BIGINT) AS n_exact_hits,
           CAST(sum(bloom_hit) - sum(exact_hit) AS BIGINT) AS n_false_pos,
           CAST((sum(bloom_hit) - sum(exact_hit)) * 1000000
                // greatest(count(*) - sum(exact_hit), 1) AS BIGINT)
             AS fp_rate_ppm
    FROM verdicts
    """,
    tags=("contamination", "bloom", "sketch", "pipeline"),
)
def bloom_contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter contamination screen: the eval slice's shingle set is
    folded into an {BLOOM_M}-bit Bloom filter ({BLOOM_K} md5-slice
    probes per shingle), every training shingle is screened against it,
    and the result is reconciled against [[contamination_ngram_overlap]]'s
    exact equi-join answer — reporting hits, exact hits, and the
    measured false-positive rate.  Zero false NEGATIVES by construction
    (a Bloom filter never misses a member); the op's one output row
    quantifies the FP cost of making the screen constant-memory.

    Scale shape: THIS is why the op exists — the exact screen must
    shuffle-join a corpus-growing eval-shingle set, while the Bloom set
    is at most {BLOOM_M} distinct bit positions NO MATTER how large the
    eval suite grows, so the position table always BROADCASTS.  Each
    training shingle probes it {BLOOM_K} times in one semi-join pass
    (position explode -> match-count == probe-count).  The exact column
    here is the audit; production runs bloom-only.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("tokens"))
    shingled = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(ngrams(F.col("tokens"), CONTAM_K))
        ).alias("sh"),
    )
    is_eval = F.col("doc_id") % EVAL_MOD == 0

    def pos(i: int):
        return (
            F.conv(F.substring(F.md5(F.col("sh")), 1 + 8 * i, 8), 16, 10)
            .cast("long")
            % BLOOM_M
        )

    eval_sh = shingled.filter(is_eval).select("sh").distinct()
    bloom = (
        eval_sh.select(
            F.explode(F.array(pos(0), pos(1), pos(2))).alias("pos")
        )
        .distinct()
    )
    bloom_n = bloom.agg(F.count("*").alias("n_bits_set"))
    eval_n = eval_sh.agg(F.count("*").alias("n_eval_shingles"))
    train = shingled.filter(~is_eval).select(
        "doc_id", "sh", pos(0).alias("p0"), pos(1).alias("p1"), pos(2).alias("p2")
    )
    probes = train.select(
        "doc_id",
        "sh",
        F.explode(F.array_distinct(F.array("p0", "p1", "p2"))).alias("pos"),
    ).withColumn("n_probe", F.count("*").over(
        Window.partitionBy("doc_id", "sh")
    ))
    matched = (
        probes.join(F.broadcast(bloom.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("doc_id", "sh")
        .agg(
            (F.sum(F.coalesce("hit", F.lit(0))) == F.max("n_probe"))
            .cast("int")
            .alias("bloom_hit")
        )
    )
    exact = (
        train.select("doc_id", "sh")
        .join(eval_sh.withColumn("ehit", F.lit(1)), "sh", "left")
        .select("doc_id", "sh", F.coalesce("ehit", F.lit(0)).alias("exact_hit"))
    )
    verdicts = matched.join(exact, ["doc_id", "sh"])
    return (
        verdicts.agg(
            F.count("*").cast("long").alias("n_train_shingles"),
            F.sum("bloom_hit").cast("long").alias("n_bloom_hits"),
            F.sum("exact_hit").cast("long").alias("n_exact_hits"),
            (F.sum("bloom_hit") - F.sum("exact_hit"))
            .cast("long")
            .alias("n_false_pos"),
            F.expr(
                "CAST((sum(bloom_hit) - sum(exact_hit)) * 1000000"
                " div greatest(count(*) - sum(exact_hit), 1L) AS BIGINT)"
            ).alias("fp_rate_ppm"),
        )
        .crossJoin(F.broadcast(eval_n))
        .crossJoin(F.broadcast(bloom_n))
        .select(
            F.col("n_eval_shingles").cast("long").alias("n_eval_shingles"),
            F.col("n_bits_set").cast("long").alias("n_bits_set"),
            "n_train_shingles",
            "n_bloom_hits",
            "n_exact_hits",
            "n_false_pos",
            "fp_rate_ppm",
        )
    )


# Line/template boilerplate removal, n-gram formulation (the fixture
# text has no newlines, so the "repeated line" unit is a token 4-gram).
# A 4-gram is boilerplate within a source when it appears in >=
# BOILER_PCT% of that source's documents.  The fixture corpus is
# synthetic random text with no real boilerplate, so — exactly like
# the [[url_canonicalize_dedup]] family synthesizes URLs — each source's
# header/footer template is injected deterministically in-query:
# doc_id % 3 != 0 gets a 5-token per-source header, doc_id % 2 == 0 a
# 5-token global footer.
BOILER_PCT = 30
_BOILER_FOOTER = ("follow", "us", "on", "spark", "today")
_BOILER_AUG_SQL = """
    aug AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 3 <> 0
                  THEN ['about', source, 'daily', 'news', 'digest']
                  ELSE CAST([] AS VARCHAR[]) END
             || {tok}
             || CASE WHEN doc_id % 2 = 0
                     THEN ['follow', 'us', 'on', 'spark', 'today']
                     ELSE CAST([] AS VARCHAR[]) END AS ts
      FROM documents
    )
"""


@register(
    "boilerplate_ngram_removal",
    oracle_sql=f"""
    WITH {_BOILER_AUG_SQL.format(tok=_TOK).strip()},
    grams AS (
      SELECT doc_id, source, unnest({duckdb_ngrams("ts", 4)}) AS g
      FROM aug
    ),
    src_counts AS (
      SELECT source, count(*) AS nd FROM aug GROUP BY source
    ),
    boiler AS (
      SELECT gr.source, gr.g
      FROM grams gr JOIN src_counts sc USING (source)
      GROUP BY gr.source, gr.g, sc.nd
      HAVING count(DISTINCT gr.doc_id) * 100 >= {BOILER_PCT} * sc.nd
    ),
    bsets AS (
      SELECT source, list(DISTINCT g ORDER BY g) AS bset
      FROM boiler GROUP BY source
    ),
    marked AS (
      SELECT a.doc_id, a.source, a.ts,
             coalesce(b.bset, CAST([] AS VARCHAR[])) AS bset,
             len(a.ts) AS n,
             list_transform(generate_series(1, len(a.ts)), p ->
               CASE WHEN len(a.ts) >= 4 THEN
                 len(list_filter(
                   generate_series(greatest(p - 3, 1), least(p, len(a.ts) - 3)),
                   i -> list_contains(coalesce(b.bset, CAST([] AS VARCHAR[])),
                                      array_to_string(list_slice(a.ts, i, i + 3),
                                                      ' ')))) > 0
               ELSE false END) AS cov
      FROM aug a LEFT JOIN bsets b USING (source)
    )
    SELECT doc_id, source,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(len(list_filter(cov, c -> c)) AS BIGINT) AS n_covered,
           CAST(n - len(list_filter(cov, c -> c)) AS BIGINT) AS n_kept,
           array_to_string(
             list_filter(list_transform(generate_series(1, n),
                                        p -> CASE WHEN cov[p] THEN NULL
                                                  ELSE ts[p] END),
                         x -> x IS NOT NULL), ' ') AS kept_text
    FROM marked
    """,
    tags=("text", "boilerplate", "rewrite", "pipeline"),
)
def boilerplate_ngram_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate removal with corpus REWRITE — the C4 /
    trafilatura "strip repeated page furniture" stage: a token 4-gram
    is boilerplate within a source when it occurs in >= {BOILER_PCT}%
    of the source's documents (header menus, subscribe footers, cookie
    banners); every token position covered by a boilerplate-gram
    occurrence is dropped and the document is reassembled from the
    survivors.  [[dedup_paragraph_rewrite]] removes cross-document
    REPEATS; this removes within-source TEMPLATES — the two rewrites
    real pipelines chain.

    Scale shape: one gram-grain map-side-combined groupBy builds the
    per-source boilerplate set (gram-digest keyed, the dedup_exact
    shuffle); the set is tiny by construction (only >={BOILER_PCT}%-
    frequent grams survive) so it broadcast-joins back on source, and
    the rewrite is pure in-row array arithmetic — no token-grain
    shuffle ever forms.  The covered-position mask recomputes at most
    4 gram lookups per token against the broadcast set (bounded
    constant, not the [[skipgram_cooccurrence]] re-tokenization trap —
    the token array is materialized once).
    """
    d = parallel_scan(spark, sf_dir, "documents")
    header = F.array(
        F.lit("about"), F.col("source"), F.lit("daily"), F.lit("news"), F.lit("digest")
    )
    footer = F.array(*[F.lit(w) for w in _BOILER_FOOTER])
    empty = F.array().cast("array<string>")
    aug = d.select(
        "doc_id",
        "source",
        F.concat(
            F.when(F.col("doc_id") % 3 != 0, header).otherwise(empty),
            tokenize(F.col("text")),
            F.when(F.col("doc_id") % 2 == 0, footer).otherwise(empty),
        ).alias("ts"),
    )
    grams = aug.select("doc_id", "source", F.explode(ngrams(F.col("ts"), 4)).alias("g"))
    src_counts = aug.groupBy("source").agg(F.count("*").alias("nd"))
    boiler = (
        grams.groupBy("source", "g")
        .agg(F.count_distinct("doc_id").alias("df"))
        .join(F.broadcast(src_counts), "source")
        .filter(F.col("df") * 100 >= BOILER_PCT * F.col("nd"))
    )
    bsets = boiler.groupBy("source").agg(
        F.array_sort(F.collect_set("g")).alias("bset")
    )
    marked = (
        aug.join(F.broadcast(bsets), "source", "left")
        .withColumn("bset", F.coalesce(F.col("bset"), empty))
        .withColumn("n", F.size("ts"))
        .withColumn(
            "cov",
            F.transform(
                F.sequence(F.lit(1), F.col("n")),
                lambda p: F.when(
                    F.col("n") >= 4,
                    F.exists(
                        F.sequence(
                            F.greatest(p - 3, F.lit(1)),
                            F.least(p, F.col("n") - 3),
                        ),
                        lambda i: F.array_contains(
                            F.col("bset"),
                            F.concat_ws(" ", F.slice(F.col("ts"), i, 4)),
                        ),
                    ),
                ).otherwise(F.lit(False)),
            ),
        )
    )
    n_cov = F.size(F.filter(F.col("cov"), lambda c: c))
    kept = F.filter(
        F.zip_with(
            F.col("ts"), F.col("cov"), lambda t, c: F.when(~c, t)
        ),
        lambda x: x.isNotNull(),
    )
    return marked.select(
        "doc_id",
        "source",
        F.col("n").cast("long").alias("n_tokens"),
        n_cov.cast("long").alias("n_covered"),
        (F.col("n") - n_cov).cast("long").alias("n_kept"),
        F.concat_ws(" ", kept).alias("kept_text"),
    )


@register(
    "duplicate_token_run_collapse",
    oracle_sql=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS ts FROM documents),
    pos AS (
      SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i FROM toks
    ),
    kept AS (
      SELECT doc_id, i, ts[i] AS t FROM pos
      WHERE i = 1 OR ts[i] <> ts[i - 1]
    )
    SELECT t.doc_id,
           CAST(len(t.ts) AS BIGINT) AS n_tokens,
           CAST(len(t.ts) - count(k.i) AS BIGINT) AS n_collapsed,
           coalesce(string_agg(k.t, ' ' ORDER BY k.i), '') AS kept_text
    FROM toks t LEFT JOIN kept k ON k.doc_id = t.doc_id
    GROUP BY t.doc_id, len(t.ts)
    """,
    tags=("corpus", "rewrite", "hygiene", "pipeline"),
)
def duplicate_token_run_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-document repeated-run collapse: consecutive occurrences of the
    same token fold to one ("very very very" -> "very") — the cheap
    intra-document repetition cleanup that runs BEFORE the corpus-level
    passes ([[repetition_ngram_stats]] measures repetition,
    [[boilerplate_ngram_removal]] strips cross-document templates; this
    op rewrites the stutter class those leave behind).  Keeps the FIRST
    token of each run, so document prefixes (and any prefix-keyed
    fingerprint) are stable.

    Exactness: keep token i iff i is first or differs from token i-1 —
    a pure positional predicate, no hashing, no thresholds.  The Spark
    side evaluates it as an indexed array lambda (the ``(x, i)`` form of
    ``F.filter``); the oracle unrolls the same predicate over
    ``generate_series`` positions.

    Scale shape: a per-row map — zero shuffle, whole-stage codegen; at
    100 TB the cost is one pass over the text bytes, and it pipelines
    into whatever downstream scan consumes the rewritten text.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("ts"))
    ts = F.col("ts")
    kept = F.filter(
        ts,
        lambda x, i: (i == F.lit(0))
        | (x != F.element_at(ts, F.greatest(i, F.lit(1)))),
    )
    return toks.select(
        "doc_id",
        F.size(ts).cast("long").alias("n_tokens"),
        (F.size(ts) - F.size(kept)).cast("long").alias("n_collapsed"),
        F.concat_ws(" ", kept).alias("kept_text"),
    )


# Cross-source contamination shingle width: the same 5-gram grain the
# train/eval contamination ops use — wide enough that shared shingles
# mean copied phrasing, not shared vocabulary.
XSRC_NGRAM = 5


@register(
    "cross_source_contamination_matrix",
    oracle_sql=f"""
    WITH toks AS (SELECT source, {_TOK} AS ts FROM documents),
    sh AS (
      SELECT DISTINCT source, md5(g) AS h
      FROM (SELECT source, unnest({duckdb_ngrams('ts', 5)}) AS g FROM toks)
    ),
    tot AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source)
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS shared,
           CAST(max(ta.n_sh) AS BIGINT) AS n_a,
           CAST(max(tb.n_sh) AS BIGINT) AS n_b,
           CAST(count(*) * 1000000
                // (max(ta.n_sh) + max(tb.n_sh) - count(*)) AS BIGINT)
             AS jaccard_ppm
    FROM sh a
    JOIN sh b ON a.h = b.h AND a.source < b.source
    JOIN tot ta ON ta.source = a.source
    JOIN tot tb ON tb.source = b.source
    GROUP BY a.source, b.source
    """,
    tags=("corpus", "contamination", "dedup", "pipeline"),
)
def cross_source_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-by-source contamination matrix: for every source pair,
    the count of shared distinct {XSRC_NGRAM}-gram shingles and the
    shingle-set Jaccard — the table that answers "which of my corpus
    sources copy from each other" before mixing weights are set
    ([[source_temperature_mixing]]) or provenance-keyed dedup order is
    chosen ([[dedup_keep_representatives]]).  Train/eval leakage is the
    same computation with splits as the grouping key
    ([[cross_split_leakage_audit]]); this is the source-provenance form.

    Exactness: shingle sets are DISTINCT (source, md5(5-gram)) pairs,
    so a phrase repeated a thousand times in both sources still counts
    once; Jaccard is a ppm floor division over non-negative counts.

    Scale shape: corpus -> distinct (source, shingle) is one
    shingle-grain aggregate; the pair expansion then happens IN-ROW on
    a shingle-grain collect_set of the sources carrying each shingle —
    a list bounded by S (= #sources, a catalog-bounded constant), so
    the fan-out is <= S(S-1)/2 per shingle and never
    document-quadratic.  This replaces the naive self-join on the
    shingle hash, which shuffles (and, worse, re-tokenizes) the full
    shingle table twice — measured 27.6 s -> ~4 s at sf0.1.  Totals
    are source-grain (S rows, broadcast).  Output is S*(S-1)/2 rows at
    any corpus size.
    """
    d = compute_scan(spark, sf_dir, "documents")
    # bind the token array before the n-gram HOF (the skipgram rule,
    # docs/SCALING.md Findings): ngrams() reads its input once per
    # gram element, so the raw tokenize() expression would re-run the
    # regex per gram (measured 19.2x -> linear at 32x)
    sh = (
        d.select("source", tokenize(F.col("text")).alias("ts"))
        .select(
            "source",
            F.explode(ngrams(F.col("ts"), XSRC_NGRAM)).alias("g"),
        )
        .select("source", F.md5("g").alias("h"))
        .distinct()
    )
    tot = sh.groupBy("source").agg(F.count("*").alias("n_sh"))
    by_h = sh.groupBy("h").agg(
        F.sort_array(F.collect_set("source")).alias("ss")
    )
    pair_list = F.flatten(
        F.transform(
            F.col("ss"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("ss"), i + 2, F.size(F.col("ss")) - i - 1
                ),
                lambda y: F.struct(
                    x.alias("source_a"), y.alias("source_b")
                ),
            ),
        )
    )
    pairs = (
        by_h.filter(F.size("ss") >= 2)
        .select(F.explode(pair_list).alias("p"))
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("shared"))
    )
    ta = tot.select(
        F.col("source").alias("source_a"), F.col("n_sh").alias("n_a")
    )
    tb = tot.select(
        F.col("source").alias("source_b"), F.col("n_sh").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .selectExpr(
            "source_a",
            "source_b",
            "shared",
            "CAST(n_a AS BIGINT) AS n_a",
            "CAST(n_b AS BIGINT) AS n_b",
            "CAST(shared * 1000000 div (n_a + n_b - shared) AS BIGINT)"
            " AS jaccard_ppm",
        )
    )


# --- Round 9: exact substring dedup (suffix-array family) -------------
#
# The anchored family above ([[exact_substring_duplicates]],
# [[substring_overlap_spans]]) trades recall for a ~1/stride cost cut.
# These two operators are the EXACT tier: every position is a suffix,
# no anchors, no misses — the "Deduplicating Training Data" suffix-array
# construction re-expressed as relational ops.  A duplicated substring
# of length >= SUFFIX_MINLEN exists iff some SUFFIX_MINLEN-char gram
# occurs at >= 2 positions, and the MAXIMAL match length at a position
# is the larger LCP against its rank-order neighbors within the shared
# gram bucket (the suffix-array LCP property: the nearest suffixes in
# sorted order realize the longest common prefixes).
SUFFIX_MINLEN = 20  # detection grain: minimal duplicated-substring length
SUFFIX_K = 64  # suffix key depth: match lengths reported up to this cap

# Prefix-bisection LCP: after step s the prefix [1, l] is known equal;
# probe [1, l + s].  Steps sum to 127 > SUFFIX_K, so equal keys resolve
# to the length cap via the trailing least().  O(log K) substring
# comparisons instead of the O(K^2) monotone-count fold.
_LCP_STEPS = (64, 32, 16, 8, 4, 2, 1)


def lcp_step_exprs(a: str, b: str, prefix: str, out: str) -> list[tuple[str, str]]:
    """[(alias, sql)] chain computing least-capped LCP(a, b) by prefix
    bisection.  Identical SQL text drives both engines: Spark consumes
    the steps as chained projections, the DuckDB oracle as lateral
    column aliases in one SELECT."""
    steps: list[tuple[str, str]] = []
    prev = "0"
    for k, s in enumerate(_LCP_STEPS):
        alias = f"{prefix}{k}"
        steps.append(
            (
                alias,
                f"{prev} + (CASE WHEN substr({a}, 1, {prev} + {s})"
                f" = substr({b}, 1, {prev} + {s}) THEN {s} ELSE 0 END)",
            )
        )
        prev = alias
    steps.append((out, f"least({prev}, length({a}), length({b}))"))
    return steps


def _sql_lateral(steps: list[tuple[str, str]]) -> str:
    return ",\n             ".join(f"{sql} AS {alias}" for alias, sql in steps)


_SQL_SUFFIXES = f"""
    suf AS MATERIALIZED (
      SELECT doc_id, CAST(i AS BIGINT) AS i,
             substr(text, i, {SUFFIX_MINLEN}) AS bucket,
             substr(text, i, {SUFFIX_K}) AS sk
      FROM (
        SELECT doc_id, text,
               unnest(generate_series(1, length(text) - {SUFFIX_MINLEN - 1})) AS i
        FROM documents WHERE length(text) >= {SUFFIX_MINLEN}
      )
    )
"""


@register(
    "suffix_array_ranked_lcp",
    oracle_sql=f"""
    WITH {_SQL_SUFFIXES.strip()},
    nbr AS MATERIALIZED (
      SELECT doc_id, i, sk,
             coalesce(lag(sk) OVER w, '') AS prev_sk,
             coalesce(lead(sk) OVER w, '') AS next_sk
      FROM (SELECT *, count(*) OVER (PARTITION BY bucket) AS nb FROM suf)
      WHERE nb >= 2
      WINDOW w AS (PARTITION BY bucket ORDER BY sk, doc_id, i)
    ),
    lcp AS MATERIALIZED (
      SELECT doc_id, i,
             {_sql_lateral(lcp_step_exprs("sk", "prev_sk", "_p", "lcp_prev"))},
             {_sql_lateral(lcp_step_exprs("sk", "next_sk", "_n", "lcp_next"))},
             greatest(lcp_prev, lcp_next) AS match_len
      FROM nbr
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_dup_suffixes,
           CAST(max(match_len) AS BIGINT) AS max_match_len,
           CAST(min(CASE WHEN match_len = mx THEN i END) AS BIGINT) AS argmax_pos
    FROM (SELECT *, max(match_len) OVER (PARTITION BY doc_id) AS mx FROM lcp)
    GROUP BY doc_id
    """,
    tags=("text", "dedup", "substring", "suffix", "pipeline"),
)
def suffix_array_ranked_lcp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix ranking with neighbor LCP — the EXACT maximal-duplicated-
    match report the stride-anchored screens cannot give: every
    position is a suffix keyed by its first {SUFFIX_K} chars; suffixes
    sharing a {SUFFIX_MINLEN}-char leading gram (>= 2 occurrences
    anywhere in the corpus, same- or cross-document) are ranked within
    the gram bucket, and each takes the larger prefix-bisection LCP
    against its two rank neighbors — by the suffix-array LCP property
    that IS its maximal duplicated-match length (capped at {SUFFIX_K}:
    the prefix-bisection steps sum to {SUFFIX_K} * 2 - 1 probes and
    fully equal {SUFFIX_K}-char keys report {SUFFIX_K}, the trailing
    least() only re-caps at key length).  Doc-grain rollup:
    duplicated-suffix count, max
    match length, and the earliest position achieving it.

    Scale shape: suffix enumeration is an in-row flatMap (one row per
    corpus char, each carrying <= {SUFFIX_MINLEN + SUFFIX_K} chars —
    the linear-space trick vs materializing real suffixes); ONE
    exchange on the gram bucket serves both the duplicate screen
    (windowed count) and the rank sort (bucket-partitioned window —
    global suffix order is never needed: neighbors with LCP >=
    {SUFFIX_MINLEN} share the bucket by construction, so bucket-local
    adjacency is exact; an 8-byte hashed bucket key was tried and
    measured SLOWER — see the in-code note).  LCP is O(log K) substring probes, only on
    duplicated suffixes (~15% of positions on this fixture).  The
    doc-grain window + groupBy share the second exchange.  At 100 TB
    the per-position substring would come from a rolling scan inside
    mapInPandas; keys, buckets, and output are unchanged.

    Reference analog: none (LLM-pipeline surface per the brief);
    completes the round-8 span family's exactness ladder.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    positions = F.when(
        F.length("text") >= SUFFIX_MINLEN,
        F.sequence(F.lit(1), F.length("text") - (SUFFIX_MINLEN - 1)),
    ).otherwise(F.array().cast("array<int>"))
    # The bucket is the RAW {SUFFIX_MINLEN}-char gram, deliberately.
    # An xxhash64(gram) key (8 bytes/row instead of ~{SUFFIX_MINLEN},
    # with a match_len >= {SUFFIX_MINLEN} collision filter) was tried
    # and MEASURED 2.2x SLOWER at sf0.1 (6.0 s -> 13.4 s): the
    # collision filter re-inlines the full LCP bisection expression
    # tree into the projection (CollapseProject), the generated method
    # blows janino's limit, and the whole stage falls back to
    # interpreted evaluation — far costlier than the ~25% shuffle-
    # payload saving.  Measure, don't guess.
    suf = d.select("doc_id", "text", F.explode(positions).alias("i")).select(
        "doc_id",
        F.col("i").cast("long").alias("i"),
        F.substring(F.col("text"), F.col("i"), SUFFIX_MINLEN).alias("bucket"),
        F.substring(F.col("text"), F.col("i"), SUFFIX_K).alias("sk"),
    )
    # ONE window pass: the duplicate-screen count shares the rank
    # window's (partition, order) spec via an unbounded frame, so
    # count/lag/lead all evaluate in a single WindowExec over a single
    # sort — the former unordered count-window pass (its own
    # bucket-sort + full-data Window node before the filter) is gone.
    # The bucket filter drops WHOLE buckets, so lag/lead neighbors
    # within surviving buckets are unchanged by filtering after.
    # r14 examined, REJECTED (VERDICT r13 item 6): pruning the sorted
    # set to collided buckets via a pre-aggregated shuffled-hash
    # semi-join on bucket (count partials shuffle, only ~15% of rows
    # sorted — plan pair in plans/r14/suffix_array_ranked_lcp_*.txt)
    # measured 0.81x in a controlled same-window A/B (5.45 -> 6.72 s,
    # control flat at 0.97): buckets are mostly UNIQUE, so the
    # per-bucket count aggregate barely compacts map-side and its
    # exchange plus the hash build cost more than the 85% sort cut —
    # the screen's proxy rows are nearly as many as the data rows,
    # which breaks the §8 "decide with small rows" premise.
    w_rank = Window.partitionBy("bucket").orderBy("sk", "doc_id", "i")
    w_all = w_rank.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    nbr = (
        suf.withColumn("nb", F.count("*").over(w_all))
        .withColumn("prev_sk", F.coalesce(F.lag("sk").over(w_rank), F.lit("")))
        .withColumn("next_sk", F.coalesce(F.lead("sk").over(w_rank), F.lit("")))
        .filter(F.col("nb") >= 2)
        .select("doc_id", "i", "sk", "prev_sk", "next_sk")
    )
    for alias, sql in lcp_step_exprs("sk", "prev_sk", "_p", "lcp_prev"):
        nbr = nbr.withColumn(alias, F.expr(sql))
    for alias, sql in lcp_step_exprs("sk", "next_sk", "_n", "lcp_next"):
        nbr = nbr.withColumn(alias, F.expr(sql))
    lcp = nbr.select(
        "doc_id",
        "i",
        F.greatest("lcp_prev", "lcp_next").alias("match_len"),
    )
    # Doc-grain rollup as ONE hash aggregate: argmax-with-min-position
    # is max(struct(match_len, -i)) — struct ordering compares match_len
    # first, then -i, so ties break to the SMALLEST position, exactly
    # the former window-mx + min(when(...)) pair.  The window form
    # shuffled and sorted every dup-suffix row; the struct-max is
    # map-side partially aggregated, so only per-doc partials cross the
    # exchange.
    return lcp.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_dup_suffixes"),
        F.max("match_len").cast("long").alias("max_match_len"),
        (
            -F.max(
                F.struct(
                    F.col("match_len").alias("ml"),
                    (-F.col("i")).alias("ni"),
                )
            )["ni"]
        )
        .cast("long")
        .alias("argmax_pos"),
    )


@register(
    "substring_exact_spans",
    oracle_sql=f"""
    WITH {_SQL_SUFFIXES.strip()},
    occ AS (
      SELECT doc_id, i FROM (
        SELECT doc_id, i,
               min(doc_id) OVER (PARTITION BY bucket) AS mn,
               max(doc_id) OVER (PARTITION BY bucket) AS mx
        FROM suf
      ) WHERE mn <> mx
    ),
    flagged AS (
      SELECT doc_id, i,
             CASE WHEN max(i + {SUFFIX_MINLEN}) OVER (
                    PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= i
                  THEN 0 ELSE 1 END AS new_span
      FROM occ
    ),
    islands AS (
      SELECT doc_id, i,
             sum(new_span) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS UNBOUNDED PRECEDING) AS span_id
      FROM flagged
    )
    SELECT doc_id,
           CAST(span_id AS BIGINT) AS span_id,
           CAST(min(i) AS BIGINT) AS span_start,
           CAST(max(i) + {SUFFIX_MINLEN} AS BIGINT) AS span_end,
           CAST(max(i) + {SUFFIX_MINLEN} - min(i) AS BIGINT) AS span_len,
           CAST(count(*) AS BIGINT) AS n_windows
    FROM islands
    GROUP BY doc_id, span_id
    """,
    tags=("text", "dedup", "substring", "spans", "pipeline"),
)
def substring_exact_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT cross-document duplicated-span extraction — the stride-free
    upgrade of [[substring_overlap_spans]]: every {SUFFIX_MINLEN}-char
    gram (at EVERY position, no anchors) seen in >= 2 distinct
    documents marks its occurrence, and per-document overlapping-or-
    adjacent marks merge into maximal spans (gaps-and-islands).  Unlike
    the anchored screen, no shared run of length >= {SUFFIX_MINLEN} can
    be missed, and span boundaries are exact to the character — these
    are precisely the byte ranges suffix-array dedup would trim.

    Scale shape: one row per corpus char carrying a raw
    {SUFFIX_MINLEN}-char gram (shorter than a hex digest — no hashing
    needed for exactness); the cross-doc screen is min(doc) != max(doc)
    over ONE gram-keyed window — a single exchange, no count-distinct
    aggregate and no join back (which would re-run the position explode
    twice) — then the doc-partitioned island merge, bounded by the
    heaviest single document.  Exactness costs stride(=
    {SUBSTR_STRIDE}) times the anchored op's shuffle volume, linear
    either way; run the anchored screen first and this tier on the
    flagged partition subset at 100 TB.

    Reference analog: none (LLM-pipeline surface per the brief).
    """
    d = parallel_scan(spark, sf_dir, "documents")
    positions = F.when(
        F.length("text") >= SUFFIX_MINLEN,
        F.sequence(F.lit(1), F.length("text") - (SUFFIX_MINLEN - 1)),
    ).otherwise(F.array().cast("array<int>"))
    suf = d.select("doc_id", "text", F.explode(positions).alias("i")).select(
        "doc_id",
        F.col("i").cast("long").alias("i"),
        F.substring(F.col("text"), F.col("i"), SUFFIX_MINLEN).alias("bucket"),
    )
    # ">= 2 distinct docs" == min(doc) != max(doc) within the gram
    # bucket: ONE window over one bucket exchange, instead of a
    # count_distinct aggregate plus a join back that would re-run the
    # position explode a second time.
    w_bucket = Window.partitionBy("bucket")
    occ = (
        suf.withColumn("mn", F.min("doc_id").over(w_bucket))
        .withColumn("mx", F.max("doc_id").over(w_bucket))
        .filter(F.col("mn") != F.col("mx"))
        .select("doc_id", "i")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = occ.select(
        "doc_id",
        "i",
        F.when(
            F.max(F.col("i") + SUFFIX_MINLEN).over(w_prev) >= F.col("i"), 0
        )
        .otherwise(1)
        .alias("new_span"),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.select(
        "doc_id", "i", F.sum("new_span").over(w_run).alias("span_id")
    )
    return islands.groupBy("doc_id", "span_id").agg(
        F.min("i").alias("span_start"),
        (F.max("i") + SUFFIX_MINLEN).alias("span_end"),
        (F.max("i") + SUFFIX_MINLEN - F.min("i")).alias("span_len"),
        F.count("*").alias("n_windows"),
    )


# Exact-tier islands chain (the substring_exact_spans CTEs), shared by
# the exact trim rewrite.
_SQL_EXACT_SPAN_CTES = f"""
    {_SQL_SUFFIXES.strip()},
    xocc AS (
      SELECT doc_id, i FROM (
        SELECT doc_id, i,
               min(doc_id) OVER (PARTITION BY bucket) AS mn,
               max(doc_id) OVER (PARTITION BY bucket) AS mx
        FROM suf
      ) WHERE mn <> mx
    ),
    xflagged AS (
      SELECT doc_id, i,
             CASE WHEN max(i + {SUFFIX_MINLEN}) OVER (
                    PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= i
                  THEN 0 ELSE 1 END AS new_span
      FROM xocc
    ),
    xislands AS (
      SELECT doc_id, i,
             sum(new_span) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS UNBOUNDED PRECEDING) AS span_id
      FROM xflagged
    )
"""


@register(
    "substring_exact_trim_rewrite",
    oracle_sql=f"""
    WITH {_SQL_EXACT_SPAN_CTES.strip()},
    spans AS (
      SELECT doc_id, min(i) AS s, max(i) + {SUFFIX_MINLEN} AS e
      FROM xislands GROUP BY doc_id, span_id
    ),
    gaps AS (
      SELECT doc_id,
             lag(e, 1, 1) OVER (PARTITION BY doc_id ORDER BY s) AS gs,
             s AS ge
      FROM spans
      UNION ALL
      SELECT doc_id, max(e) AS gs, NULL AS ge FROM spans GROUP BY doc_id
    ),
    chunks AS (
      SELECT g.doc_id, g.gs,
             substr(d.text, CAST(g.gs AS INTEGER),
                    CAST(coalesce(g.ge, length(d.text) + 1) - g.gs
                         AS INTEGER)) AS chunk
      FROM gaps g JOIN documents d USING (doc_id)
      WHERE coalesce(g.ge, length(d.text) + 1) > g.gs
    ),
    trimmed AS (
      SELECT doc_id, string_agg(chunk, '' ORDER BY gs) AS kept_text
      FROM chunks GROUP BY doc_id
    ),
    stats AS (
      SELECT doc_id, count(*) AS n_spans, sum(e - s) AS cut_chars
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_cut_spans,
           CAST(coalesce(st.cut_chars, 0) AS BIGINT) AS n_cut_chars,
           CAST(length(d.text) - coalesce(st.cut_chars, 0) AS BIGINT)
             AS kept_chars,
           md5(coalesce(t.kept_text,
                        CASE WHEN st.doc_id IS NOT NULL THEN '' ELSE d.text END))
             AS trimmed_md5
    FROM documents d
    LEFT JOIN trimmed t USING (doc_id)
    LEFT JOIN stats st USING (doc_id)
    """,
    tags=("text", "dedup", "substring", "rewrite", "pipeline"),
)
def substring_exact_trim_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-tier partial-overlap trim: [[substring_trim_rewrite]]'s
    cut-and-stitch applied to [[substring_exact_spans]]' stride-free
    span table instead of the anchored approximation — every byte range
    duplicated across >= 2 documents at >= {SUFFIX_MINLEN} chars is cut
    with no anchor misses, completing the exact ladder (detect
    [[suffix_array_ranked_lcp]] -> extract [[substring_exact_spans]] ->
    fix here), the full "deduplicating training data" loop at exact
    grain.  The md5 pins every cut position and stitch order; untouched
    documents pass through verbatim.

    Scale shape: identical to the anchored trim — doc-grain span table,
    one doc-partitioned lag window for gaps, ordered per-doc string_agg
    stitch — except span detection pays the exact tier's stride-times
    shuffle volume (see [[substring_exact_spans]]); run the anchored
    rewrite corpus-wide and this tier on flagged subsets at 100 TB.

    Reference analog: none (LLM-pipeline surface per the brief).
    """
    spans = (
        substring_exact_spans(spark, sf_dir)
        .select(
            "doc_id",
            F.col("span_start").alias("s"),
            F.col("span_end").alias("e"),
        )
        # doc-grain and small, but its LINEAGE is the full exact-tier
        # suffix pipeline — cache so gaps/tail/stats don't recompute it
        .cache()
    )
    d = parallel_scan(spark, sf_dir, "documents").select("doc_id", "text")
    w = Window.partitionBy("doc_id").orderBy("s")
    gaps_mid = spans.select(
        "doc_id",
        F.lag("e", 1, 1).over(w).alias("gs"),
        F.col("s").alias("ge"),
    )
    gaps_tail = spans.groupBy("doc_id").agg(
        F.max("e").alias("gs"), F.lit(None).cast("long").alias("ge")
    )
    gaps = gaps_mid.unionByName(gaps_tail)
    chunks = (
        gaps.join(d, "doc_id")
        .filter(F.coalesce(F.col("ge"), F.length("text") + 1) > F.col("gs"))
        .select(
            "doc_id",
            "gs",
            F.expr(
                "substring(text, CAST(gs AS INT),"
                " CAST(coalesce(ge, length(text) + 1) - gs AS INT))"
            ).alias("chunk"),
        )
    )
    trimmed = chunks.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("gs", "chunk"))),
                lambda x: x["chunk"],
            ),
            "",
        ).alias("kept_text")
    )
    stats = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).alias("cut_chars"),
    )
    return (
        d.join(trimmed, "doc_id", "left")
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_cut_spans"),
            F.coalesce("cut_chars", F.lit(0))
            .cast("long")
            .alias("n_cut_chars"),
            (F.length("text") - F.coalesce("cut_chars", F.lit(0)))
            .cast("long")
            .alias("kept_chars"),
            F.md5(
                F.coalesce(
                    "kept_text",
                    # a fully-cut document has spans but no chunks: its
                    # trimmed text is EMPTY, not the raw passthrough
                    F.when(F.col("n_spans").isNotNull(), F.lit("")).otherwise(
                        F.col("text")
                    ),
                )
            ).alias("trimmed_md5"),
        )
    )


# --- Round 10: the tiered exact-substring pipeline, executable ----------
#
# The exact tier's docstrings prescribe "run the anchored screen first,
# the exact tier only on flagged docs" as the 100 TB deployment shape.
# This operator IS that composition, registered and oracle-checked:
# stage 1 anchors (1/SUBSTR_STRIDE of positions) flag candidate docs;
# stage 2 runs the stride-free suffix spans + trim ONLY on the flagged
# subset; unflagged documents pass through verbatim.


@register(
    "substring_tiered_trim_rewrite",
    oracle_sql=f"""
    WITH wins AS (
      SELECT doc_id, CAST(i AS BIGINT) AS i,
             md5(substr(text, i, {SUBSTR_WIN})) AS win_hash
      FROM (
        SELECT doc_id, text,
               unnest(generate_series(1, length(text) - {SUBSTR_WIN - 1})) AS i
        FROM documents WHERE length(text) >= {SUBSTR_WIN}
      )
      WHERE CAST('0x' || substr(md5(substr(text, i, {SUBSTR_GRAM})), 1, 4)
                 AS BIGINT) % {SUBSTR_STRIDE} = 0
    ),
    flagged_docs AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id,
               min(doc_id) OVER (PARTITION BY win_hash) AS mn,
               max(doc_id) OVER (PARTITION BY win_hash) AS mx
        FROM wins
      ) WHERE mn <> mx
    ),
    fdocs AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN flagged_docs USING (doc_id)
    ),
    suf AS MATERIALIZED (
      SELECT doc_id, CAST(i AS BIGINT) AS i,
             substr(text, i, {SUFFIX_MINLEN}) AS bucket
      FROM (
        SELECT doc_id, text,
               unnest(generate_series(1, length(text) - {SUFFIX_MINLEN - 1}))
                 AS i
        FROM fdocs WHERE length(text) >= {SUFFIX_MINLEN}
      )
    ),
    xocc AS (
      SELECT doc_id, i FROM (
        SELECT doc_id, i,
               min(doc_id) OVER (PARTITION BY bucket) AS mn,
               max(doc_id) OVER (PARTITION BY bucket) AS mx
        FROM suf
      ) WHERE mn <> mx
    ),
    xflagged AS (
      SELECT doc_id, i,
             CASE WHEN max(i + {SUFFIX_MINLEN}) OVER (
                    PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= i
                  THEN 0 ELSE 1 END AS new_span
      FROM xocc
    ),
    xislands AS (
      SELECT doc_id, i,
             sum(new_span) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS UNBOUNDED PRECEDING) AS span_id
      FROM xflagged
    ),
    spans AS (
      SELECT doc_id, min(i) AS s, max(i) + {SUFFIX_MINLEN} AS e
      FROM xislands GROUP BY doc_id, span_id
    ),
    gaps AS (
      SELECT doc_id,
             lag(e, 1, 1) OVER (PARTITION BY doc_id ORDER BY s) AS gs,
             s AS ge
      FROM spans
      UNION ALL
      SELECT doc_id, max(e) AS gs, NULL AS ge FROM spans GROUP BY doc_id
    ),
    chunks AS (
      SELECT g.doc_id, g.gs,
             substr(d.text, CAST(g.gs AS INTEGER),
                    CAST(coalesce(g.ge, length(d.text) + 1) - g.gs
                         AS INTEGER)) AS chunk
      FROM gaps g JOIN documents d USING (doc_id)
      WHERE coalesce(g.ge, length(d.text) + 1) > g.gs
    ),
    trimmed AS (
      SELECT doc_id, string_agg(chunk, '' ORDER BY gs) AS kept_text
      FROM chunks GROUP BY doc_id
    ),
    stats AS (
      SELECT doc_id, count(*) AS n_spans, sum(e - s) AS cut_chars
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS flagged,
           CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_cut_spans,
           CAST(coalesce(st.cut_chars, 0) AS BIGINT) AS n_cut_chars,
           CAST(length(d.text) - coalesce(st.cut_chars, 0) AS BIGINT)
             AS kept_chars,
           md5(coalesce(t.kept_text,
                        CASE WHEN st.doc_id IS NOT NULL THEN '' ELSE d.text END))
             AS trimmed_md5
    FROM documents d
    LEFT JOIN flagged_docs f USING (doc_id)
    LEFT JOIN trimmed t USING (doc_id)
    LEFT JOIN stats st USING (doc_id)
    """,
    tags=("text", "dedup", "substring", "rewrite", "tiered", "pipeline"),
)
def substring_tiered_trim_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered exact-substring trim — the 100 TB deployment composition
    of the suffix family, EXECUTABLE instead of docstring prose: the
    cheap anchored screen (every {SUBSTR_WIN}-char window at 1/
    {SUBSTR_STRIDE} content-chosen anchor positions, ~1/{SUBSTR_STRIDE}
    of the exact tier's shuffle volume) flags candidate documents —
    any doc sharing an anchored window with a second doc — and the
    stride-free exact tier ([[substring_exact_spans]]' suffix-gram
    spans + [[substring_exact_trim_rewrite]]'s cut-and-stitch) runs
    ONLY on the flagged subset.  Unflagged docs pass through verbatim
    (md5(text) pins that).  Any shared run >= {SUBSTR_WIN} chars
    contains an anchored window with probability ~1 - exp(-{SUBSTR_WIN
    - SUBSTR_GRAM + 1}/{SUBSTR_STRIDE}), so the screen's misses are
    short overlaps; within the flagged subset the trim is exact to the
    character at >= {SUFFIX_MINLEN}-char grain.

    Scale shape: stage 1 is the anchored op's single digest-keyed
    window exchange over ~1/{SUBSTR_STRIDE} of positions; the flag
    table is DOC-grain (ids only) and semi-joins the corpus (no
    payload duplication); stage 2 pays the exact tier's per-char
    shuffle only on the flagged fraction (dup-heavy shards), which is
    what makes the exact tier corpus-wide-safe at 100 TB — the
    composition caps exact-tier bytes at screen-positive bytes.

    Reference analog: none (LLM-pipeline surface per the brief);
    executes the deployment guidance of [[suffix_array_ranked_lcp]].
    """
    d = parallel_scan(spark, sf_dir, "documents").select("doc_id", "text")
    # stage 1: anchored screen -> flagged doc ids (one digest-keyed
    # window exchange; min!=max is the cross-doc rule, no count-distinct)
    positions_a = F.when(
        F.length("text") >= SUBSTR_WIN,
        F.sequence(F.lit(1), F.length("text") - (SUBSTR_WIN - 1)),
    ).otherwise(F.array().cast("array<int>"))
    gram_hash = F.conv(
        F.substring(
            F.md5(F.substring(F.col("text"), F.col("i"), SUBSTR_GRAM)), 1, 4
        ),
        16,
        10,
    ).cast("long")
    wins = (
        d.select("doc_id", "text", F.explode(positions_a).alias("i"))
        .filter(gram_hash % SUBSTR_STRIDE == 0)
        .select(
            "doc_id",
            F.md5(F.substring(F.col("text"), F.col("i"), SUBSTR_WIN)).alias(
                "win_hash"
            ),
        )
    )
    w_h = Window.partitionBy("win_hash")
    flagged_docs = (
        wins.withColumn("mn", F.min("doc_id").over(w_h))
        .withColumn("mx", F.max("doc_id").over(w_h))
        .filter(F.col("mn") != F.col("mx"))
        .select("doc_id")
        .distinct()
        # doc-grain id table, consumed by the semi-join and the final flag
        .cache()
    )
    fdocs = d.join(flagged_docs, "doc_id", "semi")
    # stage 2: exact suffix spans on the flagged subset only
    positions_x = F.when(
        F.length("text") >= SUFFIX_MINLEN,
        F.sequence(F.lit(1), F.length("text") - (SUFFIX_MINLEN - 1)),
    ).otherwise(F.array().cast("array<int>"))
    suf = fdocs.select(
        "doc_id", "text", F.explode(positions_x).alias("i")
    ).select(
        "doc_id",
        F.col("i").cast("long").alias("i"),
        F.substring(F.col("text"), F.col("i"), SUFFIX_MINLEN).alias("bucket"),
    )
    w_bucket = Window.partitionBy("bucket")
    occ = (
        suf.withColumn("mn", F.min("doc_id").over(w_bucket))
        .withColumn("mx", F.max("doc_id").over(w_bucket))
        .filter(F.col("mn") != F.col("mx"))
        .select("doc_id", "i")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged_pos = occ.select(
        "doc_id",
        "i",
        F.when(
            F.max(F.col("i") + SUFFIX_MINLEN).over(w_prev) >= F.col("i"), 0
        )
        .otherwise(1)
        .alias("new_span"),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = (
        flagged_pos.select(
            "doc_id", "i", F.sum("new_span").over(w_run).alias("span_id")
        )
        .groupBy("doc_id", "span_id")
        .agg(
            F.min("i").alias("s"),
            (F.max("i") + SUFFIX_MINLEN).alias("e"),
        )
        .select("doc_id", "s", "e")
        # doc-grain and small, but its lineage is the exact-tier suffix
        # pipeline — cache so gaps/tail/stats don't recompute it
        .cache()
    )
    w_s = Window.partitionBy("doc_id").orderBy("s")
    gaps_mid = spans.select(
        "doc_id",
        F.lag("e", 1, 1).over(w_s).alias("gs"),
        F.col("s").alias("ge"),
    )
    gaps_tail = spans.groupBy("doc_id").agg(
        F.max("e").alias("gs"), F.lit(None).cast("long").alias("ge")
    )
    gaps = gaps_mid.unionByName(gaps_tail)
    chunks = (
        gaps.join(d, "doc_id")
        .filter(F.coalesce(F.col("ge"), F.length("text") + 1) > F.col("gs"))
        .select(
            "doc_id",
            "gs",
            F.expr(
                "substring(text, CAST(gs AS INT),"
                " CAST(coalesce(ge, length(text) + 1) - gs AS INT))"
            ).alias("chunk"),
        )
    )
    trimmed = chunks.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("gs", "chunk"))),
                lambda x: x["chunk"],
            ),
            "",
        ).alias("kept_text")
    )
    stats = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).alias("cut_chars"),
    )
    return (
        d.join(
            flagged_docs.withColumn("flag", F.lit(1)), "doc_id", "left"
        )
        .join(trimmed, "doc_id", "left")
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("flag", F.lit(0)).cast("long").alias("flagged"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_cut_spans"),
            F.coalesce("cut_chars", F.lit(0))
            .cast("long")
            .alias("n_cut_chars"),
            (F.length("text") - F.coalesce("cut_chars", F.lit(0)))
            .cast("long")
            .alias("kept_chars"),
            F.md5(
                F.coalesce(
                    "kept_text",
                    # a fully-cut flagged document has spans but no
                    # chunks: its trimmed text is EMPTY, not passthrough
                    F.when(F.col("n_spans").isNotNull(), F.lit("")).otherwise(
                        F.col("text")
                    ),
                )
            ).alias("trimmed_md5"),
        )
    )


# --- Round 10: l-diversity (the k-anonymity companion) -------------------
#
# l-diversity (Machanavajjhala et al., "l-Diversity: Privacy Beyond
# k-Anonymity", ICDE 2006): a quasi-identifier group can be k-anonymous
# yet leak its sensitive attribute when every member shares one value
# (the homogeneity attack).  Distinct l-diversity requires >= L
# distinct sensitive values per group; entropy l-diversity is reported
# here as the exact ppm-frozen max-share (entropy >= log L is implied
# by max-share <= 1/L for the distinct criterion's strong form).
L_DIVERSITY = 3  # sensitive attribute: account-balance sign+band


@register(
    "l_diversity_check",
    oracle_sql=f"""
    WITH t AS (
      SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS sens
      FROM customer
    ),
    per_val AS (
      SELECT nationkey, mktsegment, sens, count(*) AS c
      FROM t GROUP BY 1, 2, 3
    )
    SELECT nationkey, mktsegment,
           CAST(sum(c) AS BIGINT) AS group_size,
           CAST(count(*) AS BIGINT) AS n_sensitive_values,
           CAST(max(c) * 1000000 // sum(c) AS BIGINT) AS max_share_ppm,
           CAST(CASE WHEN count(*) >= {L_DIVERSITY} THEN 1 ELSE 0 END
                AS BIGINT) AS l_diverse
    FROM per_val
    GROUP BY nationkey, mktsegment
    """,
    tags=("privacy", "audit", "pipeline"),
)
def l_diversity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity audit over the [[k_anonymity_check]]
    quasi-identifier groups (nation x market segment): per group, the
    number of DISTINCT sensitive values (account-balance band) and the
    max single-value share (ppm) — a group failing l >= {L_DIVERSITY}
    is k-anonymous in size yet still leaks its members' sensitive
    attribute to anyone who knows the quasi-identifiers (the
    homogeneity attack l-diversity exists to block).

    Scale shape: two stacked map-side-combined aggregates — rows
    collapse to the (QI, sensitive-value) grain in pass one, then to
    the QI grain; both keyed, nothing corpus-sized crosses the second
    exchange.  The same shape k_anonymity_check already runs.

    Reference analog: none (privacy-audit surface per the brief).
    """
    from mapreduce_c_implementation_spark.sources import load_table

    c = load_table(spark, sf_dir, "customer")
    per_val = (
        c.select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
            F.expr("CAST(floor(c_acctbal / 2000) AS BIGINT)").alias("sens"),
        )
        .groupBy("nationkey", "mktsegment", "sens")
        .agg(F.count("*").alias("c"))
    )
    return per_val.groupBy("nationkey", "mktsegment").agg(
        F.sum("c").cast("long").alias("group_size"),
        F.count("*").cast("long").alias("n_sensitive_values"),
        F.expr("CAST(max(c) * 1000000 div sum(c) AS BIGINT)").alias(
            "max_share_ppm"
        ),
        F.expr(
            f"CAST(CASE WHEN count(*) >= {L_DIVERSITY} THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("l_diverse"),
    )


# --- Round 10b: t-closeness (the third privacy audit) ----------------------
#
# t-closeness (Li, Li & Venkatasubramanian, ICDE 2007): a group can be
# k-anonymous AND l-diverse yet still leak — if its sensitive-value
# DISTRIBUTION differs sharply from the global one, an attacker learns
# a lot by conditioning on the quasi-identifiers (skewness attack).
# For a 1-D ordered sensitive attribute with unit ground distance, the
# Earth Mover's Distance has the closed form
#   EMD = (1/(m-1)) * sum_i |cumP_i - cumQ_i|
# which stays exact in integers via cross-multiplication.
T_CLOSENESS_PPM = 150_000  # t = 0.15


@register(
    "t_closeness_check",
    oracle_sql=f"""
    WITH t AS (
      SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS sens
      FROM customer
    ),
    bands AS (
      SELECT sens,
             sum(count(*)) OVER (ORDER BY sens) AS cum_gc,
             (SELECT count(*) FROM t) AS n,
             (SELECT count(DISTINCT sens) FROM t) AS m
      FROM t GROUP BY sens
    ),
    grps AS (SELECT nationkey, mktsegment, count(*) AS n_g FROM t GROUP BY 1, 2),
    grid AS (
      SELECT g.nationkey, g.mktsegment, g.n_g, b.sens, b.cum_gc, b.n, b.m
      FROM grps g CROSS JOIN bands b
    ),
    pv AS (
      SELECT nationkey, mktsegment, sens, count(*) AS c FROM t GROUP BY 1, 2, 3
    ),
    cums AS (
      SELECT grid.*,
             sum(COALESCE(pv.c, 0))
               OVER (PARTITION BY grid.nationkey, grid.mktsegment
                     ORDER BY grid.sens) AS cum_c
      FROM grid LEFT JOIN pv ON pv.nationkey = grid.nationkey
                            AND pv.mktsegment = grid.mktsegment
                            AND pv.sens = grid.sens
    )
    SELECT nationkey, mktsegment,
           CAST(max(n_g) AS BIGINT) AS group_size,
           CAST(max(m) AS BIGINT) AS n_bands,
           CAST(CAST(sum(abs(CAST(cum_c AS DECIMAL(38,0)) * n
                             - CAST(cum_gc AS DECIMAL(38,0)) * n_g))
                     AS HUGEINT) * 1000000
                // (CAST(max(n_g) AS HUGEINT) * max(n) * (max(m) - 1))
                AS BIGINT) AS emd_ppm,
           CAST(CASE WHEN CAST(sum(abs(CAST(cum_c AS DECIMAL(38,0)) * n
                                       - CAST(cum_gc AS DECIMAL(38,0)) * n_g))
                               AS HUGEINT) * 1000000
                          // (CAST(max(n_g) AS HUGEINT) * max(n)
                              * (max(m) - 1)) <= {T_CLOSENESS_PPM}
                     THEN 1 ELSE 0 END AS BIGINT) AS t_close
    FROM cums GROUP BY nationkey, mktsegment
    """,
    tags=("privacy", "audit", "pipeline"),
)
def t_closeness_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit over the [[k_anonymity_check]] /
    [[l_diversity_check]] quasi-identifier groups (nation x market
    segment, sensitive = account-balance band): per group, the exact
    1-D Earth Mover's Distance between the group's sensitive
    distribution and the GLOBAL one (ordered bands, unit ground
    distance: EMD = mean |cumulative-share gap|), frozen to ppm, with
    the pass flag at t <= {T_CLOSENESS_PPM} ppm.  Completes the
    classic privacy-audit triple: k-anonymity bounds group SIZE,
    l-diversity bounds value VARIETY, t-closeness bounds the
    DISTRIBUTION gap (skewness attack).

    Exactness: cumulative counts cross-multiplied against the global
    cumulative (|cum_c*N - cum_C*n_g|) keep everything integer in
    DECIMAL(38,0); ONE floor division at the end produces the ppm.

    Scale shape: two map-side-combined aggregates collapse the corpus
    to (QI, band) and (band) grains; the grid is a broadcast cross of
    the QI table with the <=10-row band table; the cumulative windows
    partition by QI.  Nothing corpus-sized crosses the second
    exchange — the [[l_diversity_check]] shape plus one bounded
    broadcast.

    Reference analog: none (privacy-audit surface per the brief).
    """
    from mapreduce_c_implementation_spark.sources import load_table
    from pyspark.sql.window import Window

    t = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.expr("CAST(floor(c_acctbal / 2000) AS BIGINT)").alias("sens"),
    )
    wb = Window.orderBy("sens").rowsBetween(Window.unboundedPreceding, 0)
    bands = (
        t.groupBy("sens")
        .agg(F.count("*").alias("gc"))
        .select("sens", F.sum("gc").over(wb).alias("cum_gc"))
        .crossJoin(
            F.broadcast(
                t.agg(
                    F.count("*").alias("n"),
                    F.countDistinct("sens").alias("m"),
                )
            )
        )
    )
    grps = t.groupBy("nationkey", "mktsegment").agg(F.count("*").alias("n_g"))
    grid = grps.crossJoin(F.broadcast(bands))
    pv = t.groupBy("nationkey", "mktsegment", "sens").agg(
        F.count("*").alias("c")
    )
    wq = (
        Window.partitionBy("nationkey", "mktsegment")
        .orderBy("sens")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cums = grid.join(pv, ["nationkey", "mktsegment", "sens"], "left").select(
        "nationkey",
        "mktsegment",
        "n_g",
        "sens",
        "cum_gc",
        "n",
        "m",
        F.sum(F.coalesce(F.col("c"), F.lit(0))).over(wq).alias("cum_c"),
    )
    emd = (
        "sum(abs(CAST(cum_c AS DECIMAL(38,0)) * n"
        " - CAST(cum_gc AS DECIMAL(38,0)) * n_g)) * 1000000"
        " div (CAST(max(n_g) AS DECIMAL(38,0)) * max(n) * (max(m) - 1))"
    )
    return cums.groupBy("nationkey", "mktsegment").agg(
        F.max("n_g").cast("long").alias("group_size"),
        F.max("m").cast("long").alias("n_bands"),
        F.expr(f"CAST({emd} AS BIGINT)").alias("emd_ppm"),
        F.expr(
            f"CAST(CASE WHEN {emd} <= {T_CLOSENESS_PPM} THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("t_close"),
    )


# --- Round 11: Luhn-validated PAN screen ----------------------------------
#
# Regex digit-run screens over-fire: most 13-19-digit runs are ids,
# not card numbers.  The Luhn checksum cuts ~90% of those false
# positives (a random digit run passes with p = 1/10).  The fixture is
# digit-free, so the [[pii_redaction]] augmentation device plants
# known test PANs — half Luhn-valid, half last-digit-corrupted.
_LUHN_PANS = [
    "4111111111111111",  # valid
    "4111111111111121",  # corrupted
    "378282246310005",   # valid (15-digit)
    "378282246310006",   # corrupted
    "6011111111111117",  # valid
    "6011111111111118",  # corrupted
]
_LUHN_RE = "[0-9]{13,19}"


@register(
    "luhn_checksum_pii_screen",
    oracle_sql=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' pay '
                  || (['{"','".join(_LUHN_PANS)}'])[(doc_id % 6) + 1]
                  || CASE WHEN doc_id % 5 = 0
                          THEN ' or ' || (['{"','".join(_LUHN_PANS)}'])
                                           [((doc_id + 2) % 6) + 1]
                          ELSE '' END AS text
      FROM documents
    ),
    runs AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '{_LUHN_RE}')) AS cand
      FROM aug
    ),
    checked AS (
      SELECT doc_id, cand,
             CASE WHEN list_sum(list_transform(
                    list_reverse(string_split_regex(cand, '')),
                    (ch, i) -> CASE WHEN i % 2 = 0
                               THEN CASE WHEN 2 * CAST(ch AS INTEGER) > 9
                                         THEN 2 * CAST(ch AS INTEGER) - 9
                                         ELSE 2 * CAST(ch AS INTEGER) END
                               ELSE CAST(ch AS INTEGER) END)) % 10 = 0
                  THEN 1 ELSE 0 END AS ok
      FROM runs
    )
    SELECT a.doc_id,
           CAST(coalesce(count(c.cand), 0) AS BIGINT) AS n_candidates,
           CAST(coalesce(sum(c.ok), 0) AS BIGINT) AS n_luhn_valid,
           CAST(CASE WHEN coalesce(sum(c.ok), 0) > 0 THEN 1 ELSE 0 END
                AS BIGINT) AS has_pan
    FROM aug a LEFT JOIN checked c USING (doc_id)
    GROUP BY a.doc_id
    """,
    tags=("text", "pii", "luhn", "pipeline"),
)
def luhn_checksum_pii_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Credit-card (PAN) screen with Luhn checksum VALIDATION — the
    precision upgrade over [[pii_redaction]]'s pattern-only matching:
    every 13-19-digit run is a candidate, but only runs whose Luhn
    checksum verifies count as card numbers (a random digit run passes
    at 10%, so the checksum removes ~90% of id/timestamp false
    positives before a human or redactor ever sees them).  The
    checksum is the classic right-to-left double-every-second-digit
    fold, expressed as in-row HOF arithmetic in BOTH engines (Spark
    ``transform``+``aggregate`` 0-based, DuckDB ``list_transform``
    1-based — the parity constants differ by exactly that offset).

    Scale shape: pure per-row map (regexp extract + bounded in-row
    fold per candidate), one doc-grain aggregate.  Nothing shuffles
    but the final count table; WholeStageCodegen end to end.

    Reference analog: none (corpus-hygiene surface per the brief).
    """
    pans = ",".join(f"'{p}'" for p in _LUHN_PANS)
    aug = parallel_scan(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            f"concat(text, ' pay ', element_at(array({pans}),"
            " CAST(doc_id % 6 AS INT) + 1),"
            " CASE WHEN doc_id % 5 = 0 THEN concat(' or ',"
            f" element_at(array({pans}), CAST((doc_id + 2) % 6 AS INT) + 1))"
            " ELSE '' END)"
        ).alias("text"),
    )
    cands = aug.select(
        "doc_id",
        F.expr(f"regexp_extract_all(text, '{_LUHN_RE}', 0)").alias("cands"),
    )
    # 0-based index in Spark's transform: double 0-based ODD positions
    # of the reversed digits (= 1-based even, the DuckDB branch).
    luhn_ok = (
        "CASE WHEN aggregate(transform(reverse(split(cand, '')),"
        " (ch, i) -> CASE WHEN i % 2 = 1"
        " THEN CASE WHEN 2 * CAST(ch AS INT) > 9"
        " THEN 2 * CAST(ch AS INT) - 9 ELSE 2 * CAST(ch AS INT) END"
        " ELSE CAST(ch AS INT) END), 0, (a, x) -> a + x) % 10 = 0"
        " THEN 1 ELSE 0 END"
    )
    checked = cands.select(
        "doc_id",
        F.size("cands").cast("long").alias("n_candidates"),
        F.expr(
            f"aggregate(transform(cands, cand -> {luhn_ok}), 0,"
            " (a, x) -> a + x)"
        )
        .cast("long")
        .alias("n_luhn_valid"),
    )
    return checked.select(
        "doc_id",
        "n_candidates",
        "n_luhn_valid",
        F.when(F.col("n_luhn_valid") > 0, 1).otherwise(0).cast("long").alias(
            "has_pan"
        ),
    )


# --- Round 11: Unicode NFC canonicalization screen -------------------------
#
# The fixture is pure ASCII, so the [[pii_redaction]] augmentation
# device plants canonically-equivalent variants: composed NFC forms on
# one doc class, decomposed NFD on another — byte-different, rendering-
# identical, the pairs every digest-based dedup misses without a
# normalization pass.
_NFC_COMPOSED = "café Ångström résumé"
_NFC_DECOMPOSED = (
    "café Ångström résumé"
)


@register(
    "unicode_nfc_canonicalize",
    oracle_sql=f"""
    WITH aug AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 3 = 1 THEN ' {_NFC_COMPOSED}'
                          WHEN doc_id % 3 = 2 THEN ' {_NFC_DECOMPOSED}'
                          ELSE '' END AS raw
      FROM documents
    )
    SELECT doc_id,
           CAST(CASE WHEN nfc_normalize(raw) <> raw THEN 1 ELSE 0 END
                AS BIGINT) AS changed,
           CAST(length(raw) AS BIGINT) AS raw_codepoints,
           CAST(length(nfc_normalize(raw)) AS BIGINT) AS norm_codepoints,
           md5(nfc_normalize(raw)) AS norm_md5
    FROM aug
    """,
    tags=("text", "unicode", "canonicalization", "pipeline"),
)
def unicode_nfc_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization — the normalization pass that must
    run BEFORE any digest-keyed dedup on real multilingual crawl data:
    composed (U+00E9) and decomposed (e + U+0301) forms are byte-
    different but canonically equivalent, so without NFC the exact-
    dedup family silently treats them as distinct documents.
    [[text_canonicalize_dedup]] handles case/whitespace; this op closes
    the Unicode axis, emitting per doc the changed flag, codepoint
    lengths (NFC composition SHRINKS decomposed runs) and the
    normalized digest downstream dedup should key on.

    Spark has no built-in Unicode normalizer, so this is a justified
    Python rung (SURVEY custom-operator rule (b)): an Arrow-batched
    pandas UDF over ``unicodedata.normalize`` — vectorized transfer,
    per-batch Python, never per-row serialization.  Cross-engine
    parity holds because Python's unicodedata and DuckDB's
    nfc_normalize implement the same Unicode canonical composition.

    Scale shape: pure per-row map + Arrow batch transfer; the one
    shuffle-free stage.  The planted composed/decomposed suffixes make
    the fixture exercise real composition, not a no-op.

    Reference analog: none (corpus-hygiene surface per the brief).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(col: pd.Series) -> pd.Series:
        import unicodedata

        return col.map(lambda s: unicodedata.normalize("NFC", s))

    aug = parallel_scan(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 1, F.lit(" " + _NFC_COMPOSED))
            .when(F.col("doc_id") % 3 == 2, F.lit(" " + _NFC_DECOMPOSED))
            .otherwise(F.lit("")),
        ).alias("raw"),
    )
    normed = aug.select("doc_id", "raw", nfc(F.col("raw")).alias("norm"))
    return normed.select(
        "doc_id",
        F.when(F.col("norm") != F.col("raw"), 1)
        .otherwise(0)
        .cast("long")
        .alias("changed"),
        F.length("raw").cast("long").alias("raw_codepoints"),
        F.length("norm").cast("long").alias("norm_codepoints"),
        F.md5("norm").alias("norm_md5"),
    )

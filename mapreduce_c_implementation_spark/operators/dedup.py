"""Deduplication operators for LLM training-data pipelines (BASELINE.json
north star): exact, n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup — each as a registry operator over
``documents`` / ``embeddings`` with a DuckDB oracle running the SAME
deterministic algorithm.

Scale design notes (the whole point of these ops is 100 TB corpora):
- Exact dedup: hash-groupBy on a content digest — one shuffle keyed by
  md5, no text comparison.
- Candidate generation is always inverted-index style (explode feature
  -> self-join on feature), never an O(n²) cross join; hot "stop
  shingles" (document frequency > cap) are dropped first, which bounds
  the per-key postings list and therefore join fan-out — the same move
  as dropping stopwords from a posting-list join.
- MinHash signatures: k independent permutation approximations folded
  into ONE groupBy(doc).agg(k mins) pass; LSH banding turns near-dup
  search into an equi-join on (band_index, band_signature).
- SimHash: 16-bit signature via per-bit weighted sums in one aggregate;
  near-dups = hamming <= 3, found by joining on 4-bit band keys
  (pigeonhole: hamming <= 3 over 4 bands => >= 1 exact band match).
- Determinism: all hashing descends from md5 (identical both engines);
  all arithmetic is int64 modular — no floats anywhere except the
  cosine op, whose fold order is forced identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from mapreduce_c_implementation_spark.functions.iterate import (
    checkpoint_observed,
    propagate,
    record_rounds,
)
from mapreduce_c_implementation_spark.functions.text import (
    DUCKDB_TOKENIZE,
    duckdb_ngrams,
    ngrams,
    tokenize,
)
from mapreduce_c_implementation_spark.functions.vector import (
    SQL_DOT,
    plane_rule,
    spark_dot,
    spark_sign_bucket,
    sql_sign_bucket,
)
from mapreduce_c_implementation_spark.registry import register
from mapreduce_c_implementation_spark.sources import load_table
from mapreduce_c_implementation_spark.sources.tables import (
    compute_scan,
    local_frame,
    parallel_scan,
    path_tag,
    save_bucketed,
    table_location,
)

_TOK = DUCKDB_TOKENIZE.format(col="text")

# 3-token shingles; documents shorter than 3 tokens contribute none.
# Single source of truth: functions/text.py ngrams/duckdb_ngrams.
_SQL_SHINGLES = duckdb_ngrams("tokens", 3)

# Shingles occurring in more than this many docs are "stop shingles":
# they generate quadratic candidate fan-out and carry no dedup signal.
STOP_SHINGLE_DF = 50

MINHASH_K = 12  # signature length
MINHASH_BANDS = 4  # 4 bands x 3 rows
MINHASH_P = 2147483647


def _shingles_col() -> Column:
    return ngrams(F.col("tokens"), 3)


def _doc_shingles(
    spark: SparkSession, sf_dir: str, return_pairs: bool = False
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """(doc_id, shingle) distinct pairs with stop-shingles removed.

    ``return_pairs=True`` also hands back the cached posting-list handle
    so callers that materialize a DERIVED table (e.g. the minhash band
    table) can unpersist the corpus-sized cache afterwards — the
    semdedup cache-scoping rule."""
    # compute_scan, not parallel_scan: tokenize+shingle is the dominant
    # CPU stage and must not serialize on a single small-file partition.
    d = compute_scan(spark, sf_dir, "documents")
    # Distinct (doc_id, shingle) pairs via PER-DOC array_distinct before
    # the explode: doc_id is constant within a row, so in-row dedup IS
    # global dedup — the former corpus-sized `.distinct()` Exchange
    # (every shingle string shuffled once just to dedup within its own
    # document) is gone; the pairs lineage is now shuffle-free.
    pairs = (
        d.select("doc_id", tokenize(F.col("text")).alias("tokens"))
        .select(
            "doc_id",
            F.explode(F.array_distinct(_shingles_col())).alias("shingle"),
        )
        # Consumed twice (hot-shingle aggregate + anti-join probe):
        # without the cache the corpus scan + shingling — the dominant
        # stage — runs twice per dedup operator.
        .cache()
    )
    hot = (
        pairs.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > STOP_SHINGLE_DF)
        .select("shingle")
    )
    kept = pairs.join(F.broadcast(hot), "shingle", "left_anti")
    return (kept, pairs) if return_pairs else kept


_SQL_DOC_SHINGLES = f"""
    doc_shingles AS (
      SELECT DISTINCT doc_id, shingle
      FROM (SELECT doc_id, unnest({_SQL_SHINGLES}) AS shingle
            FROM (SELECT doc_id, {_TOK} AS tokens FROM documents))
    ),
    hot AS (
      SELECT shingle FROM doc_shingles GROUP BY shingle
      HAVING count(*) > {STOP_SHINGLE_DF}
    ),
    kept AS (
      SELECT d.doc_id, d.shingle FROM doc_shingles d
      WHERE d.shingle NOT IN (SELECT shingle FROM hot)
    )
"""


@register(
    "dedup_exact",
    oracle_sql=f"""
    SELECT md5(array_to_string(tokens, ' ')) AS content_key,
           count(*) AS n_copies,
           min(doc_id) AS keeper_doc_id
    FROM (SELECT doc_id, {_TOK} AS tokens FROM documents)
    GROUP BY 1
    """,
    tags=("dedup", "exact", "headline"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by normalized-content digest, keep min doc_id.

    Reference analog: the dedup combiner + reduce-side unique pass
    (src/main.c:62-81, :124-131) generalized from per-key values to
    whole documents.  One digest-keyed shuffle; the text itself never
    shuffles — at 100 TB you shuffle 16-byte keys, not documents.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    return (
        d.select("doc_id", tokenize(F.col("text")).alias("tokens"))
        .select("doc_id", F.md5(F.array_join("tokens", " ")).alias("content_key"))
        .groupBy("content_key")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
    )


@register(
    "dedup_ngram_jaccard",
    oracle_sql=f"""
    WITH {_SQL_DOC_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.n_common AS DOUBLE)
                 / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.2
    """,
    tags=("dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via posting-list self-join.

    |A∩B| comes from joining the (doc, shingle) inverted index with
    itself on shingle and counting; |A∪B| = |A|+|B|-|A∩B|.  Stop-shingle
    removal (df > {STOP_SHINGLE_DF}) bounds join fan-out — the standard
    scalability guard for posting-list joins.
    """
    kept = _doc_shingles(spark, sf_dir).cache()
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = kept.alias("a")
    b = kept.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_common")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.2)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# shingle -> 32-bit int; then k universal hashes (a*x + b) mod P.
_SQL_SHINGLE_INT = "CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT)"


def _minhash_params(i: int) -> tuple[int, int]:
    return 2 * i + 1, 101 * i + 17


# Full MinHash+LSH candidate pipeline as reusable CTEs ending in
# `mhpairs` — shared by dedup_minhash_lsh and the connected-components
# clustering ops, which consume the pair graph as their edge set.
_SQL_MINHASH_CTES = f"""
    {_SQL_DOC_SHINGLES},
    sig AS (
      SELECT doc_id,
             {", ".join(
                 f"min(({_minhash_params(i)[0]} * {_SQL_SHINGLE_INT} "
                 f"+ {_minhash_params(i)[1]}) % {MINHASH_P}) AS mh{i}"
                 for i in range(MINHASH_K)
             )}
      FROM kept GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band_idx, "
          f"concat_ws(':', mh{3 * b}, mh{3 * b + 1}, mh{3 * b + 2}) AS band_key "
          f"FROM sig"
          for b in range(MINHASH_BANDS)
      )}
    ),
    mhpairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                 AND a.doc_id < b.doc_id
    )
"""


def _minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mh0..mh{K-1}) MinHash signature table, cached+forced.

    The shingle->signature pipeline is the expensive corpus pass; every
    consumer ({MINHASH_K} ints/doc — the canonical materialization)
    re-splits these columns in-row, so evaluate it exactly once and
    release the corpus-sized posting-list cache behind it."""
    kept, pairs = _doc_shingles(spark, sf_dir, return_pairs=True)
    x = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long")
    sig = kept.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(_minhash_params(i)[0]) * x + F.lit(_minhash_params(i)[1]))
                % MINHASH_P
            ).alias(f"mh{i}")
            for i in range(MINHASH_K)
        ]
    ).cache()
    sig.count()  # force the shingle->signature pipeline once
    pairs.unpersist()
    return sig


def _minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band_idx, band_key) LSH band table, cached.

    One posexplode, not a 4-way unionAll: a union would re-evaluate the
    whole shingle->signature lineage once per band per join side (8x).
    The tiny signature table is cached AND eagerly forced — at scale
    that's {MINHASH_K} ints/doc, the canonical thing to materialize —
    after which the corpus-sized posting-list cache behind it is
    unpersisted (semdedup cache-scoping rule): every minhash-family op
    leaves only the narrow band table in executor storage.
    """
    sig = _minhash_signatures(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.col(f"mh{3 * b}"),
                        F.col(f"mh{3 * b + 1}"),
                        F.col(f"mh{3 * b + 2}"),
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("band_idx", "band_key"),
    ).cache()
    bands.count()  # materialize the narrow band table
    # Cache-scoping rule: once bands is resident it no longer reads sig —
    # release it so minhash-family ops leave ONLY the band table cached
    # (direct sig consumers call _minhash_signatures themselves).
    sig.unpersist()
    return bands


@register(
    "dedup_minhash_lsh",
    oracle_sql=f"""
    WITH {_SQL_MINHASH_CTES}
    SELECT doc_a, doc_b FROM mhpairs
    """,
    tags=("dedup", "minhash", "lsh", "headline"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidate pairs.

    shingle -> md5-derived int -> k={MINHASH_K} universal hashes
    (a·x+b mod P) -> per-doc signature of column-mins in ONE aggregate
    pass -> {MINHASH_BANDS} bands of 3 rows -> equi-join on band key.
    At 100 TB this is the only near-dedup that works: cost is linear in
    corpus size + output pairs, the band join is a plain hash shuffle,
    and the signature (12 ints/doc) replaces the document entirely.
    """
    bands = _minhash_bands(spark, sf_dir)
    a = bands.alias("a")
    bb = bands.alias("b")
    return (
        a.join(
            bb,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


SIMHASH_BITS = 16


@register(
    "dedup_simhash",
    oracle_sql=f"""
    WITH tok AS (
      SELECT doc_id, unnest(tokens) AS t
      FROM (SELECT doc_id, {_TOK} AS tokens FROM documents)
    ),
    th AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS h FROM tok),
    bits AS (
      SELECT doc_id,
             {", ".join(
                 f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS w{j}"
                 for j in range(SIMHASH_BITS)
             )}
      FROM th GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({" + ".join(
               f"(CASE WHEN w{j} > 0 THEN 1 ELSE 0 END) * {1 << j}"
               for j in range(SIMHASH_BITS)
           )} AS BIGINT) AS simhash
    FROM bits
    """,
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{SIMHASH_BITS}-bit SimHash signature per document: per-bit ±1
    votes weighted by token multiplicity, sign -> bit.  Near-dup pairs
    are then hamming-distance joins on the signature (see
    dedup_simhash_pairs).  One explode + one groupBy — linear."""
    d = parallel_scan(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("t"))
    h = F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("long")
    th = tok.select("doc_id", h.alias("h"))
    bits = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"w{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    sim = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"w{j}") > 0, 1).otherwise(0) * (1 << j)
        sim = term if sim is None else sim + term
    return bits.select("doc_id", sim.cast("long").alias("simhash"))


@register(
    "dedup_simhash_pairs",
    oracle_sql=f"""
    WITH tok AS (
      SELECT doc_id, unnest(tokens) AS t
      FROM (SELECT doc_id, {_TOK} AS tokens FROM documents)
    ),
    th AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS h FROM tok),
    bits AS (
      SELECT doc_id,
             {", ".join(
                 f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS w{j}"
                 for j in range(SIMHASH_BITS)
             )}
      FROM th GROUP BY doc_id
    ),
    sig AS (
      SELECT doc_id,
             CAST({" + ".join(
                 f"(CASE WHEN w{j} > 0 THEN 1 ELSE 0 END) * {1 << j}"
                 for j in range(SIMHASH_BITS)
             )} AS BIGINT) AS simhash
      FROM bits
    ),
    bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, simhash, {b} AS band_idx, "
          f"(simhash >> {4 * b}) & 15 AS band_val FROM sig"
          for b in range(4)
      )}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
               AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    tags=("dedup", "simhash", "lsh"),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with hamming <= 3, banded: split the
    16-bit signature into 4 nibbles; hamming<=3 guarantees at least one
    identical nibble (pigeonhole), so candidates come from 4 equi-joins
    on (band, nibble) — never a cross join."""
    sig = dedup_simhash(spark, sf_dir)
    # posexplode + cache for the same recomputation reason as minhash.
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 4 * b).bitwiseAND(15)
                    for b in range(4)
                ]
            )
        ).alias("band_idx", "band_val"),
    ).cache()
    a = bands.alias("a")
    bb = bands.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("long")
    return (
        a.join(
            bb,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(hamming <= 3)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


# Embedding near-dup candidate generation reuses the 6 random LSH
# hyperplanes of ann_lsh_bucketed (functions/vector.py::plane_rule),
# banded 2 x 3 bits (LSH OR-construction): candidates share band 0 OR
# band 1, so a vector sitting on one hyperplane boundary still collides
# in the other band.
COSINE_BANDS = 2
_PLANES_PER_BAND = 3
# Near-dup threshold.  The synthetic fixture embeddings are i.i.d.
# random (max pairwise cosine ~0.5), so a production-style 0.95 cutoff
# matches zero pairs at every SF and the driver row degenerates to a
# trivially-empty diff; 0.35 yields a few hundred ground-truth pairs,
# exercising band recall + the exact verify stage end to end.
COSINE_THRESHOLD = 0.35


def _band_planes(band: int) -> list:
    return [plane_rule(band * _PLANES_PER_BAND + j) for j in range(_PLANES_PER_BAND)]


@register(
    "dedup_embedding_cosine",
    oracle_sql=f"""
    WITH norms AS (
      SELECT vec_id, embedding,
             sqrt({SQL_DOT.format(a="embedding", b="embedding")}) AS nrm
      FROM embeddings
    ),
    sig AS (
      SELECT vec_id,
             {sql_sign_bucket(_band_planes(0), "embedding")} AS band0,
             {sql_sign_bucket(_band_planes(1), "embedding")} AS band1
      FROM norms
    ),
    bands AS (
      SELECT vec_id, 0 AS band_idx, band0 AS band_val FROM sig
      UNION ALL
      SELECT vec_id, 1 AS band_idx, band1 AS band_val FROM sig
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           round({SQL_DOT.format(a="na.embedding", b="nb.embedding")}
                 / (na.nrm * nb.nrm), 6) AS cosine
    FROM cand c
    JOIN norms na ON na.vec_id = c.vec_a
    JOIN norms nb ON nb.vec_id = c.vec_b
    WHERE {SQL_DOT.format(a="na.embedding", b="nb.embedding")}
          / (na.nrm * nb.nrm) > {COSINE_THRESHOLD}
    """,
    tags=("dedup", "embedding", "cosine"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: exact cosine > COSINE_THRESHOLD within
    LSH buckets.

    Candidate generation is the similarity module's random-hyperplane
    LSH (2 bands x 3 sign bits, OR'd): pairs sharing either band key
    meet in an EQUI-join on (band_idx, band_val) — never an O(n²)
    cross join (the round-1 all-pairs form survives only inside this
    docstring as the thing we don't do; a plan gate asserts no
    nested-loop join).  Exact cosine then verifies candidates via two
    keyed joins back to the norms table.  The oracle runs the SAME
    bands, so recall loss vs all-pairs is part of the contract.  At
    100 TB: band table is 2 rows x 8-byte key per vector; every join is
    a keyed shuffle; embeddings travel only through the vec_id joins.
    The dot product is a sequential left fold in BOTH engines, so
    cosines are bit-identical.
    """
    e = compute_scan(spark, sf_dir, "embeddings")
    norms = e.select(
        "vec_id",
        "embedding",
        F.sqrt(spark_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    # Deliberately NOT cached: the three consumers re-run only the
    # 1-fold-per-row norm map, and measured A/B the cache's
    # materialization job + in-memory write cost MORE than the
    # recompute (3.7 s vs 1.2 s at sf0.1) — caching pays for the
    # 64-fold semdedup scorer, not for a single-fold projection.
    bands = norms.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    spark_sign_bucket(_band_planes(b), F.col("embedding"))
                    for b in range(COSINE_BANDS)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )
    # The exact verify is COMPUTE-bound: each pair costs a d-element
    # fold, but a pair row is 16 bytes, so AQE's bytes-based partition
    # coalescing would funnel hundreds of thousands of folds onto a few
    # cores.  Fan the candidates out explicitly — the shuffle moves
    # only (id, id) rows; the norms sides broadcast back in.
    cand = cand.repartition(spark.sparkContext.defaultParallelism)
    na = norms.alias("na")
    nb = norms.alias("nb")
    # r14 examined, REJECTED: routing this per-pair dot through np_dot
    # (the fold-order-exact numpy pandas UDF that wins 2x inside
    # semdedup_cells) measured 0.71x here in a controlled same-window
    # A/B (1.57 -> 2.22 s, control flat at 1.00): the LSH bands leave
    # only a few thousand candidate pairs, so the Arrow round-trip of
    # two 64-dim arrays per row costs more than the interpreted folds
    # it replaces — the §4.2 lever needs enough rows per batch to
    # amortize the boundary, which semdedup's within-cell join has and
    # this post-banding verify does not.
    cos = spark_dot(F.col("na.embedding"), F.col("nb.embedding")) / (
        F.col("na.nrm") * F.col("nb.nrm")
    )
    return (
        cand.join(na, F.col("vec_a") == F.col("na.vec_id"))
        .join(nb, F.col("vec_b") == F.col("nb.vec_id"))
        .filter(cos > COSINE_THRESHOLD)
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
    )


# Rounds of min-label propagation: each round spreads the component
# minimum one hop, so this bounds the recoverable component DIAMETER.
# MinHash-LSH components on the fixture corpus are small near-cliques,
# so 8 is generous; the contract is the TRUE transitive closure, so an
# undershoot raises (see dedup_connected_components) instead of passing.
CC_ROUNDS = 8

@register(
    "dedup_connected_components",
    oracle_sql=f"""
    WITH RECURSIVE
    {_SQL_MINHASH_CTES},
    edges AS (
      SELECT doc_a, doc_b FROM mhpairs
      UNION ALL
      SELECT doc_b, doc_a FROM mhpairs
    ),
    reach(doc, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.doc_b, r.lab FROM reach r JOIN edges e ON e.doc_a = r.doc
    )
    SELECT doc AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
    FROM reach GROUP BY doc
    """,
    tags=("dedup", "clusters", "iterative"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment: connected components over the
    MinHash-LSH near-dup graph, every document labeled with the minimum
    doc_id of its component (singletons label themselves).  This is the
    step that turns pairwise near-dup hits into keep/drop groups.
    (The SimHash graph is NOT used as the edge set: 16-bit signatures
    over the word-salad fixture are so dense that everything collapses
    into one component — a degenerate clustering.)

    Implementation: min-label propagation to a detected fixpoint in at
    most {CC_ROUNDS} rounds (``functions/iterate.py::propagate``); the
    oracle is the exact recursive-CTE transitive closure, so hitting
    the bound still changing raises.  At 100 TB you would checkpoint
    to reliable storage instead of executor memory and switch to the
    alternating small-star/large-star formulation (same join/agg
    primitives, O(log n) rounds); component diameters here are tiny
    because LSH band collisions form near-cliques.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint()
    docs = parallel_scan(spark, sf_dir, "documents").select("doc_id")
    labels = docs.select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    ).localCheckpoint()
    labels, rounds, converged = propagate(
        labels,
        lambda lab: edges.join(lab, edges.doc_a == lab.doc_id).select(
            F.col("doc_b").alias("doc_id"), "cluster_id"
        ),
        "doc_id",
        "cluster_id",
        F.min,
        CC_ROUNDS,
    )
    record_rounds(
        dedup_connected_components, rounds, converged, f"CC_ROUNDS={CC_ROUNDS}"
    )
    return labels


@register(
    "dedup_keep_representatives",
    oracle_sql=f"""
    WITH RECURSIVE
    {_SQL_MINHASH_CTES},
    edges AS (
      SELECT doc_a, doc_b FROM mhpairs
      UNION ALL
      SELECT doc_b, doc_a FROM mhpairs
    ),
    reach(doc, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.doc_b, r.lab FROM reach r JOIN edges e ON e.doc_a = r.doc
    ),
    labs AS (
      SELECT doc AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY doc
    )
    SELECT CAST(cluster_id AS BIGINT) AS doc_id,
           count(*) AS cluster_size
    FROM labs GROUP BY cluster_id
    """,
    tags=("dedup", "clusters", "pipeline"),
)
def dedup_keep_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep/drop decision that ends a near-dup pipeline: one
    representative per connected component (the min doc_id — stable,
    engine-independent), with the component size it speaks for.  A
    training-data run would semi-join the corpus against this table to
    materialize the deduplicated set; emitting (representative, size)
    keeps the oracle exact while the fixture corpus stays small.

    Cost on top of the component labeling: one extra tiny groupBy on
    cluster_id — the label table is (doc_id, cluster_id) pairs, already
    far smaller than the corpus at scale.  Labels come from
    [[dedup_cc_stars]] (the O(log n) star formulation — converges in
    2-3 detected rounds on this graph vs {CC_ROUNDS} fixed propagation
    rounds; identical output by contract AND by test, so this swap is
    pure wall-clock).
    """
    labels = dedup_cc_stars(spark, sf_dir)
    return (
        labels.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .select(F.col("cluster_id").alias("doc_id"), "cluster_size")
    )


# Quality scorer constants shared with textanalysis's classifier (the
# import is deferred to the function body only for the query_fn; the
# constants are safe at module scope — textanalysis has no dedup import).
from mapreduce_c_implementation_spark.operators.textanalysis import (  # noqa: E402
    HASH_DIM as _QC_HASH_DIM,
    QC_WEIGHT_RANGE as _QC_WEIGHT_RANGE,
)


@register(
    "dedup_quality_representatives",
    oracle_sql=f"""
    WITH RECURSIVE
    {_SQL_MINHASH_CTES},
    edges AS (
      SELECT doc_a, doc_b FROM mhpairs
      UNION ALL
      SELECT doc_b, doc_a FROM mhpairs
    ),
    reach(doc, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.doc_b, r.lab FROM reach r JOIN edges e ON e.doc_a = r.doc
    ),
    labs AS (
      SELECT doc AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY doc
    ),
    qtok AS (SELECT doc_id, unnest({_TOK}) AS t FROM documents),
    qscore AS (
      SELECT doc_id,
             sum((CAST('0x' || substr(md5('w' ||
                    CAST(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)
                         % {_QC_HASH_DIM} AS VARCHAR)), 1, 8) AS BIGINT)
                  % {2 * _QC_WEIGHT_RANGE + 1}) - {_QC_WEIGHT_RANGE}) AS score
      FROM qtok GROUP BY doc_id
    ),
    member AS (
      SELECT l.cluster_id, l.doc_id, coalesce(q.score, 0) AS score
      FROM labs l LEFT JOIN qscore q USING (doc_id)
    ),
    best AS (
      SELECT cluster_id, count(*) AS cluster_size,
             max(score) AS kept_score_micro
      FROM member GROUP BY cluster_id
    )
    SELECT CAST(b.cluster_id AS BIGINT) AS cluster_id,
           CAST(b.cluster_size AS BIGINT) AS cluster_size,
           CAST(min(m.doc_id) AS BIGINT) AS kept_doc_id,
           CAST(b.kept_score_micro AS BIGINT) AS kept_score_micro
    FROM best b JOIN member m
      ON m.cluster_id = b.cluster_id AND m.score = b.kept_score_micro
    GROUP BY b.cluster_id, b.cluster_size, b.kept_score_micro
    """,
    tags=("dedup", "clusters", "quality", "pipeline"),
)
def dedup_quality_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster representative selection: instead of
    [[dedup_keep_representatives]]'s min-doc_id rule, each near-dup
    component keeps its HIGHEST-QUALITY member by
    [[quality_classifier_inference]]'s score (ties broken by min
    doc_id — stable, engine-independent).  This is the production
    choice: when a cluster holds a clean original and a boilerplate-
    wrapped mirror, min-id keeps whichever scraped first; argmax-by-
    quality keeps the one worth training on.

    Shape: cluster labels ([[dedup_cc_stars]], O(log n) rounds) joined
    doc-grain to the classifier scores (left join + coalesce 0 — docs
    with zero tokens score 0), then the cluster-grain argmax as ONE
    map-side-combined hash aggregate: max(struct(score, -doc_id))
    compares score first and breaks ties to the SMALLEST doc_id —
    exactly the former (count, max-score) aggregate + probe-join-back
    pair, with the join, the second aggregation pass, and the cache
    that fed them both eliminated (r13: 8.2 s -> measured below; the
    member table is consumed once, so its upstream token explode +
    per-token md5 scoring runs once with no materialization).  At
    100 TB every stage is an equi-keyed exchange — no windows over the
    full corpus, no driver-side state.

    Reference analog: none beyond the dedup combiner idiom (/root/reference/src/job.c:1 compiled-in callbacks); LLM-pipeline surface per the brief.
    """
    from mapreduce_c_implementation_spark.operators.textanalysis import (
        quality_classifier_inference,
    )

    labels = dedup_cc_stars(spark, sf_dir)
    scores = quality_classifier_inference(spark, sf_dir).select(
        "doc_id", F.col("score_sum_micro").alias("score")
    )
    member = labels.join(scores, "doc_id", "left").select(
        "cluster_id",
        "doc_id",
        F.coalesce(F.col("score"), F.lit(0)).cast("long").alias("score"),
    )
    # Argmax-with-min-id-tiebreak in ONE aggregate: struct ordering
    # compares score first, then -doc_id, so the max struct carries the
    # highest score and (via the negation) the smallest doc_id among
    # its holders.  (The negation assumes non-negative doc_ids — true
    # of every fixture and of the synthetic id space by construction;
    # only doc_id == Long.MIN_VALUE could overflow.)
    best = member.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size"),
        F.max(
            F.struct(
                F.col("score").alias("s"), (-F.col("doc_id")).alias("ni")
            )
        ).alias("mx"),
    )
    return best.select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "cluster_size",
        (-F.col("mx.ni")).cast("long").alias("kept_doc_id"),
        F.col("mx.s").cast("long").alias("kept_score_micro"),
    )


# Edit-distance threshold for the record-linkage verifier, and the
# stop-key cap: a blocking key shared by more than LINK_BLOCK_CAP
# DISTINCT name values is non-discriminative (the "stop word" of
# blocking) and is dropped, so candidate pairs are bounded by
# construction at <= 2 * |distinct names| * LINK_BLOCK_CAP — linear in
# the name space, never quadratic in the catalog.
LINK_MAX_DIST = 3
LINK_BLOCK_CAP = 256

# Shared blocking SQL (DuckDB): value-grain compaction (distinct names
# with copy counts and a min-key representative), two redundant token
# blockings (first token / last token) union'd LSH-band style, the
# stop-key cap, a length-band residual, and the exact levenshtein
# verify.  Mirrored verbatim by the Spark plan in
# ``record_linkage_blocked`` and reused by ``entity_resolution_clusters``.
_SQL_LINK_PAIRS = f"""
    vals AS (
      SELECT p_name, count(*) AS n_rows, min(p_partkey) AS rep_key,
             length(p_name) AS l
      FROM part GROUP BY p_name
    ),
    keyed AS (
      SELECT p_name, n_rows, rep_key, l,
             'p:' || split_part(p_name, ' ', 1) AS bkey
      FROM vals
      UNION ALL
      SELECT p_name, n_rows, rep_key, l,
             's:' || list_extract(string_split(p_name, ' '), -1) AS bkey
      FROM vals
    ),
    kept AS (
      SELECT * FROM (
        SELECT *, count(*) OVER (PARTITION BY bkey) AS bsz FROM keyed
      ) WHERE bsz <= {LINK_BLOCK_CAP}
    ),
    link_pairs AS (
      SELECT key_a, key_b, name_a, name_b,
             levenshtein(name_a, name_b) AS dist, n_rows_a, n_rows_b
      FROM (
        SELECT DISTINCT a.rep_key AS key_a, b.rep_key AS key_b,
               a.p_name AS name_a, b.p_name AS name_b,
               a.n_rows AS n_rows_a, b.n_rows AS n_rows_b
        FROM kept a JOIN kept b
          ON a.bkey = b.bkey
         AND abs(a.l - b.l) <= {LINK_MAX_DIST}
         AND a.rep_key < b.rep_key
      )
      WHERE levenshtein(name_a, name_b) <= {LINK_MAX_DIST}
    )
"""


def _link_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_SQL_LINK_PAIRS`` — see ``record_linkage_blocked``."""
    from pyspark.sql.window import Window

    p = load_table(spark, sf_dir, "part")
    vals = p.groupBy("p_name").agg(
        F.count("*").alias("n_rows"), F.min("p_partkey").alias("rep_key")
    )
    toks = F.split(F.col("p_name"), " ")
    keyed = vals.select(
        "p_name",
        "n_rows",
        "rep_key",
        F.length("p_name").alias("l"),
        F.explode(
            F.array(
                F.concat(F.lit("p:"), F.element_at(toks, 1)),
                F.concat(F.lit("s:"), F.element_at(toks, -1)),
            )
        ).alias("bkey"),
    )
    kept = keyed.select(
        "*", F.count("*").over(Window.partitionBy("bkey")).alias("bsz")
    ).filter(F.col("bsz") <= LINK_BLOCK_CAP)
    a, b = kept.alias("a"), kept.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bkey") == F.col("b.bkey"))
            & (F.abs(F.col("a.l") - F.col("b.l")) <= LINK_MAX_DIST)
            & (F.col("a.rep_key") < F.col("b.rep_key")),
        )
        .select(
            F.col("a.rep_key").alias("key_a"),
            F.col("b.rep_key").alias("key_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.col("a.n_rows").alias("n_rows_a"),
            F.col("b.n_rows").alias("n_rows_b"),
        )
        .distinct()
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return cand.filter(dist <= LINK_MAX_DIST).select(
        "key_a", "key_b", "name_a", "name_b", dist.alias("dist"),
        "n_rows_a", "n_rows_b",
    )


@register(
    "record_linkage_blocked",
    oracle_sql=f"""
    WITH {_SQL_LINK_PAIRS.strip()}
    SELECT key_a, key_b, name_a, name_b, CAST(dist AS BIGINT) AS dist,
           CAST(n_rows_a AS BIGINT) AS n_rows_a,
           CAST(n_rows_b AS BIGINT) AS n_rows_b
    FROM link_pairs
    """,
    tags=("dedup", "record-linkage", "fuzzy"),
)
def record_linkage_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage (entity resolution): near-identical part
    names found by BLOCKED edit distance — the classic
    dedupe-dirty-catalogs primitive, at VALUE grain.

    The round-8 verdict graded the previous formulation weak for scale:
    it blocked ROW pairs on the ~constant-cardinality first name token,
    so within-block levenshtein pairs grew quadratically with the
    catalog.  Two structural fixes land here, both the combiner
    discipline (shrink before the expensive stage — the analog of
    /root/reference/src/main.c:62-81's combine-before-shuffle):

    1. **Value-grain compaction.**  Names are grouped to DISTINCT
       values first (copy count + min-key representative), so the
       quadratic stage runs on the name SPACE — which grows far slower
       than the catalog (fixture: 64 names under 20,000 rows) — and
       exact-duplicate rows never reach the pair stage at all.
    2. **Bounded multi-blocking.**  Two redundant token blockings
       (first token, last token — union'd like LSH bands, so an edit
       inside one token still blocks on the other) with a length-band
       residual (|len_a - len_b| <= {LINK_MAX_DIST}, a true Levenshtein
       lower bound) and a STOP-KEY cap: any blocking key shared by more
       than {LINK_BLOCK_CAP} distinct names is non-discriminative and
       dropped, so candidates are <= 2 * |names| * {LINK_BLOCK_CAP} by
       construction.  Exact levenshtein verifies candidates only.

    Output: one row per linked NAME pair (rep keys ordered key_a <
    key_b) with the edit distance and each side's row multiplicity —
    the row-grain pair table is the trivial (n_rows_a * n_rows_b)
    expansion nobody should materialize.

    Scale: one name-grain groupBy, an equi-join on the blocking key
    with bounded fan-out, and a verify over a linearly-bounded
    candidate set.  levenshtein is a JVM builtin; both engines
    implement the standard unit-cost DP, so distances agree exactly.
    """
    return _link_pairs(spark, sf_dir).select(
        "key_a",
        "key_b",
        "name_a",
        "name_b",
        F.col("dist").cast("long").alias("dist"),
        F.col("n_rows_a").cast("long").alias("n_rows_a"),
        F.col("n_rows_b").cast("long").alias("n_rows_b"),
    )


# Increment split: docs whose md5 bucket % 5 == 0 (~20%) play the role of
# the NEW batch; the rest are the already-indexed corpus.
_INC_SQL_IS_NEW = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 5 = 0"
)


def _inc_is_new() -> Column:
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 5
        == 0
    )


@register(
    "dedup_minhash_incremental",
    oracle_sql=f"""
    WITH {_SQL_MINHASH_CTES}
    SELECT DISTINCT n.doc_id AS new_doc_id, i.doc_id AS index_doc_id
    FROM (SELECT * FROM bands WHERE {_INC_SQL_IS_NEW}) n
    JOIN (SELECT * FROM bands WHERE NOT ({_INC_SQL_IS_NEW})) i
      ON n.band_idx = i.band_idx AND n.band_key = i.band_key
    """,
    tags=("dedup", "minhash", "incremental", "pipeline"),
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: flag documents in a NEW batch that near-dup
    anything in the ALREADY-INDEXED corpus — the production shape of
    web-scale dedup, where each crawl increment is checked against a
    persisted signature index instead of re-deduping 100 TB from
    scratch.  The fixture splits documents 20/80 by content hash to
    stand in for (new batch, index).

    Shape: the band table ([[dedup_minhash_lsh]]'s `_minhash_bands`,
    computed once and cached) is split by the hash predicate and the two
    sides equi-join on (band_idx, band_key) — new x index only, never
    index x index.  At 100 TB the index side is a PERSISTED band table
    (12 ints + band keys per doc, ~100 bytes/doc) bucketed by band_key:
    the increment's bands shuffle-join against it while the corpus text
    is never touched, so incremental dedup costs O(increment) + one
    index probe, not O(corpus).  Non-dup new docs would then append
    their bands to the index — same layout, pure insert.
    """
    bands = _minhash_bands(spark, sf_dir)
    new_b = bands.filter(_inc_is_new()).alias("n")
    idx_b = bands.filter(~_inc_is_new()).alias("i")
    return (
        new_b.join(
            idx_b,
            (F.col("n.band_idx") == F.col("i.band_idx"))
            & (F.col("n.band_key") == F.col("i.band_key")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc_id"),
            F.col("i.doc_id").alias("index_doc_id"),
        )
        .distinct()
    )


# Safety ceiling for the star algorithm's data-dependent loop.  The
# POINT of the formulation is that it converges in O(log n) alternating
# rounds (vs CC_ROUNDS = diameter for plain propagation); the fixture's
# near-clique components converge in 2-3.  A test pins observed rounds
# < CC_ROUNDS so the asymptotic win is measured, not asserted.
CC_STARS_MAX_ROUNDS = 12


@register(
    "dedup_cc_stars",
    oracle_sql=f"""
    WITH RECURSIVE
    {_SQL_MINHASH_CTES},
    edges AS (
      SELECT doc_a, doc_b FROM mhpairs
      UNION ALL
      SELECT doc_b, doc_a FROM mhpairs
    ),
    reach(doc, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.doc_b, r.lab FROM reach r JOIN edges e ON e.doc_a = r.doc
    )
    SELECT doc AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
    FROM reach GROUP BY doc
    """,
    tags=("dedup", "clusters", "iterative", "stars"),
)
def dedup_cc_stars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup graph via
    ALTERNATING SMALL-STAR / LARGE-STAR — the O(log n)-round
    formulation (Kiveris et al., "Connected Components in MapReduce and
    Beyond") that [[dedup_connected_components]]'s docstring names as
    its 100 TB upgrade.  Same edge set, same output contract (every doc
    labeled with its component's min doc_id; the oracle is the exact
    recursive-CTE transitive closure), different iteration structure:

    - large-star: every node points its LARGER neighbors at the min of
      its closed neighborhood — one groupBy(min) + one equi-join.
    - small-star: every node and its SMALLER neighbors re-point at the
      min of the smaller neighborhood — same two primitives.

    Each operation strictly flattens trees toward component minima;
    alternating them converges to min-rooted stars in O(log n) rounds
    REGARDLESS of component diameter, vs plain min-label propagation's
    O(diameter).  The loop detects the fixed point (edge set unchanged
    — an exact count+except check over the checkpointed edge tables,
    O(edges), cheap because star edge sets only shrink toward one row
    per non-root node) and records the rounds used in
    ``dedup_cc_stars.last_rounds``; hitting the round ceiling without
    a fixed point raises.

    Scale shape: per round, two groupBy+broadcast-join passes over an
    EDGE table (pairs-sized, far smaller than the corpus — the corpus
    itself never re-enters after the LSH pass) with `localCheckpoint`
    truncating lineage; at 100 TB the checkpoint goes to reliable
    storage and convergence is flagged by a LongAccumulator instead of
    the except-count job — same plan, durable state.  Edges keep the
    canonical (a > b) orientation throughout, so every table is a set
    of (node, smaller-candidate-root) pairs and the final label join is
    one left join against documents.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    # canonical orientation a > b, deduplicated
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("a"),
            F.least("doc_a", "doc_b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    # |edges| is counted once; later rounds reuse the previous round's
    # observed |small| rather than recount a materialized table.
    n_edges = edges.count()
    converged = False
    for rounds in range(1, CC_STARS_MAX_ROUNDS + 1):
        # large-star: m(u) = min over closed neighborhood; larger
        # neighbors of u re-point at m(u).
        sym = edges.select("a", "b").union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        lmins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mn"))
            .select("a", F.least("mn", "a").alias("m"))
        )
        large = (
            sym.join(lmins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        # small-star: u and its smaller neighbors re-point at the min of
        # the smaller neighborhood (edges already hold a > b, so each
        # undirected edge appears exactly once with a = larger end).
        # |small| rides the checkpoint's own job (functions/iterate.py).
        smins = large.groupBy("a").agg(F.min("b").alias("m"))
        small, got = checkpoint_observed(
            large.join(smins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(smins.select(F.col("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct(),
            F.count(F.lit(1)).alias("n"),
        )
        # fixed point: star edge sets are distinct and share the a > b
        # invariant, so set equality == equal counts + empty except.
        converged = got["n"] == n_edges and small.exceptAll(edges).isEmpty()
        edges, n_edges = small, got["n"]
        if converged:
            break
    record_rounds(
        dedup_cc_stars,
        rounds,
        converged,
        f"CC_STARS_MAX_ROUNDS={CC_STARS_MAX_ROUNDS}",
    )
    docs = parallel_scan(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.select("doc_id", F.col("doc_id").alias("cluster_id"))
        .union(
            edges.select(F.col("a").alias("doc_id"), F.col("b").alias("cluster_id"))
        )
        .groupBy("doc_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )


# Bucket count for the persisted band index (production: thousands).
MH_INDEX_BUCKETS = 8


@register(
    "dedup_minhash_bucketed_probe",
    oracle_sql=f"""
    WITH {_SQL_MINHASH_CTES}
    SELECT DISTINCT n.doc_id AS new_doc_id, i.doc_id AS index_doc_id
    FROM (SELECT * FROM bands WHERE {_INC_SQL_IS_NEW}) n
    JOIN (SELECT * FROM bands WHERE NOT ({_INC_SQL_IS_NEW})) i
      ON n.band_idx = i.band_idx AND n.band_key = i.band_key
    """,
    tags=("dedup", "minhash", "incremental", "bucketed", "pipeline"),
)
def dedup_minhash_bucketed_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[[dedup_minhash_incremental]] in its PRODUCTION shape: the index
    side is a PERSISTED band table, written once bucketed+sorted by the
    band key, and each new-batch probe sort-merge-joins against it with
    ZERO index-side shuffle (plan-gated: the index scan reads buckets
    directly — the only exchanges in the query are the probe side
    aligning to the bucket layout and the final distinct).  Same
    contract and oracle as the in-memory variant; what changes is WHERE
    the index lives — a catalog table that survives across jobs, so
    each crawl increment pays O(increment) + a co-located probe, and
    appending a deduped increment's bands to the index is a pure
    bucket-aligned insert.

    The join key is the single combined column band_idx#band_key (bands
    never collide across band_idx because the separator can't appear in
    either part), which lets the bucket spec BE the join key — Spark's
    bucketed SMJ requires the bucket columns to cover the join keys.
    This is [[bucketed_join_colocated]]'s storage-level co-location
    applied to the dedup index; the reference's analog is its hash
    partitioner contract (src/partition.c) made durable.
    """
    bands = _minhash_bands(spark, sf_dir)
    bkey = F.concat_ws("#", F.col("band_idx").cast("string"), F.col("band_key"))
    tbl = f"b_mh_index_{path_tag(sf_dir)}"
    if not spark.catalog.tableExists(tbl):
        save_bucketed(
            spark,
            bands.filter(~_inc_is_new())
            .select("doc_id", bkey.alias("bkey"))
            # one file per bucket keeps the sorted-scan optimization on
            .repartition(MH_INDEX_BUCKETS, F.col("bkey")),
            tbl,
            "bkey",
            MH_INDEX_BUCKETS,
        )
    idx = spark.table(tbl).select(
        F.col("doc_id").alias("index_doc_id"), "bkey"
    )
    probe = bands.filter(_inc_is_new()).select(
        F.col("doc_id").alias("new_doc_id"), bkey.alias("bkey")
    )
    return (
        probe.join(idx.hint("merge"), "bkey")
        .select("new_doc_id", "index_doc_id")
        .distinct()
    )


# Prefix-filtered set-similarity join (PPJoin-style candidate
# generation, exact verification): 5-token shingle sets, Jaccard
# threshold PFX_T_NUM/PFX_T_DEN.
PFX_SHINGLE_K = 5
PFX_T_NUM = 3
PFX_T_DEN = 5


@register(
    "set_similarity_prefix_join",
    oracle_sql=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS ts FROM documents),
    sh AS (
      SELECT doc_id,
             list_transform(
               list_distinct({duckdb_ngrams('ts', PFX_SHINGLE_K)}),
               s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS ss
      FROM toks WHERE len(ts) >= {PFX_SHINGLE_K}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.ss, b.ss)) AS i,
             len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss)) AS u
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(i AS BIGINT) AS n_inter,
           CAST(u AS BIGINT) AS n_union,
           CAST(i * 10000 // u AS BIGINT) AS jaccard_bp
    FROM pairs
    WHERE i * {PFX_T_DEN} >= u * {PFX_T_NUM}
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "similarity-join", "prefix-filter", "pipeline"),
)
def set_similarity_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join (shingle Jaccard >=
    {PFX_T_NUM}/{PFX_T_DEN}) with PREFIX-FILTERED candidate generation
    — the PPJoin/AllPairs shape: order every document's shingle set by
    global rarity (document frequency ASC), keep only the first
    n - ceil(t*n) + 1 shingles as the "prefix", and generate candidate
    pairs by equi-joining prefixes.  The prefix-filtering theorem
    guarantees zero false negatives for ANY global total order, so the
    exact verify step reproduces the all-pairs answer — which is
    precisely what the oracle computes quadratically.

    Why this is the scalable exact join: candidates come from the
    RAREST shingles only, so the posting-list fan-out per join key is
    small by construction — hot boilerplate shingles sort to the END
    of each set and never enter a prefix, achieving what [[dedup
    _ngram_jaccard]]'s df-cap does but WITHOUT sacrificing exactness.
    Unlike MinHash ([[dedup_minhash_lsh]]) there are no probabilistic
    misses: this is the operator you run when the dedup decision must
    be exact (legal takedowns, eval decontamination).

    Plan: df aggregate (vocab-sized) -> shingle->df equi-join -> one
    groupBy(doc) builds the rarity-sorted set in-row (array_sort on
    (df, shingle) structs) -> prefix explode -> self equi-join on
    shingle -> distinct pairs -> exact integer verify
    ({PFX_T_DEN}*|A∩B| >= {PFX_T_NUM}*|A∪B|) against the full sets.
    Three corpus-keyed shuffles total, no cross join anywhere; the
    verify join touches only surviving candidate pairs.
    """
    d = compute_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("ts")).filter(
        F.size("ts") >= PFX_SHINGLE_K
    )
    # Shingles are 64-bit md5-prefix hashes from here on: the df/sort/
    # join path moves 8-byte longs instead of ~30-byte shingle strings,
    # and the verify-side array_intersect compares longs.  Both engines
    # hash identically, so the oracle agrees by construction (and at
    # 64 bits a collision altering a Jaccard verdict is ~n²/2⁶⁴).
    hashed = F.transform(
        F.array_distinct(ngrams(F.col("ts"), PFX_SHINGLE_K)),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )
    # Cached once, reused by the df build, both prefix join sides, and
    # the verify join — without the cache Spark re-runs the corpus
    # tokenize+shingle lineage per consumer (the 69 s -> ~8 s fix at
    # sf0.1).  At production scale this materialization is the
    # rarity-sorted set table you would persist bucketed by doc_id.
    sets = toks.select("doc_id", hashed.alias("ss")).cache()
    doc_sh = sets.select("doc_id", F.explode("ss").alias("sh"))
    df_tbl = doc_sh.groupBy("sh").agg(F.count("*").alias("df"))
    # rarity-sorted set per doc; prefix length n - ceil(t*n) + 1 with
    # ceil(t*n) = (PFX_T_NUM*n + PFX_T_DEN - 1) div PFX_T_DEN.
    sorted_sets = (
        doc_sh.join(df_tbl, "sh")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("sh")))
            ).alias("sorted_sh")
        )
        .select(
            "doc_id",
            F.expr(
                f"slice(sorted_sh, 1, size(sorted_sh)"
                f" - ((({PFX_T_NUM} * size(sorted_sh) + {PFX_T_DEN - 1})"
                f" div {PFX_T_DEN})) + 1)"
            ).alias("prefix"),
        )
        .select("doc_id", F.explode(F.col("prefix.sh")).alias("sh"))
    ).cache()
    sorted_sets.count()  # force the df-join + rarity sort ONCE
    a = sorted_sets.select(F.col("doc_id").alias("doc_a"), "sh")
    b = sorted_sets.select(F.col("doc_id").alias("doc_b"), "sh")
    cands = (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ss_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ss_b"))
    verified = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ss_a", "ss_b")).alias("i"),
            (
                F.size("ss_a") + F.size("ss_b")
                - F.size(F.array_intersect("ss_a", "ss_b"))
            ).alias("u"),
        )
        .filter(F.col("i") * PFX_T_DEN >= F.col("u") * PFX_T_NUM)
    )
    return verified.select(
        "doc_a",
        "doc_b",
        F.col("i").cast("long").alias("n_inter"),
        F.col("u").cast("long").alias("n_union"),
        F.expr("CAST(i * 10000L div u AS BIGINT)").alias("jaccard_bp"),
    ).orderBy("doc_a", "doc_b")


# Containment detection (asymmetric): flag A-contained-in-B when the
# fraction of A's shingles also present in B reaches CONT_MIN_BP.
CONT_SHINGLE_K = 5
CONT_MIN_BP = 8_000


@register(
    "shingle_containment_pairs",
    oracle_sql=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS ts FROM documents),
    sh AS (
      SELECT doc_id,
             list_transform(
               list_distinct({duckdb_ngrams('ts', CONT_SHINGLE_K)}),
               s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS ss
      FROM toks WHERE len(ts) >= {CONT_SHINGLE_K}
    ),
    posting AS (SELECT doc_id, unnest(ss) AS s FROM sh),
    shared AS (
      SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc,
             count(*) AS n_shared
      FROM posting a JOIN posting b
        ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT s.contained_doc, s.container_doc,
           CAST(s.n_shared AS BIGINT) AS n_shared,
           CAST(len(x.ss) AS BIGINT) AS n_shingles,
           CAST(s.n_shared * 10000 // len(x.ss) AS BIGINT) AS containment_bp
    FROM shared s JOIN sh x ON x.doc_id = s.contained_doc
    WHERE s.n_shared * 10000 >= {CONT_MIN_BP} * len(x.ss)
    ORDER BY contained_doc, container_doc
    """,
    tags=("dedup", "containment", "contamination", "pipeline"),
)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT detection: (contained, container) pairs
    where >= {CONT_MIN_BP} bp of the contained document's
    {CONT_SHINGLE_K}-shingles appear in the container — the quote /
    wholesale-inclusion detector.  Jaccard ([[set_similarity_prefix
    _join]]) misses a short document swallowed by a long one (the
    union dominates); containment normalizes by the SMALL side only,
    which is exactly the train-on-eval contamination shape.

    The shingle posting-list self-join IS the intersection count:
    |A∩B| = number of shingles the pair co-occurs under, so no
    set-vs-set rejoin is needed — one equi-join, one pair aggregate,
    one join back to the contained side's shingle count.  Any overlap
    requires a shared shingle, so candidate generation is EXACT (no
    df-cap; the documented production mitigation for hot boilerplate
    shingles is removing them with [[repetition_ngram_stats]]'s
    verdicts upstream, not capping here, which would silently lose
    recall).
    """
    d = compute_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("ts")).filter(
        F.size("ts") >= CONT_SHINGLE_K
    )
    # Cached: the posting list feeds BOTH self-join sides plus the
    # contained-side size table — uncached, Spark re-runs the corpus
    # tokenize+shingle lineage three times (the set_similarity_prefix
    # _join lesson).  Shingles hash to 64-bit longs for join width.
    hashed = F.transform(
        F.array_distinct(ngrams(F.col("ts"), CONT_SHINGLE_K)),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )
    sets = toks.select("doc_id", hashed.alias("ss")).cache()
    posting = sets.select("doc_id", F.explode("ss").alias("s"))
    a = posting.select(F.col("doc_id").alias("contained_doc"), "s")
    b = posting.select(F.col("doc_id").alias("container_doc"), "s")
    shared = (
        a.join(b, "s")
        .filter(F.col("contained_doc") != F.col("container_doc"))
        .groupBy("contained_doc", "container_doc")
        .agg(F.count("*").alias("n_shared"))
    )
    sizes = sets.select(
        F.col("doc_id").alias("contained_doc"),
        F.size("ss").cast("long").alias("n_shingles"),
    )
    return (
        shared.join(sizes, "contained_doc")
        .filter(
            F.col("n_shared") * 10000 >= F.lit(CONT_MIN_BP) * F.col("n_shingles")
        )
        .select(
            "contained_doc",
            "container_doc",
            F.col("n_shared").cast("long").alias("n_shared"),
            "n_shingles",
            F.expr("CAST(n_shared * 10000L div n_shingles AS BIGINT)").alias(
                "containment_bp"
            ),
        )
        .orderBy("contained_doc", "container_doc")
    )


# Jaccard threshold the 4x3 LSH banding is tuned around:
# (1/bands)^(1/rows) = 0.25^(1/3) ~ 0.63; we evaluate at 3/5.
EVAL_T_NUM = 3
EVAL_T_DEN = 5


@register(
    "dedup_recall_eval",
    oracle_sql=f"""
    WITH {_SQL_MINHASH_CTES},
    sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM kept a JOIN kept b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    truth AS (
      SELECT s.doc_a, s.doc_b FROM shared s
      JOIN sizes sa ON sa.doc_id = s.doc_a
      JOIN sizes sb ON sb.doc_id = s.doc_b
      WHERE {EVAL_T_DEN} * s.i >= {EVAL_T_NUM} * (sa.n + sb.n - s.i)
    ),
    lsh AS (SELECT doc_a, doc_b FROM mhpairs),
    joined AS (
      SELECT coalesce(t.doc_a, l.doc_a) AS doc_a,
             CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_truth,
             CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_lsh
      FROM truth t FULL OUTER JOIN lsh l
        ON t.doc_a = l.doc_a AND t.doc_b = l.doc_b
    )
    SELECT CAST(sum(in_truth) AS BIGINT) AS n_truth,
           CAST(sum(in_lsh) AS BIGINT) AS n_lsh,
           CAST(sum(in_truth * in_lsh) AS BIGINT) AS n_both,
           CAST(CASE WHEN sum(in_lsh) > 0
                THEN sum(in_truth * in_lsh) * 10000 // sum(in_lsh)
                ELSE 0 END AS BIGINT) AS precision_bp,
           CAST(CASE WHEN sum(in_truth) > 0
                THEN sum(in_truth * in_lsh) * 10000 // sum(in_truth)
                ELSE 0 END AS BIGINT) AS recall_bp
    FROM joined
    """,
    tags=("dedup", "evaluation", "minhash"),
)
def dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash-LSH candidate generator against
    EXACT Jaccard ground truth at t = {EVAL_T_NUM}/{EVAL_T_DEN} — the
    calibration report a dedup pipeline publishes before anyone trusts
    its candidate pairs (the dedup twin of [[ann_recall_eval]]).

    Both sides are computed over the SAME df-capped shingle sets the
    signatures hash ([[dedup_minhash_lsh]]'s input), so the numbers
    isolate the LSH banding approximation — not the stop-shingle cap.
    Ground truth uses the posting self-join (fan-out bounded by the
    df cap, so even truth generation is not quadratic); the LSH side
    reuses the cached band table.  One full-outer join on the pair
    key, one single-row aggregate; integer basis points.
    """
    # cached: feeds the size table plus BOTH truth self-join sides
    # (the multi-consumer rule — see set_similarity_prefix_join)
    kept = _doc_shingles(spark, sf_dir).cache()
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = kept.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = kept.select(F.col("doc_id").alias("doc_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    truth = (
        shared.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(
            F.lit(EVAL_T_DEN) * F.col("i")
            >= F.lit(EVAL_T_NUM) * (F.col("na") + F.col("nb") - F.col("i"))
        )
        .select("doc_a", "doc_b")
    )
    bands = _minhash_bands(spark, sf_dir)
    lsh = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    t = truth.withColumn("in_truth", F.lit(1))
    l = lsh.withColumn("in_lsh", F.lit(1))
    joined = t.join(l, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce(F.col("in_truth"), F.lit(0)).alias("in_truth"),
        F.coalesce(F.col("in_lsh"), F.lit(0)).alias("in_lsh"),
    )
    return joined.agg(
        F.sum("in_truth").cast("long").alias("n_truth"),
        F.sum("in_lsh").cast("long").alias("n_lsh"),
        F.sum(F.col("in_truth") * F.col("in_lsh")).cast("long").alias("n_both"),
        F.expr(
            "CAST(CASE WHEN sum(in_lsh) > 0 THEN sum(in_truth * in_lsh)"
            " * 10000L div sum(in_lsh) ELSE 0 END AS BIGINT)"
        ).alias("precision_bp"),
        F.expr(
            "CAST(CASE WHEN sum(in_truth) > 0 THEN sum(in_truth * in_lsh)"
            " * 10000L div sum(in_truth) ELSE 0 END AS BIGINT)"
        ).alias("recall_bp"),
    )


# C4/MassiveText-style paragraph-level rewrite: PARA_TOKENS-token
# "paragraphs" (the fixture text has no newlines, so fixed token blocks
# stand in for layout paragraphs), globally keep-first by content digest.
PARA_TOKENS = 16


@register(
    "dedup_paragraph_rewrite",
    oracle_sql=f"""
    WITH toks AS (SELECT doc_id, {{tok}} AS ts FROM documents
                  WHERE len({{tok}}) > 0),
    ch AS (
      SELECT doc_id, i AS chunk_idx,
             array_to_string(
               list_slice(ts, (i - 1) * {PARA_TOKENS} + 1, i * {PARA_TOKENS}),
               ' ') AS ptxt
      FROM (SELECT doc_id, ts,
                   unnest(generate_series(
                     1, CAST(ceil(len(ts) / {PARA_TOKENS}.0) AS BIGINT))) AS i
            FROM toks)
    ),
    dig AS (SELECT doc_id, chunk_idx, ptxt, md5(ptxt) AS digest FROM ch),
    first_doc AS (SELECT digest, min(doc_id) AS kd FROM dig GROUP BY digest),
    first_pos AS (
      SELECT d.digest, d.doc_id AS kd, min(d.chunk_idx) AS ki
      FROM dig d JOIN first_doc f
        ON f.digest = d.digest AND f.kd = d.doc_id
      GROUP BY d.digest, d.doc_id
    )
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN f.kd = d.doc_id AND f.ki = d.chunk_idx
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(
             CASE WHEN f.kd = d.doc_id AND f.ki = d.chunk_idx
                  THEN d.ptxt END, ' ' ORDER BY d.chunk_idx), '') AS kept_text
    FROM dig d JOIN first_pos f ON f.digest = d.digest
    GROUP BY d.doc_id
    """.format(tok=DUCKDB_TOKENIZE.format(col="text")),
    tags=("dedup", "paragraph", "rewrite", "pipeline"),
)
def dedup_paragraph_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup with corpus REWRITE — the C4 /
    MassiveText recipe: hash every paragraph, keep only its globally
    FIRST occurrence (lexicographically smallest (doc_id, chunk_idx)),
    and reassemble each document from its surviving paragraphs.
    [[exact_substring_duplicates]] detects shared runs; this operator
    produces the cleaned corpus.

    Paragraphs are fixed {PARA_TOKENS}-token blocks (the fixture text
    is newline-free; with layout text the splitter would be
    split(text, '\\n\\n') and everything downstream is unchanged).

    Scale shape: blocks generate in-row; only (digest, doc_id,
    chunk_idx) triples shuffle to pick winners (two digest-grain
    aggregates = lexicographic min); winners join back digest-keyed;
    the rebuild is one doc-keyed aggregate whose collect_list is
    bounded by the DOCUMENT's own size (the [[document_chunking]]
    bound).  Paragraph text rides the shuffle once — at 100 TB you'd
    carry only (digest, doc pointer) and rebuild from the source scan,
    an orthogonal storage trade documented here.
    """
    d = compute_scan(spark, sf_dir, "documents")
    # Zero-token docs are dropped on BOTH engines: Spark's sequence(1, 0)
    # is the descending [1, 0] (would emit two phantom ''-chunks) while
    # DuckDB's generate_series(1, 0) is empty — filter before chunking.
    toks = d.select("doc_id", tokenize(F.col("text")).alias("ts")).filter(
        F.size("ts") > 0
    )
    ts = F.col("ts")
    ch = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.ceil(F.size(ts) / F.lit(float(PARA_TOKENS))).cast("int"),
                ),
                lambda i: F.struct(
                    i.alias("chunk_idx"),
                    F.array_join(
                        F.slice(ts, (i - 1) * PARA_TOKENS + 1, PARA_TOKENS), " "
                    ).alias("ptxt"),
                ),
            )
        ).alias("c"),
    ).select("doc_id", "c.chunk_idx", "c.ptxt")
    dig = ch.withColumn("digest", F.md5(F.col("ptxt")))
    first_doc = dig.groupBy("digest").agg(F.min("doc_id").alias("kd"))
    first_pos = (
        dig.join(first_doc, ["digest"])
        .filter(F.col("doc_id") == F.col("kd"))
        .groupBy("digest", "kd")
        .agg(F.min("chunk_idx").alias("ki"))
    )
    keep = (F.col("kd") == F.col("doc_id")) & (F.col("ki") == F.col("chunk_idx"))
    return (
        dig.join(first_pos, "digest")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    keep,
                                    F.struct("chunk_idx", F.col("ptxt")),
                                )
                            )
                        ),
                        lambda x: x.ptxt,
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("kept_text"),
        )
    )


# LSH tuning sweep: candidate-generation cost for several (bands x
# rows) splits of the same MINHASH_K-hash signature, reported from
# BUCKET arithmetic alone (sum over buckets of C(n,2) = collision
# slots, the join's work estimate) — no pair join is executed.
# Threshold milli = round((1/b)^(1/r) * 1000), the s-curve midpoint.
LSH_SWEEP_CONFIGS = [(2, 6), (4, 3), (6, 2), (12, 1)]
_LSH_THRESH_MILLI = {
    (b, r): round((1.0 / b) ** (1.0 / r) * 1000) for b, r in LSH_SWEEP_CONFIGS
}


def _lsh_sweep_oracle() -> str:
    selects = []
    for b, r in LSH_SWEEP_CONFIGS:
        bands = " UNION ALL ".join(
            f"SELECT concat_ws(':', '{j}', "
            + ", ".join(f"mh{j * r + k}" for k in range(r))
            + ") AS bkey FROM sig"
            for j in range(b)
        )
        selects.append(f"""
      SELECT {b} AS bands, {r} AS rows_per_band,
             {_LSH_THRESH_MILLI[(b, r)]} AS threshold_milli,
             CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_buckets_multi,
             CAST(max(n) AS BIGINT) AS max_bucket,
             CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_collision_slots
      FROM (SELECT bkey, count(*) AS n FROM ({bands}) GROUP BY bkey)""")
    return (
        f"WITH {_SQL_MINHASH_CTES}\n    SELECT * FROM ("
        + "\n      UNION ALL ".join(selects)
        + ") ORDER BY bands"
    )


@register(
    "lsh_parameter_sweep",
    oracle_sql=_lsh_sweep_oracle(),
    tags=("dedup", "lsh", "tuning", "pipeline"),
)
def lsh_parameter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding tuner: split the SAME {MINHASH_K}-hash MinHash
    signature into every (bands x rows) configuration and report, per
    config, the s-curve threshold (the Jaccard similarity at which
    collision probability crosses ~1/2) next to the measured
    candidate-generation cost — multi-occupancy bucket count, largest
    bucket, and collision slots sum(C(n,2)), the exact work the band
    equi-join would do.  This is the one-pass report that picks
    [[dedup_minhash_lsh]]'s operating point instead of guessing.

    Scale shape: the signature computes once (one shingle aggregate);
    each config is an in-row band re-split and a bucket-grain count —
    the pair JOIN never runs, so the sweep costs bucket arithmetic
    even where a bad config would generate quadratic candidates (the
    whole point of forecasting before joining).
    """
    sig = _minhash_signatures(spark, sf_dir)
    outs = []
    for b, r in LSH_SWEEP_CONFIGS:
        bands = sig.select(
            F.explode(
                F.array(
                    *[
                        F.concat_ws(
                            ":",
                            F.lit(str(j)),
                            *[F.col(f"mh{j * r + k}") for k in range(r)],
                        )
                        for j in range(b)
                    ]
                )
            ).alias("bkey")
        )
        buckets = bands.groupBy("bkey").agg(F.count("*").alias("n"))
        outs.append(
            buckets.agg(
                F.lit(b).alias("bands"),
                F.lit(r).alias("rows_per_band"),
                F.lit(_LSH_THRESH_MILLI[(b, r)]).alias("threshold_milli"),
                F.sum(F.when(F.col("n") >= 2, 1).otherwise(0))
                .cast("long")
                .alias("n_buckets_multi"),
                F.max("n").cast("long").alias("max_bucket"),
                F.expr("CAST(sum(n * (n - 1) div 2) AS BIGINT)").alias(
                    "n_collision_slots"
                ),
            ).select(
                "bands",
                "rows_per_band",
                "threshold_milli",
                "n_buckets_multi",
                "max_bucket",
                "n_collision_slots",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("bands")


@register(
    "dedup_cluster_size_histogram",
    oracle_sql="""
    WITH clusters AS (
      SELECT md5(text) AS digest, count(*) AS n_copies
      FROM documents GROUP BY digest
    )
    SELECT CAST(n_copies AS BIGINT) AS n_copies,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(n_copies * count(*) AS BIGINT) AS n_docs,
           CAST((n_copies - 1) * count(*) AS BIGINT) AS n_removable
    FROM clusters
    GROUP BY n_copies
    ORDER BY n_copies
    """,
    tags=("dedup", "report", "pipeline"),
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the headline table of every
    dedup report ("how much of the corpus is duplicated, and in what
    cluster sizes?"): per exact-content cluster size, the number of
    clusters, documents covered, and documents a keep-one rewrite
    would remove.  [[dedup_exact]] lists the clusters; this is the
    corpus-level summary that decides whether near-dedup is even worth
    running.

    Scale shape: digest groupBy (only 16-byte digests shuffle), then a
    histogram over cluster SIZES — a domain a few dozen values wide no
    matter the corpus.  Two map-side-combined aggregates, nothing else.
    """
    clusters = (
        compute_scan(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("digest"))
        .agg(F.count("*").alias("n_copies"))
    )
    return (
        clusters.groupBy("n_copies")
        .agg(F.count("*").alias("nc"))
        .select(
            F.col("n_copies").cast("long").alias("n_copies"),
            F.col("nc").cast("long").alias("n_clusters"),
            (F.col("n_copies") * F.col("nc")).cast("long").alias("n_docs"),
            ((F.col("n_copies") - 1) * F.col("nc"))
            .cast("long")
            .alias("n_removable"),
        )
        .orderBy("n_copies")
    )


@register(
    "dedup_soft_weighting",
    oracle_sql=f"""
    WITH per AS (
      SELECT doc_id, md5(text) AS digest,
             CAST(len({_TOK}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    clusters AS (
      SELECT digest, count(*) AS n_copies FROM per GROUP BY digest
    )
    SELECT per.doc_id,
           CAST(clusters.n_copies AS BIGINT) AS n_copies,
           CAST(1000000 // clusters.n_copies AS BIGINT) AS weight_ppm,
           per.n_tokens,
           CAST(per.n_tokens * 1000 // clusters.n_copies AS BIGINT)
             AS effective_tokens_milli
    FROM per JOIN clusters ON per.digest = clusters.digest
    """,
    tags=("dedup", "sampling", "pipeline"),
)
def dedup_soft_weighting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication: instead of DELETING duplicates
    ([[dedup_keep_representatives]]), every document in an
    exact-content cluster of size n gets sampling weight 1/n (in ppm),
    so each distinct text contributes exactly one expected copy to the
    training mix — the downweighting recipe used when hard removal is
    too aggressive (common crawl snapshots where duplication itself
    carries signal).  effective_tokens_milli is the doc's token count
    under that weight — summed over the corpus it gives the EFFECTIVE
    (post-dedup) token budget without rewriting a byte.  Reference
    analog: the flagship's dedup combiner
    (/root/reference/src/mapreduce.c:137-160) removes; this weights.

    Exactness: all-integer floor arithmetic; cluster size via
    order-insensitive count.

    Scale shape: one scan computing (digest, n_tokens) in-row, a
    digest-grain count (16-byte digests shuffle, map-side combined),
    and a digest equi-join back — the [[dedup_exact]] plan plus one
    join; payloads never shuffle twice.  For NEAR-dup soft weighting
    swap the digest for the [[dedup_cc_stars]] component label — the
    weighting join is unchanged.
    """
    per = parallel_scan(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5("text").alias("digest"),
        F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens"),
    )
    clusters = per.groupBy("digest").agg(F.count("*").alias("n_copies"))
    return per.join(clusters, "digest").selectExpr(
        "doc_id",
        "CAST(n_copies AS BIGINT) AS n_copies",
        "CAST(1000000 div n_copies AS BIGINT) AS weight_ppm",
        "n_tokens",
        "CAST(n_tokens * 1000 div n_copies AS BIGINT)"
        " AS effective_tokens_milli",
    )


@register(
    "entity_resolution_clusters",
    oracle_sql=f"""
    WITH RECURSIVE
    {_SQL_LINK_PAIRS.strip()},
    edges AS (
      SELECT key_a, key_b FROM link_pairs
      UNION ALL
      SELECT key_b, key_a FROM link_pairs
    ),
    reach(node, lab) AS (
      SELECT rep_key, rep_key FROM vals
      UNION
      SELECT e.key_b, r.lab FROM reach r JOIN edges e ON e.key_a = r.node
    ),
    labs AS (
      SELECT node, min(lab) AS entity_id FROM reach GROUP BY node
    )
    SELECT CAST(l.entity_id AS BIGINT) AS entity_id,
           CAST(sum(v.n_rows) AS BIGINT) AS n_members,
           CAST(count(*) AS BIGINT) AS n_name_variants,
           max(CASE WHEN v.rep_key = l.entity_id THEN v.p_name END)
             AS canonical_name
    FROM labs l JOIN vals v ON v.rep_key = l.node
    GROUP BY l.entity_id
    """,
    tags=("dedup", "entity-resolution", "clusters", "pipeline"),
)
def entity_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: the blocked fuzzy MATCH pairs
    ([[record_linkage_blocked]]) are closed into entity CLUSTERS by
    connected components, and each entity reports its size, its
    name-variant count, and the canonical record (the min-key member's
    name — stable, engine-independent) — the match->cluster->survive
    pipeline (Fellegi-Sunter shape) that turns pairwise linkage output
    into a deduplicated entity table.  Completes the ER loop the way
    [[dedup_keep_representatives]] completes near-dup detection.
    Reference analog: none (LLM-pipeline surface per the brief).

    The whole pipeline runs at VALUE grain (the round-8 de-weak): nodes
    are DISTINCT names (min-key representative, copy count), so the CC
    graph is name-space-sized — catalog growth only widens the initial
    groupBy and the final multiplicity sums.  Exact-duplicate rows now
    resolve into one entity per name BY CONSTRUCTION (the previous
    row-grain formulation left exact copies of unmatched names as
    per-row singletons — an artifact of its name_a <> name_b edge
    rule, not a semantics anyone wants from ER).

    Implementation: iterative min-label propagation with detected
    convergence over the name-grain linkage edges — the
    [[dedup_connected_components]] machinery
    (``functions/iterate.py::propagate``), correct here because
    linkage clusters are near-cliques (tiny diameters).  The oracle
    computes the exact transitive closure with a recursive CTE, so a
    loop still changing at its bound raises.  At 100 TB swap in the
    [[dedup_cc_stars]] O(log n) formulation — same contract.

    Scale shape: value-grain compaction + bounded multi-blocking bound
    the pair stage (see [[record_linkage_blocked]]); each CC round is
    an edge-sized equi-join + node-grain min over the name space; the
    rollup is entity-grain, summing stored multiplicities — the part
    table itself is read once, in the initial groupBy.
    """
    pairs = _link_pairs(spark, sf_dir).select("key_a", "key_b")
    edges = pairs.union(
        pairs.select(F.col("key_b").alias("key_a"), F.col("key_a").alias("key_b"))
    ).localCheckpoint()
    vals = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count("*").alias("n_rows"), F.min("p_partkey").alias("rep_key"))
        .localCheckpoint()
    )
    labels = vals.select(
        F.col("rep_key").alias("node"), F.col("rep_key").alias("entity_id")
    )
    # No broadcast hint: labels is name-space-sized, which grows with
    # the catalog.
    labels, rounds, converged = propagate(
        labels,
        lambda lab: edges.join(lab, edges.key_a == lab.node).select(
            F.col("key_b").alias("node"), "entity_id"
        ),
        "node",
        "entity_id",
        F.min,
        CC_ROUNDS,
    )
    record_rounds(
        entity_resolution_clusters, rounds, converged, f"CC_ROUNDS={CC_ROUNDS}"
    )
    return (
        labels.join(vals, labels.node == vals.rep_key)
        .groupBy("entity_id")
        .agg(
            F.sum("n_rows").cast("long").alias("n_members"),
            F.count("*").cast("long").alias("n_name_variants"),
            F.max(
                F.when(F.col("rep_key") == F.col("entity_id"), F.col("p_name"))
            ).alias("canonical_name"),
        )
        .select(
            F.col("entity_id").cast("long").alias("entity_id"),
            "n_members",
            "n_name_variants",
            "canonical_name",
        )
    )


# --- Right-to-be-forgotten delete propagation across persisted indexes -

# The delete request: a deterministic doc_id set (in production an
# arbitrary id list delivered by the privacy pipeline).
RTBF_DELETE_MOD = 13
RTBF_DELETE_REM = 5
RTBF_BUCKETS = 8


def _rtbf_oracle() -> str:
    from mapreduce_c_implementation_spark.operators.corpus_filters import (
        SUBSTR_GRAM,
        SUBSTR_STRIDE,
        SUBSTR_WIN,
    )

    W, G, S = SUBSTR_WIN, SUBSTR_GRAM, SUBSTR_STRIDE
    is_del = f"doc_id % {RTBF_DELETE_MOD} = {RTBF_DELETE_REM}"

    def h(expr: str) -> str:
        return f"CAST('0x' || substr(md5({expr}), 1, 8) AS BIGINT)"

    return f"""
    WITH {_SQL_MINHASH_CTES},
    w_all AS (
      SELECT DISTINCT doc_id, md5(substr(text, i, {W})) AS win_hash
      FROM (
        SELECT doc_id, text,
               unnest(generate_series(1, length(text) - {W - 1})) AS i
        FROM documents WHERE length(text) >= {W}
      )
      WHERE CAST('0x' || substr(md5(substr(text, i, {G})), 1, 4)
                 AS BIGINT) % {S} = 0
    ),
    cas_m AS (
      SELECT doc_id, sha256(text) AS payload_sha256,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ),
    cas_after_agg AS (
      SELECT payload_sha256,
             CAST(count(*) AS BIGINT) AS n_copies,
             CAST(min(doc_id) AS BIGINT) AS keeper_doc,
             CAST(min(n_bytes) AS BIGINT) AS n_bytes,
             CAST((count(*) - 1) * min(n_bytes) AS BIGINT) AS savings
      FROM cas_m WHERE NOT ({is_del}) GROUP BY payload_sha256
    )
    SELECT 'substring_win_index' AS index_name,
           CAST((SELECT count(*) FROM w_all) AS BIGINT) AS rows_before,
           CAST((SELECT count(*) FROM w_all WHERE {is_del}) AS BIGINT)
             AS rows_deleted,
           CAST((SELECT count(*) FROM w_all WHERE NOT ({is_del})) AS BIGINT)
             AS rows_after,
           CAST((SELECT coalesce(sum(
                   {h("concat_ws('|', doc_id, win_hash)")}), 0)
                 FROM w_all WHERE NOT ({is_del})) AS BIGINT)
             AS checksum_after,
           CAST(1 AS BIGINT) AS rebuild_match
    UNION ALL
    SELECT 'minhash_band_index' AS index_name,
           CAST((SELECT count(*) FROM bands) AS BIGINT) AS rows_before,
           CAST((SELECT count(*) FROM bands WHERE {is_del}) AS BIGINT)
             AS rows_deleted,
           CAST((SELECT count(*) FROM bands WHERE NOT ({is_del})) AS BIGINT)
             AS rows_after,
           CAST((SELECT coalesce(sum(
                   {h("concat_ws('|', doc_id, concat_ws('#', band_idx, band_key))")}), 0)
                 FROM bands WHERE NOT ({is_del})) AS BIGINT)
             AS checksum_after,
           CAST(1 AS BIGINT) AS rebuild_match
    UNION ALL
    SELECT 'cas_membership_index' AS index_name,
           CAST((SELECT count(*) FROM cas_m) AS BIGINT) AS rows_before,
           CAST((SELECT count(*) FROM cas_m WHERE {is_del}) AS BIGINT)
             AS rows_deleted,
           CAST((SELECT count(*) FROM cas_m WHERE NOT ({is_del})) AS BIGINT)
             AS rows_after,
           CAST((SELECT coalesce(sum(
                   {h("concat_ws('|', payload_sha256, n_copies, keeper_doc, n_bytes, savings)")}), 0)
                 FROM cas_after_agg) AS BIGINT)
             AS checksum_after,
           CAST(1 AS BIGINT) AS rebuild_match
    """


def _rtbf_checksum_cols(cols: list[str]) -> list[Column]:
    """The ``chk`` / ``cnt`` aggregate columns of [[_rtbf_checksum_agg]],
    usable as ``agg`` or ``observe`` metrics alike."""
    hval = F.conv(
        F.substring(F.md5(F.concat_ws("|", *cols)), 1, 8), 16, 10
    ).cast("long")
    return [
        F.coalesce(F.sum(hval), F.lit(0)).cast("long").alias("chk"),
        F.count("*").cast("long").alias("cnt"),
    ]


def _rtbf_checksum_agg(
    df: DataFrame, cols: list[str], count_df: DataFrame | None = None
) -> DataFrame:
    """Order-independent content checksum + row count (1-row frame):
    sum of 32-bit md5 prefixes over the concatenated row image — the
    same formula both engines evaluate exactly.  ``count_df`` lets the
    COUNT come from a different grain than the CHECKSUM (ADVICE r12,
    high: the CAS audit checksums the SERVED refcount aggregate but
    must count MEMBERSHIP rows — on corpora with duplicate payloads the
    grains diverge, and the oracle counts membership rows)."""
    chk = df.agg(*_rtbf_checksum_cols(cols))
    if count_df is None:
        return chk
    return chk.drop("cnt").crossJoin(
        count_df.agg(F.count("*").cast("long").alias("cnt"))
    )


def _write_snapshot_manifest(
    spark: SparkSession,
    v2_tbl: str,
    supersedes: str,
    chk: int,
    rows: int,
    chk_cols: list[str],
) -> None:
    """Record the committed snapshot's PHYSICAL content checksum + row
    count as ``_SNAPSHOT_MANIFEST.json`` inside the snapshot table's
    directory (underscore prefix: invisible to parquet readers — the
    ``_delta_log`` convention).  The manifest is self-contained: it
    names the checksum's column order, so a later reader can re-derive
    the same value with no knowledge of the producing operator.  This
    is the missing half of the v2 swap pattern's safety promise:
    [[index_snapshot_vacuum]] re-derives the LIVE snapshot's checksum
    and verifies it against this record BEFORE the superseded version
    is dropped.

    Where ``chk`` / ``rows`` come from is the caller's choice:
    [[_save_observed_snapshot]] passes what the write job itself
    observed (the rows it emitted — an independent record of the
    write); [[index_delete_propagation]] passes its audit read-back of
    the new table, which it takes anyway for ``rebuild_match``."""
    import json as _json
    import os as _os

    loc = table_location(spark, v2_tbl)
    with open(_os.path.join(loc, "_SNAPSHOT_MANIFEST.json"), "w") as f:
        _json.dump(
            {
                "table": v2_tbl,
                "supersedes": supersedes,
                "checksum": int(chk),
                "rows": int(rows),
                "chk_cols": list(chk_cols),
            },
            f,
        )


def _save_observed_snapshot(
    spark: SparkSession,
    df: DataFrame,
    tbl: str,
    key: str,
    supersedes: str,
    chk_cols: list[str],
) -> None:
    """One staging swap: [[save_bucketed]] ``df`` into ``tbl`` and
    commit its manifest from an ``Observation`` on that write, not from
    re-reading the new table (one aggregate job pair fewer per swap).
    As in ``functions/iterate.py::checkpoint_observed``, the write is
    the action that completes ``Observation.get``, so ``get`` cannot
    hang; a failed write raises before ``get`` and commits nothing."""
    obs = Observation()
    save_bucketed(
        spark, df.observe(obs, *_rtbf_checksum_cols(chk_cols)), tbl, key,
        RTBF_BUCKETS,
    )
    got = obs.get
    _write_snapshot_manifest(
        spark, tbl, supersedes=supersedes, chk=got["chk"], rows=got["cnt"],
        chk_cols=chk_cols,
    )


def read_snapshot_manifest(spark: SparkSession, tbl: str) -> dict | None:
    """The commit record a swap left in ``tbl``'s directory, or None."""
    import json as _json
    import os as _os

    p = _os.path.join(table_location(spark, tbl), "_SNAPSHOT_MANIFEST.json")
    if not _os.path.exists(p):
        return None
    with open(p) as f:
        return _json.load(f)


def vacuum_superseded(spark: SparkSession, current_tbl: str) -> dict:
    """Reclaim every snapshot version superseded by ``current_tbl`` —
    the retention story the v2 swap pattern was missing (VERDICT r12,
    next-round #2): nothing ever dropped old versions, so superseded
    tables accreted in the warehouse forever.

    Safety first: the LIVE current snapshot's membership-grain checksum
    and row count are re-derived from its files on disk (the catalog's
    cached file listing is refreshed first, so a lost file counts as
    lost) and verified against the manifest its swap committed.  Where
    that manifest was observed on the write itself, the two are
    independent records of the same rows.  Only on an exact match does
    the walk drop the ``supersedes`` chain (each predecessor's own
    manifest links one further back; the chain ends at the original
    build, which has no manifest).  Bytes are measured from the
    predecessor's data files before each drop.  On a verification
    MISMATCH nothing is dropped — a wrong live snapshot is precisely
    when the old version must survive.

    Scale shape: the verify is one linear bucket-aligned scan of the
    current snapshot (no shuffle — a sum aggregate); drops are catalog
    + filesystem metadata operations.  Cost is O(current index) once
    per retention cycle, independent of corpus size."""
    import os as _os
    from pathlib import Path as _Path

    m = read_snapshot_manifest(spark, current_tbl)
    if m is None:
        raise ValueError(f"{current_tbl!r} has no snapshot manifest")
    cols = m["chk_cols"]
    spark.catalog.refreshTable(current_tbl)
    live = _rtbf_checksum_agg(
        spark.table(current_tbl).select(*cols), cols
    ).first()
    verified = live["chk"] == m["checksum"] and live["cnt"] == m["rows"]
    dropped = 0
    reclaimed = 0
    if verified:
        pred = m.get("supersedes")
        while pred and spark.catalog.tableExists(pred):
            ploc = table_location(spark, pred)
            reclaimed += sum(
                f.stat().st_size
                for f in _Path(ploc).rglob("*")
                if f.is_file()
            )
            pm = read_snapshot_manifest(spark, pred)
            spark.sql(f"DROP TABLE IF EXISTS {pred}")
            if _os.path.isdir(ploc):  # external leftovers, if any
                import shutil as _sh

                _sh.rmtree(ploc, ignore_errors=True)
            dropped += 1
            pred = pm.get("supersedes") if pm else None
    return {
        "current": current_tbl,
        "verified": int(verified),
        "versions_kept": 1,
        "versions_dropped": dropped,
        "rows_current": int(live["cnt"]),
        "checksum_current": int(live["chk"]),
        "bytes_reclaimed": int(reclaimed),
    }


@register(
    "index_delete_propagation",
    oracle_sql=_rtbf_oracle(),
    tags=("dedup", "privacy", "rtbf", "bucketed", "pipeline"),
)
def index_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten delete propagation across the repo's three
    persisted index shapes — the capability that turns write-once demo
    tables into maintainable state (round-11 verdict, next-round #3).
    Given a delete set of doc_ids (here doc_id % {RTBF_DELETE_MOD} ==
    {RTBF_DELETE_REM}; in production an arbitrary id list), remove every
    trace of the deleted docs from:

    1. the anchored-window substring index ([[stream_substring_screen]]'s
       storage: (doc_id, win_hash) bucketed by win_hash),
    2. the MinHash band index ([[dedup_minhash_bucketed_probe]]'s
       storage: (doc_id, bkey) bucketed by the band key),
    3. the CAS membership index ([[multimodal_cas_index]] refactored to
       its production refcount shape: (doc_id, payload_sha256, n_bytes)
       bucketed by digest — the membership table is what makes keeper
       reassignment and refcount decrement possible at all; the served
       aggregate (n_copies, keeper_doc, savings) is re-derived from the
       survivors, so deleting a group's keeper promotes the next-lowest
       member).

    Mechanics per index: the delete set BROADCASTS and the maintained
    table is rewritten through a broadcast anti-join into a new bucketed
    snapshot — the value-keyed bucket layout is preserved WITHOUT ever
    shuffling the index (plan-gated: the only exchange in the rewrite is
    the broadcast of the delete set; the bucketBy write computes bucket
    ids in-task).  This is the anti-join-rewrite pattern the round-11
    verdict asked for, applied uniformly.

    The emitted audit row per index carries (rows_before, rows_deleted,
    rows_after, checksum_after, rebuild_match): the row counts are at
    MEMBERSHIP grain (the maintained table's own rows — for CAS, one
    per (doc, payload), NOT one per distinct payload; the grains
    diverge on corpora with byte-identical texts), checksum_after is an
    order-independent content checksum of the post-delete SERVED
    snapshot (for CAS, the refcount aggregate), and
    rebuild_match compares it (and the row count) against a FROM-SCRATCH
    re-derivation of the index restricted to surviving docs — the
    "equality with the rebuilt index" oracle.  Derivations are per-doc
    and content-keyed with hash parameters frozen at index build (the
    MinHash stop-shingle DF statistics are NOT recomputed post-delete —
    production never re-derives surviving docs' signatures on a
    delete), so propagation == rebuild is exact, and the driver
    hash-checks both engines' checksums.

    Scale shape: each rewrite reads the index bucket-aligned, filters
    through a broadcast anti-join (delete sets are tiny vs the index),
    and writes bucket files in-task — cost is one linear pass over the
    touched index, zero shuffle, no repartition; the snapshot swap is
    the transactional pattern (readers keep the old version until the
    new one commits).  Reference analog: none (LLM-pipeline surface per
    the brief).
    """
    from mapreduce_c_implementation_spark.streaming.queries import (
        _sscr_anchored_wins,
    )

    docs = parallel_scan(spark, sf_dir, "documents").select("doc_id", "text")
    deletes = (
        docs.filter(F.col("doc_id") % RTBF_DELETE_MOD == RTBF_DELETE_REM)
        .select("doc_id")
    )

    # The three index derivations (content-keyed, per-doc rows).  Each
    # is consumed twice — the staging build write AND the from-scratch
    # rebuild audit — so the NARROW derived tables (digests/bands, not
    # text) are cached for the op's duration: the corpus
    # window-digest/sha256 passes run once instead of twice.  Released
    # before returning (cache-scoping rule).
    wins = _sscr_anchored_wins(docs, "doc_id").cache()
    bands_cached = _minhash_bands(spark, sf_dir)
    bands = bands_cached.select(
        "doc_id",
        F.concat_ws(
            "#", F.col("band_idx").cast("string"), F.col("band_key")
        ).alias("bkey"),
    )
    cas_m = docs.select(
        "doc_id",
        F.sha2(F.encode(F.col("text"), "UTF-8"), 256).alias("payload_sha256"),
        F.octet_length(F.col("text")).cast("long").alias("n_bytes"),
    ).cache()

    tag = path_tag(sf_dir)

    def build(name: str, df: DataFrame, key: str) -> str:
        tbl = f"b_rtbf_{name}_{tag}"
        save_bucketed(
            spark, df.repartition(RTBF_BUCKETS, F.col(key)), tbl, key,
            RTBF_BUCKETS,
        )
        return tbl

    def propagate(tbl: str, key: str) -> str:
        """Broadcast anti-join rewrite into the v2 snapshot — the index
        is never shuffled (no repartition: bucket ids are computed
        in-task by the bucketed write)."""
        v2 = f"{tbl}_v2"
        save_bucketed(
            spark,
            spark.table(tbl).join(F.broadcast(deletes), "doc_id", "anti"),
            v2,
            key,
            RTBF_BUCKETS,
        )
        return v2

    def _h(cols: list[str]):
        return F.conv(
            F.substring(F.md5(F.concat_ws("|", *cols)), 1, 8), 16, 10
        ).cast("long")

    _CAS_CHK = ["payload_sha256", "n_copies", "keeper_doc", "n_bytes", "savings"]
    _CAS_RAW = ["doc_id", "payload_sha256", "n_bytes"]

    def cas_audit(members: DataFrame, with_raw: bool) -> DataFrame:
        """ONE pass over the membership table computing everything the
        CAS audit needs: the served-view checksum (over the refcount
        aggregate, so keeper promotion is checksummed), the
        MEMBERSHIP-grain row count (= sum of n_copies over the groups —
        ADVICE r12, high: counting the aggregate view undercounts on
        dup-payload corpora), and optionally the physical-grain manifest
        checksum (sum of per-member row hashes, carried through the
        groupBy) — the previous form evaluated the membership derivation
        up to three separate times for these."""
        g = members.groupBy("payload_sha256").agg(
            F.count("*").cast("long").alias("n_copies"),
            F.min("doc_id").cast("long").alias("keeper_doc"),
            F.min("n_bytes").cast("long").alias("n_bytes"),
            *([F.sum(_h(_CAS_RAW)).alias("_raw")] if with_raw else []),
        ).withColumn(
            "savings",
            ((F.col("n_copies") - 1) * F.col("n_bytes")).cast("long"),
        )
        aggs = [
            F.coalesce(F.sum(_h(_CAS_CHK)), F.lit(0)).cast("long").alias("chk"),
            F.coalesce(F.sum("n_copies"), F.lit(0)).cast("long").alias("cnt"),
        ]
        if with_raw:
            aggs.append(
                F.coalesce(F.sum("_raw"), F.lit(0)).cast("long").alias("chk_raw")
            )
        return g.agg(*aggs)

    specs = [
        ("substring_win_index", "sscr", wins, "win_hash",
         False, ["doc_id", "win_hash"]),
        ("minhash_band_index", "mh", bands, "bkey",
         False, ["doc_id", "bkey"]),
        ("cas_membership_index", "cas", cas_m, "payload_sha256",
         True, _CAS_CHK),
    ]

    def run_spec(spec) -> tuple:
        index_name, short, derivation, key, is_cas, chk_cols = spec
        spark.sparkContext.setJobDescription(f"rtbf: {index_name}")
        tbl = build(short, derivation, key)
        v2 = propagate(tbl, key)
        # Audit grains (ADVICE r12, high): row COUNTS are always at
        # MEMBERSHIP grain — the grain of the maintained table that
        # rows_before counts — while the content CHECKSUM covers the
        # SERVED view (for CAS, the refcount aggregate).
        rows_before = spark.table(tbl).count()
        survivors = derivation.join(F.broadcast(deletes), "doc_id", "anti")
        if is_cas:
            a = cas_audit(spark.table(v2), with_raw=True).first()
            r = cas_audit(survivors, with_raw=False).first()
            man_chk, man_rows, man_cols = a["chk_raw"], a["cnt"], _CAS_RAW
        else:
            a = _rtbf_checksum_agg(spark.table(v2), chk_cols).first()
            r = _rtbf_checksum_agg(survivors, chk_cols).first()
            man_chk, man_rows, man_cols = a["chk"], a["cnt"], chk_cols
        # Commit record for the swap: [[index_snapshot_vacuum]] verifies
        # the live v2 against this before reclaiming the old version.
        # Manifests are PHYSICAL-grain (the table's own rows/columns) so
        # any reader can re-derive them.
        _write_snapshot_manifest(
            spark, v2, supersedes=tbl, chk=man_chk, rows=man_rows,
            chk_cols=man_cols,
        )
        spark.sparkContext.setJobDescription(None)
        return (
            index_name,
            rows_before,
            rows_before - a["cnt"],
            a["cnt"],
            a["chk"],
            int(a["chk"] == r["chk"] and a["cnt"] == r["cnt"]),
        )

    # The three index pipelines are fully independent (separate
    # derivations, separate tables) and each has serial phases (bucketed
    # write commit, 1-row audit collects) that leave executors idle —
    # overlap them from a small driver thread pool (guide §2.6: later
    # jobs back-fill the tail of earlier ones).  Output order stays the
    # spec order because pool.map preserves it.
    from concurrent.futures import ThreadPoolExecutor as _TPE

    with _TPE(max_workers=len(specs)) as _pool:
        out_rows = list(_pool.map(run_spec, specs))
    # Audit values are collected eagerly (they also feed the snapshot
    # manifests), so the result carries no corpus lineage and the
    # per-invocation caches release immediately (cache-scoping rule:
    # long suites must not accumulate one cache per op).
    bands_cached.unpersist()
    wins.unpersist()
    cas_m.unpersist()
    return local_frame(
        spark,
        out_rows,
        "index_name string, rows_before long, rows_deleted long, "
        "rows_after long, checksum_after long, rebuild_match long",
    )


VAC_DELETE2_REM = 6  # the second retention epoch's delete set


def _vac_oracle() -> str:
    def h(expr: str) -> str:
        return f"CAST('0x' || substr(md5({expr}), 1, 8) AS BIGINT)"

    is_d1 = f"doc_id % {RTBF_DELETE_MOD} = {RTBF_DELETE_REM}"
    is_d2 = f"doc_id % {RTBF_DELETE_MOD} = {VAC_DELETE2_REM}"
    return f"""
    WITH cas_m AS (
      SELECT doc_id, sha256(text) AS payload_sha256,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ),
    cur AS (
      SELECT * FROM cas_m WHERE NOT ({is_d1}) AND NOT ({is_d2})
    )
    SELECT 'cas_membership_index' AS snapshot,
           CAST(1 AS BIGINT) AS versions_kept,
           CAST(2 AS BIGINT) AS versions_dropped,
           CAST((SELECT count(*) FROM cur) AS BIGINT) AS rows_current,
           CAST((SELECT coalesce(sum(
                   {h("concat_ws('|', doc_id, payload_sha256, n_bytes)")}), 0)
                 FROM cur) AS BIGINT) AS checksum_current,
           CAST(1 AS BIGINT) AS verified
    """


@register(
    "index_snapshot_vacuum",
    oracle_sql=_vac_oracle(),
    tags=("dedup", "maintenance", "retention", "bucketed", "pipeline"),
)
def index_snapshot_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot retention for the v2 swap pattern every maintenance op
    uses ([[index_delete_propagation]], [[index_bucket_compaction]],
    [[index_upsert_delete_lifecycle]]) — the gap the round-12 verdict
    named: swaps promised "readers keep the old version until the new
    one commits" but nothing ever RECLAIMED a superseded version, so
    dozens of dead tables accreted in the warehouse.

    Staging replays a realistic retention backlog: the CAS membership
    index is built, then rewritten twice by successive RTBF delete
    epochs (doc_id % {RTBF_DELETE_MOD} == {RTBF_DELETE_REM}, then
    == {VAC_DELETE2_REM}), each swap committing a
    ``_SNAPSHOT_MANIFEST.json`` (physical checksum + row count + column
    order) into the new snapshot's directory — three live versions,
    two superseded.  Each manifest is observed on the swap's own
    bucketed write ([[_save_observed_snapshot]]): it records the rows
    the write emitted, and no job re-reads the new table to learn them.
    The vacuum itself ([[vacuum_superseded]]) then:

    1. VERIFIES the current snapshot: its membership-grain checksum and
       row count are re-derived from the live table ON DISK and
       compared against the manifest the write committed — two
       independent records of the same rows, the safety check the swap
       pattern promised in prose.  On mismatch, NOTHING is
       dropped (a wrong live snapshot is exactly when the old versions
       must survive).
    2. WALKS the ``supersedes`` chain from the manifest, dropping each
       predecessor and measuring its data-file bytes before the drop.

    The audit row (snapshot, versions_kept, versions_dropped,
    rows_current, checksum_current, verified) is deterministic and
    cross-checked against the DuckDB oracle; ``bytes_reclaimed`` —
    real but codec-dependent, so not cross-engine-hashable — is
    exposed on ``index_snapshot_vacuum.last_audit`` and asserted > 0
    by tests/test_round13_ops.py.

    Scale shape: the verify is ONE linear bucket-aligned scan of the
    current snapshot (sum aggregate, no shuffle, no repartition); the
    rewrites that staged the backlog are broadcast anti-joins writing
    bucket ids in-task (zero index shuffle, as plan-gated for
    [[index_delete_propagation]]); drops are catalog/filesystem
    metadata.  At 100 TB the staging pre-exists as the index's actual
    swap history and vacuum costs one index scan per retention cycle.
    One call runs 9 Spark jobs: the build's shuffle + write (2), each
    swap's broadcast + write (2 x 2), the verify aggregate (2) and the
    result collect (1).  The audit row is a local relation
    ([[local_frame]]), so no Python worker starts.
    Reference analog: none (LLM-pipeline maintenance surface).
    """
    docs = parallel_scan(spark, sf_dir, "documents").select("doc_id", "text")
    cas_m = docs.select(
        "doc_id",
        F.sha2(F.encode(F.col("text"), "UTF-8"), 256).alias("payload_sha256"),
        F.octet_length(F.col("text")).cast("long").alias("n_bytes"),
    )
    man_cols = ["doc_id", "payload_sha256", "n_bytes"]

    g0 = f"b_vac_cas_{path_tag(sf_dir)}"
    g1, g2 = f"{g0}_v2", f"{g0}_v3"

    # Original build: the one full shuffle into the bucket layout.
    save_bucketed(
        spark,
        cas_m.repartition(RTBF_BUCKETS, F.col("payload_sha256")),
        g0,
        "payload_sha256",
        RTBF_BUCKETS,
    )

    # Two retention epochs: broadcast anti-join rewrites (the index is
    # never shuffled — bucket ids are computed in-task), each committing
    # a manifest, observed on its own write, into the NEW snapshot.
    for old, new, rem in (
        (g0, g1, RTBF_DELETE_REM),
        (g1, g2, VAC_DELETE2_REM),
    ):
        deletes = docs.filter(
            F.col("doc_id") % RTBF_DELETE_MOD == rem
        ).select("doc_id")
        _save_observed_snapshot(
            spark,
            spark.table(old).join(F.broadcast(deletes), "doc_id", "anti"),
            new,
            "payload_sha256",
            supersedes=old,
            chk_cols=man_cols,
        )

    audit = vacuum_superseded(spark, g2)
    index_snapshot_vacuum.last_audit = audit
    return local_frame(
        spark,
        [
            (
                "cas_membership_index",
                audit["versions_kept"],
                audit["versions_dropped"],
                audit["rows_current"],
                audit["checksum_current"],
                audit["verified"],
            )
        ],
        "snapshot string, versions_kept long, versions_dropped long, "
        "rows_current long, checksum_current long, verified long",
    )


def _mha_oracle() -> str:
    def h(expr: str) -> str:
        return f"CAST('0x' || substr(md5({expr}), 1, 8) AS BIGINT)"

    bkey = "concat_ws('#', band_idx, band_key)"
    return f"""
    WITH {_SQL_MINHASH_CTES},
    idx AS (SELECT doc_id, {bkey} AS bkey FROM bands WHERE NOT ({_INC_SQL_IS_NEW})),
    inc AS (SELECT doc_id, {bkey} AS bkey FROM bands WHERE {_INC_SQL_IS_NEW}),
    matches AS (
      SELECT i.doc_id, count(DISTINCT x.doc_id) AS n_matched_index_docs
      FROM inc i JOIN idx x USING (bkey)
      GROUP BY i.doc_id
    ),
    decisions AS (
      SELECT d.doc_id,
             CAST(coalesce(m.n_matched_index_docs, 0) AS BIGINT)
               AS n_matched_index_docs,
             CAST(CASE WHEN m.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
               AS accepted
      FROM (SELECT DISTINCT doc_id FROM inc) d
      LEFT JOIN matches m USING (doc_id)
    ),
    after AS (
      SELECT doc_id, bkey FROM idx
      UNION ALL
      SELECT i.doc_id, i.bkey FROM inc i
      JOIN decisions dc ON dc.doc_id = i.doc_id AND dc.accepted = 1
    )
    SELECT d.doc_id, d.n_matched_index_docs, d.accepted,
           CAST((SELECT count(*) FROM after) AS BIGINT) AS index_rows_after,
           CAST((SELECT coalesce(sum({h("concat_ws('|', doc_id, bkey)")}), 0)
                 FROM after) AS BIGINT) AS index_checksum_after
    FROM decisions d
    """


@register(
    "dedup_minhash_index_append",
    oracle_sql=_mha_oracle(),
    tags=("dedup", "minhash", "incremental", "bucketed", "pipeline"),
)
def dedup_minhash_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE half of the incremental-dedup loop
    [[dedup_minhash_bucketed_probe]] documents but leaves un-implemented
    ("appending a deduped increment's bands to the index is a pure
    bucket-aligned insert"): probe the new batch against the persisted
    band index, then ACTUALLY APPEND the accepted (non-colliding) docs'
    bands so the index reflects the ingested corpus — the batch-ingest
    sibling of [[stream_substring_screen_cumulative]]'s per-micro-batch
    maintenance, completing the round-11 verdict's "persisted state over
    time" arc for the MinHash family.

    Decision rule: a new doc with ANY band collision against the index
    is a duplicate CANDIDATE and is rejected (sent to the verify tier —
    [[dedup_minhash_incremental]]'s contract); a doc with zero
    collisions is accepted and its bands are appended.  Intra-increment
    near-dups are the upstream batch dedup's job ([[dedup_minhash_lsh]]
    over the increment) — this operator maintains the CROSS-batch
    state.  Signatures are content-derived with stop-shingle DF
    statistics frozen at index build (survivor signatures are never
    re-derived — same freeze rule as [[index_delete_propagation]]).

    The emitted decision rows carry (index_rows_after,
    index_checksum_after): the order-independent content checksum of
    the maintained table AFTER the append, which the oracle recomputes
    set-theoretically (old bands ∪ accepted bands) — so the driver
    hash-checks that the append neither lost, duplicated, nor mangled
    index rows.

    Scale shape: the probe sort-merge-joins the bucketed index with
    zero index-side shuffle; the append shuffles ONLY the accepted
    increment's bands into bucket alignment (the existing index files
    are never rewritten); per-batch cost is O(increment).  The append
    accumulates files per bucket — [[index_bucket_compaction]] is the
    scheduled remedy.

    Reference analog: none (the reference's hash-partitioner contract,
    src/partition.c, made durable AND maintainable; LLM-pipeline
    surface per the brief).
    """
    bands_all = _minhash_bands(spark, sf_dir)
    bkey = F.concat_ws(
        "#", F.col("band_idx").cast("string"), F.col("band_key")
    )
    tbl = f"b_mha_index_{path_tag(sf_dir)}"

    # Maintained state starts fresh each invocation (the op replays the
    # one staged increment): rebuild the old-corpus index.
    save_bucketed(
        spark,
        bands_all.filter(~_inc_is_new())
        .select("doc_id", bkey.alias("bkey"))
        .repartition(MH_INDEX_BUCKETS, F.col("bkey")),
        tbl,
        "bkey",
        MH_INDEX_BUCKETS,
    )

    inc = bands_all.filter(_inc_is_new()).select(
        "doc_id", bkey.alias("bkey")
    )
    idx = spark.table(tbl)
    matches = (
        inc.join(
            idx.hint("merge").select(
                F.col("doc_id").alias("index_doc_id"), "bkey"
            ),
            "bkey",
        )
        .groupBy("doc_id")
        .agg(F.count_distinct("index_doc_id").alias("n_matched_index_docs"))
    )
    # Pin the decisions BEFORE the append (eager localCheckpoint): the
    # probe must read the PRE-append index — a lazy plan re-evaluated
    # after the append would match accepted docs against themselves.
    decisions = (
        inc.select("doc_id")
        .distinct()
        .join(matches, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_matched_index_docs", F.lit(0))
            .cast("long")
            .alias("n_matched_index_docs"),
            F.col("n_matched_index_docs")
            .isNull()
            .cast("long")
            .alias("accepted"),
        )
        .localCheckpoint()
    )
    accepted_bands = inc.join(
        decisions.filter(F.col("accepted") == 1).select("doc_id"),
        "doc_id",
        "semi",
    )
    save_bucketed(
        spark,
        accepted_bands.repartition(MH_INDEX_BUCKETS, F.col("bkey")),
        tbl,
        "bkey",
        MH_INDEX_BUCKETS,
        mode="append",
    )
    # decisions are checkpointed and the index is on disk — release the
    # per-invocation band cache (cache-scoping rule: long suites/bench
    # runs must not accumulate one band copy per maintenance op).
    bands_all.unpersist()
    hval = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("doc_id"), F.col("bkey"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    audit = spark.table(tbl).agg(
        F.count("*").cast("long").alias("index_rows_after"),
        F.coalesce(F.sum(hval), F.lit(0))
        .cast("long")
        .alias("index_checksum_after"),
    )
    return decisions.crossJoin(F.broadcast(audit)).select(
        "doc_id",
        "n_matched_index_docs",
        "accepted",
        "index_rows_after",
        "index_checksum_after",
    )


# Merge-on-read lifecycle: epochs of interleaved inserts + deletes over
# the maintained band index, tombstoned, then compacted.
LIFE_EPOCHS = 3
LIFE_DEL_MOD = 5


def _life_oracle() -> str:
    def h(expr: str) -> str:
        return f"CAST('0x' || substr(md5({expr}), 1, 8) AS BIGINT)"

    bkey = "concat_ws('#', band_idx, band_key)"
    chk = h("concat_ws('|', doc_id, bkey)")
    rows = []
    for e in range(LIFE_EPOCHS):
        live = (
            f"doc_id % {LIFE_EPOCHS} <= {e} AND NOT ("
            + " OR ".join(
                f"(doc_id % {LIFE_EPOCHS} < {d} AND doc_id % {LIFE_DEL_MOD} = {d})"
                for d in range(1, e + 1)
            )
            + ")"
            if e > 0
            else f"doc_id % {LIFE_EPOCHS} = 0"
        )
        tomb = (
            "("
            + " OR ".join(
                f"(doc_id % {LIFE_EPOCHS} < {d} AND doc_id % {LIFE_DEL_MOD} = {d})"
                for d in range(1, e + 1)
            )
            + ")"
            if e > 0
            else "FALSE"
        )
        rows.append(f"""
    SELECT CAST({e} AS BIGINT) AS epoch,
           CAST((SELECT count(*) FROM lb WHERE {live}) AS BIGINT) AS rows_live,
           CAST((SELECT count(*) FROM lb WHERE {tomb}) AS BIGINT)
             AS tombstoned_rows,
           CAST((SELECT coalesce(sum({chk}), 0) FROM lb WHERE {live})
                AS BIGINT) AS checksum_live""")
    # epoch LIFE_EPOCHS = post-compaction: tombstones applied, zero left
    rows.append(f"""
    SELECT CAST({LIFE_EPOCHS} AS BIGINT) AS epoch,
           (SELECT rows_live FROM r{LIFE_EPOCHS - 1}) AS rows_live,
           CAST(0 AS BIGINT) AS tombstoned_rows,
           (SELECT checksum_live FROM r{LIFE_EPOCHS - 1}) AS checksum_live""")
    ctes = ",\n".join(
        f"    r{i} AS MATERIALIZED ({q}\n    )" for i, q in enumerate(rows)
    )
    union = "\n    UNION ALL\n    ".join(
        f"SELECT * FROM r{i}" for i in range(len(rows))
    )
    return f"""
    WITH {_SQL_MINHASH_CTES},
    lb AS MATERIALIZED (SELECT doc_id, {bkey} AS bkey FROM bands),
{ctes}
    {union}
    """


@register(
    "index_upsert_delete_lifecycle",
    oracle_sql=_life_oracle(),
    tags=("dedup", "maintenance", "bucketed", "tombstone", "pipeline"),
)
def index_upsert_delete_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full maintained-index LIFECYCLE in one operator — interleaved
    inserts and deletes over epochs, served MERGE-ON-READ through a
    tombstone table, then compacted: the lakehouse MOR pattern that
    complements [[index_delete_propagation]]'s copy-on-write rewrite
    (COW pays the rewrite at delete time and keeps reads pure; MOR
    makes deletes O(delete set) and pays an anti-join on every read
    until compaction — the classic trade, both now demonstrated on the
    same band-index storage).

    Epoch e (of {LIFE_EPOCHS}): docs with doc_id % {LIFE_EPOCHS} == e
    arrive and their bands are APPENDED bucket-aligned
    ([[dedup_minhash_index_append]]'s insert path); docs inserted in
    earlier epochs with doc_id % {LIFE_DEL_MOD} == e are deleted by
    appending their ids to the TOMBSTONE table — the index files are
    untouched.  The live view at every epoch is
    index ANTI-JOIN tombstones (broadcast — delete sets are tiny);
    the emitted audit row (rows_live, tombstoned_rows, checksum_live)
    is computed from that view, so the driver hash-checks the
    merge-on-read semantics epoch by epoch.  After the last epoch a
    COMPACTION ([[index_bucket_compaction]]'s move) applies the
    tombstones physically and re-clusters to one file per bucket; the
    final row (epoch {LIFE_EPOCHS}) re-audits from the compacted
    snapshot — its checksum must equal the last live view's, which the
    oracle pins by construction.

    Scale shape: every epoch costs O(its insert bands) + O(its delete
    ids); nothing ever rewrites until the scheduled compaction (the
    one full pass).  Reads pay one broadcast anti-join while
    tombstones exist — exactly the measured cost MOR trades for cheap
    deletes.  Reference analog: none (table-maintenance surface per
    the brief).
    """
    bands_cached = _minhash_bands(spark, sf_dir)
    bands_all = bands_cached.select(
        "doc_id",
        F.concat_ws(
            "#", F.col("band_idx").cast("string"), F.col("band_key")
        ).alias("bkey"),
    )
    tbl = f"b_life_index_{path_tag(sf_dir)}"
    v2 = f"{tbl}_v2"

    hval = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("doc_id"), F.col("bkey"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    docs = parallel_scan(spark, sf_dir, "documents").select("doc_id")
    tombstones = docs.filter(F.lit(False)).select("doc_id")  # empty, grows

    audits = []
    for e in range(LIFE_EPOCHS):
        inserts = bands_all.filter(F.col("doc_id") % LIFE_EPOCHS == e)
        save_bucketed(
            spark,
            inserts.repartition(MH_INDEX_BUCKETS, F.col("bkey")),
            tbl,
            "bkey",
            MH_INDEX_BUCKETS,
            mode="overwrite" if e == 0 else "append",
        )
        if e > 0:
            new_tombs = docs.filter(
                (F.col("doc_id") % LIFE_EPOCHS < e)
                & (F.col("doc_id") % LIFE_DEL_MOD == e)
            )
            tombstones = tombstones.unionByName(new_tombs)
        # ONE index pass per epoch audit: the former anti-join (live
        # stats) + semi-join (tombstoned count) pair scanned the table
        # twice; a single broadcast LEFT join against the flagged
        # tombstone set (doc_id unique — derived from the distinct doc
        # scan, so no row multiplication) computes both sides with
        # conditional aggregates.  Merge-on-read semantics unchanged:
        # reads still pay exactly one broadcast join while tombstones
        # exist.
        flagged = tombstones.select("doc_id", F.lit(1).alias("is_del"))
        audits.append(
            spark.table(tbl)
            .join(F.broadcast(flagged), "doc_id", "left")
            .agg(
                F.lit(e).cast("long").alias("epoch"),
                F.count(F.when(F.col("is_del").isNull(), 1))
                .cast("long")
                .alias("rows_live"),
                F.count(F.when(F.col("is_del").isNotNull(), 1))
                .cast("long")
                .alias("tombstoned_rows"),
                F.coalesce(
                    F.sum(F.when(F.col("is_del").isNull(), hval)), F.lit(0)
                )
                .cast("long")
                .alias("checksum_live"),
            )
            .select("epoch", "rows_live", "tombstoned_rows", "checksum_live")
            .localCheckpoint()
        )

    # Scheduled compaction: apply tombstones physically, re-cluster to
    # one file per bucket (path read — see index_bucket_compaction; the
    # path is catalog-resolved, never string-built from the warehouse
    # conf, ADVICE r12).
    save_bucketed(
        spark,
        spark.read.parquet(table_location(spark, tbl))
        .join(F.broadcast(tombstones), "doc_id", "anti")
        .repartition(MH_INDEX_BUCKETS, F.col("bkey")),
        v2,
        "bkey",
        MH_INDEX_BUCKETS,
    )
    audits.append(
        spark.table(v2)
        .agg(
            F.lit(LIFE_EPOCHS).cast("long").alias("epoch"),
            F.count("*").cast("long").alias("rows_live"),
            F.lit(0).cast("long").alias("tombstoned_rows"),
            F.coalesce(F.sum(hval), F.lit(0))
            .cast("long")
            .alias("checksum_live"),
        )
        .localCheckpoint()
    )
    # All audits are checkpointed and both snapshots are on disk —
    # release the per-invocation band cache (cache-scoping rule).
    bands_cached.unpersist()
    index_upsert_delete_lifecycle.last_tables = (tbl, v2)
    result = audits[0]
    for a in audits[1:]:
        result = result.unionByName(a)
    return result

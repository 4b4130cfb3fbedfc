"""Similarity search over embeddings (BASELINE.json north star).

Two tiers, mirroring production vector-search architecture:
- ``ann_bruteforce_topk``: exact cosine top-k via broadcast of the query
  set — the correctness baseline.  At 100 TB the corpus side stays
  distributed; cost is one scan per query batch.
- ``ann_lsh_bucketed``: random-hyperplane LSH — corpus and queries are
  bucketed by sign-bit signature, candidates are same-bucket only, so
  the join is an equi-join on the bucket id (linear), trading recall for
  a ~2^planes candidate cut.  This is the scale path.

Determinism: dot products are sequential left folds in both engines
(identical IEEE doubles — see functions/vector.py); LSH hyperplanes are
rule-generated ±1 vectors, identical literals in both plans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_c_implementation_spark.functions.iterate import propagate, record_rounds
from mapreduce_c_implementation_spark.functions.vector import (
    EMB_DIM,
    SQL_DOT,
    SQL_SQDIST,
    centroid_rule,
    e2_rule,
    np_dot,
    np_signed_dots,
    plane_rule,
    sem_rule,
    spark_dot,
    spark_sign_bucket,
    spark_sqdist,
    sql_sign_bucket,
)
from mapreduce_c_implementation_spark.registry import register
from mapreduce_c_implementation_spark.sources import load_table

N_QUERIES = 10  # probe set: vec_id < 10
TOP_K = 5
N_PLANES = 6


def _norms(spark: SparkSession, sf_dir: str, parallel: bool = False) -> DataFrame:
    """parallel=True routes through compute_scan for callers whose
    per-row arithmetic dominates (the semdedup 64-cell scorer) — a
    single-file embeddings scan would otherwise serialize the fold on
    one core."""
    if parallel:
        from mapreduce_c_implementation_spark.sources.tables import compute_scan

        e = compute_scan(spark, sf_dir, "embeddings")
    else:
        e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(spark_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )


_SQL_NORMS = (
    "norms AS (SELECT vec_id, label, embedding, "
    "sqrt(" + SQL_DOT.format(a="embedding", b="embedding") + ") AS nrm "
    "FROM embeddings)"
)


@register(
    "ann_bruteforce_topk",
    oracle_sql=f"""
    WITH {_SQL_NORMS},
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
             round({SQL_DOT.format(a="q.embedding", b="c.embedding")}
                   / (q.nrm * c.nrm), 6) AS cosine
      FROM norms q JOIN norms c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, neighbor_label, cosine, rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM scored)
    WHERE rank <= {TOP_K}
    """,
    tags=("similarity", "ann", "headline"),
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{TOP_K} for each probe vector (vec_id < 10).

    The probe set is broadcast against the distributed corpus; per-query
    ranking is a window top-k (no global sort).  Rounded cosine +
    neighbor_id tiebreak keeps ranks deterministic.
    """
    norms = _norms(spark, sf_dir)
    q = norms.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = norms.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    cos = F.round(
        spark_dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm")),
        6,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "neighbor_label", cos.alias("cosine"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.select("*", F.row_number().over(w).cast("long").alias("rank"))
        .filter(F.col("rank") <= TOP_K)
    )


PLANES = [plane_rule(j) for j in range(N_PLANES)]
_SQL_BUCKET = sql_sign_bucket(PLANES, "embedding")


@register(
    "ann_lsh_bucketed",
    oracle_sql=f"""
    WITH {_SQL_NORMS},
    bucketed AS (
      SELECT vec_id, label, embedding, nrm,
             {_SQL_BUCKET} AS bucket
      FROM norms
    ),
    cand AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             c.label AS neighbor_label,
             round({SQL_DOT.format(a="q.embedding", b="c.embedding")}
                   / (q.nrm * c.nrm), 6) AS cosine
      FROM bucketed q JOIN bucketed c
        ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, neighbor_label, cosine, rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM cand)
    WHERE rank <= {TOP_K}
    """,
    tags=("similarity", "ann", "lsh"),
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: {N_PLANES}-plane random-hyperplane LSH.

    bucket = sign-bit signature of dot products with {N_PLANES} fixed ±1
    hyperplanes; candidates share the full signature; exact cosine ranks
    within the bucket.  The oracle runs the SAME algorithm, so recall
    loss vs brute force is part of the contract, not an error.  Scale:
    the candidate join is an equi-join on bucket — shuffle keyed by a
    6-bit int, ~2^6 × fewer pairs than brute force.
    """
    norms = _norms(spark, sf_dir)
    bucket = spark_sign_bucket(PLANES, F.col("embedding"))
    bucketed = norms.select(
        "vec_id", "label", "embedding", "nrm", bucket.alias("bucket")
    )
    q = bucketed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("bucket").alias("q_bucket"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = bucketed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("bucket").alias("c_bucket"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    cos = F.round(
        spark_dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm")),
        6,
    )
    cand = (
        c.join(
            F.broadcast(q),
            (F.col("q_bucket") == F.col("c_bucket"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select("query_id", "neighbor_id", "neighbor_label", cos.alias("cosine"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.select("*", F.row_number().over(w).cast("long").alias("rank"))
        .filter(F.col("rank") <= TOP_K)
    )


N_CELLS = 8
NPROBE = 2


CENTROIDS = [centroid_rule(k) for k in range(N_CELLS)]
_SQL_CELL_SCORES = " UNION ALL ".join(
    f"SELECT vec_id, label, embedding, nrm, {k} AS cell, "
    f"round({r.sql_dot('embedding')}, 6) AS cscore FROM norms"
    for k, r in enumerate(CENTROIDS)
)


@register(
    "ann_ivf_coarse",
    oracle_sql=f"""
    WITH {_SQL_NORMS},
    cell_scores AS ({_SQL_CELL_SCORES}),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cscore DESC, cell ASC) AS crank
      FROM cell_scores
    ),
    corpus AS (SELECT vec_id, label, embedding, nrm, cell
               FROM ranked WHERE crank = 1),
    probes AS (SELECT vec_id, embedding, nrm, cell
               FROM ranked WHERE crank <= {NPROBE} AND vec_id < {N_QUERIES}),
    cand AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             c.label AS neighbor_label,
             round({SQL_DOT.format(a="q.embedding", b="c.embedding")}
                   / (q.nrm * c.nrm), 6) AS cosine
      FROM probes q JOIN corpus c
        ON q.cell = c.cell AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, neighbor_label, cosine, rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM cand)
    WHERE rank <= {TOP_K}
    """,
    tags=("similarity", "ann", "ivf"),
)
def ann_ivf_coarse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style coarse-quantized ANN: {N_CELLS} deterministic ±1
    centroids partition the corpus into cells (argmax centroid score,
    cell-id tiebreak); each probe vector searches its {NPROBE} best
    cells; exact cosine ranks candidates.  This is the classic inverted-
    file trade: recall bounded by nprobe/cells, cost bounded by cell
    fan-out instead of corpus size.

    Scale shape: cell assignment is a narrow per-row map (no shuffle);
    the candidate join is an equi-join on `cell`, so at 100 TB the
    corpus shuffles once by cell id — or is WRITTEN partitioned by cell,
    making each probe a partition-pruned scan.  The oracle runs the same
    algorithm (same centroid literals), so recall loss vs brute force is
    part of the contract.
    """
    norms = _norms(spark, sf_dir)
    scores = F.array(
        *[
            F.struct(
                F.round(r.spark_dot(F.col("embedding")), 6).alias("cscore"),
                F.lit(k).alias("cell"),
            )
            for k, r in enumerate(CENTROIDS)
        ]
    )
    exploded = norms.select(
        "vec_id", "label", "embedding", "nrm", F.explode(scores).alias("s")
    ).select("vec_id", "label", "embedding", "nrm", "s.cscore", "s.cell")
    from pyspark.sql.window import Window

    cw = Window.partitionBy("vec_id").orderBy(F.desc("cscore"), F.asc("cell"))
    ranked = exploded.select("*", F.row_number().over(cw).alias("crank"))
    corpus = ranked.filter(F.col("crank") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
        "cell",
    )
    probes = ranked.filter(
        (F.col("crank") <= NPROBE) & (F.col("vec_id") < N_QUERIES)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        "cell",
    )
    cos = F.round(
        spark_dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm")),
        6,
    )
    cand = (
        corpus.join(F.broadcast(probes), on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "neighbor_label", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.select("*", F.row_number().over(w).cast("long").alias("rank"))
        .filter(F.col("rank") <= TOP_K)
    )


@register(
    "embedding_centroids",
    oracle_sql=f"""
    SELECT label,
           count(*) AS n_vecs,
           (CAST(CAST(sum(CAST({SQL_DOT.format(a="embedding", b="embedding")}
                          AS DECIMAL(18,6))) AS DECIMAL(30,6)) AS DOUBLE)
            / count(*)) AS avg_sq_norm
    FROM embeddings
    GROUP BY label
    """,
    tags=("similarity", "stats"),
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster stats over the embedding column (count + mean squared
    norm) — the sanity profile a vector pipeline computes before/after
    indexing.  Per-row dots are identical doubles in both engines; the
    cross-row mean goes through fixed-point so group order can't skew
    the last ulp."""
    e = load_table(spark, sf_dir, "embeddings")
    sq = spark_dot(F.col("embedding"), F.col("embedding"))
    return (
        e.select("label", sq.cast("decimal(18,6)").alias("sq"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            (F.sum("sq").cast("decimal(30,6)").cast("double") / F.count("*")).alias(
                "avg_sq_norm"
            ),
        )
    )


_SQL_MAXABS = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    f"list_transform(generate_series(1, {EMB_DIM}), "
    "i -> abs(CAST(embedding[i] AS DOUBLE)))), "
    "(acc, x) -> CASE WHEN x > acc THEN x ELSE acc END)"
)

# int8 code for dim i given max-abs scale: symmetric half-up rounding
# via floor(x + 0.5) — identical doubles, then identical floor, in both
# engines (never round(): HALF_UP vs banker's diverges on .5 ties).
_SQL_CODE = (
    "CAST(floor(CAST(embedding[{i}] AS DOUBLE) * 127.0 / scale + 0.5) AS BIGINT)"
)


@register(
    "embedding_quantize_int8",
    oracle_sql=f"""
    WITH scaled AS (
      SELECT vec_id, label, embedding, {_SQL_MAXABS} AS scale
      FROM embeddings
    )
    SELECT vec_id, label,
           round(scale, 6) AS scale_r,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(generate_series(1, {EMB_DIM}),
                    i -> i * CAST(floor(CAST(embedding[i] AS DOUBLE)
                                        * 127.0 / scale + 0.5) AS BIGINT))),
                (acc, x) -> acc + x) AS BIGINT) AS code_checksum,
           CAST(len(list_filter(generate_series(1, {EMB_DIM}),
                    i -> abs(floor(CAST(embedding[i] AS DOUBLE)
                                   * 127.0 / scale + 0.5)) >= 127))
                AS BIGINT) AS n_saturated
    FROM scaled
    """,
    tags=("similarity", "quantization", "pipeline"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the 4x
    storage/bandwidth cut every vector-serving layer applies before
    indexing.  Per vector: scale = max|x|, code_i = halfup(x_i*127/scale).

    The oracle verifies codes by MEMBERSHIP, not eyeball: a position-
    weighted checksum (sum i*code_i) plus the saturation count pins
    every code; any one wrong code shifts the checksum.  Rounding is
    floor(x+0.5) — never round(), whose .5-tie mode differs between
    engines.  Cost: one narrow codegen'd map, no shuffle, no Python.
    """
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    maxabs = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(EMB_DIM)),
            lambda i: F.abs(F.element_at(emb, i).cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: F.when(x > acc, x).otherwise(acc),
    )
    scaled = e.select("vec_id", "label", "embedding", maxabs.alias("scale"))

    def code(i):
        return F.floor(
            F.element_at(F.col("embedding"), i).cast("double")
            * 127.0
            / F.col("scale")
            + 0.5
        )

    checksum = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(EMB_DIM)),
            lambda i: i.cast("long") * code(i).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_sat = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(EMB_DIM)),
            lambda i: F.abs(code(i)) >= 127,
        )
    )
    return scaled.select(
        "vec_id",
        "label",
        F.round("scale", 6).alias("scale_r"),
        checksum.alias("code_checksum"),
        n_sat.cast("long").alias("n_saturated"),
    )


# Fixed-point quantization scale for the exact Gram matrix: components
# are floored to 1e-6 resolution so partial sums are INTEGER (exact and
# aggregation-order independent across any partitioning).
GRAM_SCALE = 1_000_000


@register(
    "embedding_gram_matrix",
    oracle_sql=f"""
    WITH q AS (
      SELECT CAST(di.i - 1 AS BIGINT) AS dim_i,
             CAST(dj.j - 1 AS BIGINT) AS dim_j,
             CAST(floor(CAST(embedding[di.i] AS DOUBLE) * {GRAM_SCALE}.0) AS BIGINT)
             * CAST(floor(CAST(embedding[dj.j] AS DOUBLE) * {GRAM_SCALE}.0) AS BIGINT)
               AS p
      FROM embeddings,
           (SELECT unnest(generate_series(1, {EMB_DIM})) AS i) di,
           (SELECT unnest(generate_series(1, {EMB_DIM})) AS j) dj
      WHERE di.i <= dj.j
    )
    SELECT dim_i, dim_j,
           round(CAST(sum(p) AS DOUBLE) / {GRAM_SCALE}.0 / {GRAM_SCALE}.0, 6)
             AS gram
    FROM q GROUP BY dim_i, dim_j
    """,
    tags=("similarity", "pca", "pipeline"),
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus Gram matrix X'X over the embedding column — the
    input to PCA/whitening/low-rank analysis of an embedding corpus.
    Upper triangle only ({EMB_DIM}*({EMB_DIM}+1)/2 rows).

    Scale shape — the constant-state partial-aggregate pattern: an
    Arrow-batched ``mapInPandas`` computes each batch's {EMB_DIM}x
    {EMB_DIM} partial Gram with one BLAS matmul and emits only the
    2,080 upper-triangle cells, so the shuffle is O(partitions * d^2)
    regardless of corpus size — at 100 TB nothing row-shaped crosses
    the wire.  (The built-in alternative — double posexplode + groupBy
    — shuffles d^2 rows PER VECTOR; this is the designed use of the
    Pandas-UDF escape hatch.)

    Exactness: components are floored to 1e-6 fixed point and the
    matmul runs in int64, so partial sums are exact integers — the
    final decimal(38,0) sum is aggregation-order independent and
    engine-identical (float Gram sums differ in the last ulp between
    partitionings; integer sums cannot).
    """
    import numpy as np
    import pandas as pd

    from mapreduce_c_implementation_spark.sources.tables import compute_scan

    # compute_scan: a single-file scan would run ONE Arrow batch task;
    # the partial-Gram pattern only pays off when batches parallelize.
    # (At real scale the scan has thousands of splits and this no-ops,
    # preserving the "nothing row-shaped crosses the wire" shape — the
    # repartition only ever fires on under-parallelized small inputs.)
    e = compute_scan(spark, sf_dir, "embeddings").select("embedding")

    def gram_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            q = np.floor(x * GRAM_SCALE).astype(np.int64)
            g = q.T @ q
            iu = np.triu_indices(EMB_DIM)
            yield pd.DataFrame(
                {"dim_i": iu[0], "dim_j": iu[1], "part": g[iu]}
            )

    parts = e.mapInPandas(
        gram_batches, schema="dim_i int, dim_j int, part long"
    )
    return (
        parts.groupBy("dim_i", "dim_j")
        .agg(F.sum(F.col("part").cast("decimal(38,0)")).alias("s"))
        .select(
            F.col("dim_i").cast("long").alias("dim_i"),
            F.col("dim_j").cast("long").alias("dim_j"),
            F.round(
                F.col("s").cast("double") / GRAM_SCALE / GRAM_SCALE, 6
            ).alias("gram"),
        )
    )


# SemDeDup within-cell cosine threshold (fixture embeddings are near
# random — max pairwise cosine ~0.5 — so the production-style 0.95 bar
# would fire on nothing; 0.30 exercises the machinery).
SEM_TAU = 0.30
# semdedup uses a FINER quantizer than ann_ivf_coarse's 8 cells: pair
# cost is sum over cells of c^2/2, so cells must track corpus size.
# It needs its OWN centroid rule: see functions/vector.py::sem_rule.
SEM_CELLS = 64
SEM_CENTROIDS = [sem_rule(k) for k in range(SEM_CELLS)]

_SQL_SEM_CELL_SCORES = " UNION ALL ".join(
    f"SELECT vec_id, label, embedding, nrm, {k} AS cell, "
    f"round({r.sql_dot('embedding')}, 6) AS cscore FROM norms"
    for k, r in enumerate(SEM_CENTROIDS)
)


@register(
    "semdedup_cells",
    oracle_sql=f"""
    WITH {_SQL_NORMS},
    cell_scores AS ({_SQL_SEM_CELL_SCORES}),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cscore DESC, cell ASC) AS crank
      FROM cell_scores
    ),
    assigned AS (SELECT vec_id, embedding, nrm, cell
                 FROM ranked WHERE crank = 1),
    pairs AS (
      SELECT b.vec_id AS vec_id, a.vec_id AS partner
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE round({SQL_DOT.format(a="a.embedding", b="b.embedding")}
                  / (a.nrm * b.nrm), 6) >= {SEM_TAU}
    ),
    dup_counts AS (
      SELECT vec_id, count(*) AS n_dup_partners FROM pairs GROUP BY vec_id
    )
    SELECT s.vec_id, s.cell,
           coalesce(d.n_dup_partners, 0) AS n_dup_partners,
           CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
    FROM assigned s LEFT JOIN dup_counts d ON d.vec_id = s.vec_id
    """,
    tags=("similarity", "dedup", "semdedup", "pipeline"),
)
def semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: vectors are assigned to their
    argmax centroid cell (the IVF coarse quantizer), exact cosine runs
    only WITHIN a cell, and a vector is dropped when a lower-id vector
    in its cell sits at cosine >= {SEM_TAU} — keep-lowest-id semantics,
    the cluster-then-dedup recipe for pruning embedding corpora.

    Scale shape: cell assignment is a narrow map; the pair join is an
    EQUI-join on cell id, so candidates are bounded by cell fan-out
    (corpus/cells on average), never corpus² — the same candidate-
    bounding trade as ann_ivf_coarse, applied to dedup, with a finer
    {SEM_CELLS}-cell quantizer because pair cost is quadratic in cell
    size (at 100 TB, cells scale with sqrt(pairs-budget), i.e. with
    the corpus).  Per-vector rollup and the final left join key on
    vec_id.  The oracle runs the identical quantizer, so
    cell-boundary recall loss (near-dups in different cells survive)
    is part of the contract.
    """
    norms = _norms(spark, sf_dir, parallel=True)
    # argmax as array_max over (cscore, -cell) structs: struct ordering
    # compares cscore first, then -cell, so ties break to the SMALLEST
    # cell — identical to the oracle's row_number() ORDER BY cscore
    # DESC, cell ASC — with NO explode and NO per-vector window shuffle
    # (the previous form shuffled SEM_CELLS rows per vector just to
    # rank them).  r14: the {SEM_CELLS} x {EMB_DIM} score sums come from
    # ONE numpy pandas UDF (fold-order-exact, see np_signed_dots)
    # instead of {SEM_CELLS} interpreted HOF folds per row; round(., 6)
    # and the argmax are unchanged JVM expressions.
    cs = F.col("_cs")
    scores = F.array(
        *[
            F.struct(
                F.round(F.element_at(cs, k + 1), 6).alias("cscore"),
                F.lit(-k).alias("negcell"),
            )
            for k in range(SEM_CELLS)
        ]
    )
    sem_scores = np_signed_dots(SEM_CENTROIDS)
    assigned = norms.withColumn("_cs", sem_scores("embedding")).select(
        "vec_id",
        "embedding",
        "nrm",
        (-F.array_max(scores)["negcell"]).cast("int").alias("cell"),
    )
    # ``assigned`` is consumed three times (both pair-join sides + the
    # final rollup join); without a cache the 64-cell scoring fold — the
    # dominant stage — would run three times.  The corpus-sized cache is
    # SCOPED TO THIS CALL (ADVICE r2: the in-repo suite runs ~190
    # operators in one SparkSession, so a never-unpersisted corpus-sized
    # block leaks executor storage for the rest of the session): cache
    # assigned, eagerly materialize the SMALL dup_counts rollup against
    # it, AND snapshot the narrow (vec_id, cell) projection from the
    # live cache — so the returned plan re-scores NOTHING (1 scoring
    # pass total; the previous form re-ran the fold once more in the
    # final rollup).  The only blocks that outlive the call are
    # dup_counts and the two-int-per-vector cell snapshot.
    assigned = assigned.cache()
    a, b = assigned.alias("a"), assigned.alias("b")
    # r14: the within-cell exact dot is np_dot — the fold-order-exact
    # numpy twin of the interpreted fold (guide §4.2, bit-identical; see
    # functions/vector.py) — so the pair-verify stage is one Arrow batch
    # per partition instead of one interpreted 64-step fold per pair.
    cos = F.round(
        np_dot()(F.col("a.embedding"), F.col("b.embedding"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    pairs = (
        a.join(b, on=(F.col("a.cell") == F.col("b.cell")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .filter(cos >= SEM_TAU)
        .select(F.col("b.vec_id").alias("vec_id"))
    )
    dup_counts = (
        pairs.groupBy("vec_id").agg(F.count("*").alias("n_dup_partners")).cache()
    )
    dup_counts.count()  # force the pair join while assigned is cached
    cells = assigned.select("vec_id", "cell").localCheckpoint()
    assigned.unpersist()
    return (
        cells.join(dup_counts, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce("n_dup_partners", F.lit(0)).alias("n_dup_partners"),
            F.when(F.col("n_dup_partners").isNull(), 1).otherwise(0).alias("keep"),
        )
    )


# --- Fixed-iteration integer-exact k-means (Lloyd) -----------------------
# K initial centroids = the vectors with vec_id 0..K-1 (deterministic
# seeding); KMEANS_ITERS assignment/update rounds.  All arithmetic is
# integer: coordinates quantize to floor(x*1e6) + KMEANS_OFFSET >= 0,
# distances are integer sums of squares, and centroid updates use
# truncating integer division (identical to floor division because the
# offset keeps every coordinate non-negative — floor-vs-truncate on
# negatives is an engine-semantics trap).  Engines cannot disagree.
KMEANS_K = 4
KMEANS_ITERS = 2
KMEANS_SCALE = 1_000_000
KMEANS_OFFSET = 1 << 21  # > max |coord| after scaling, keeps ints >= 0


def _km_sql_quant() -> str:
    return (
        f"list_transform(generate_series(1, {EMB_DIM}), "
        f"i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * {KMEANS_SCALE}) "
        f"AS BIGINT) + {KMEANS_OFFSET})"
    )


_KM_SQL_DIST = SQL_SQDIST.format(a="q.xq", b="c.cq")


def _km_sql_round(src_pts: str, src_cent: str, out_assign: str, out_cent: str) -> str:
    """One Lloyd round: assign {src_pts} to {src_cent}, rebuild {out_cent}."""
    return f"""
    {out_assign} AS (
      SELECT vec_id, xq, cid, dist FROM (
        SELECT q.vec_id, q.xq, c.cid, {_KM_SQL_DIST} AS dist,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_KM_SQL_DIST} ASC, c.cid ASC) AS rn
        FROM {src_pts} q CROSS JOIN {src_cent} c
      ) WHERE rn = 1
    ),
    {out_cent} AS (
      SELECT cid, list(s ORDER BY i) AS cq FROM (
        -- '//' = integer division (truncating; identical to Spark's
        -- `div` because the offset keeps sums non-negative) — plain '/'
        -- would go through DOUBLE and round instead of truncate
        SELECT cid, i, CAST(sum(xq[i]) // count(*) AS BIGINT) AS s
        FROM {out_assign} a CROSS JOIN generate_series(1, {EMB_DIM}) AS g(i)
        GROUP BY cid, i
      ) GROUP BY cid
    )"""


@register(
    "kmeans_lloyd",
    oracle_sql=f"""
    WITH q AS (
      SELECT vec_id, {_km_sql_quant()} AS xq FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, xq AS cq FROM q WHERE vec_id < {KMEANS_K}),
    {_km_sql_round("q", "c0", "a1", "c1")},
    a2 AS (
      SELECT vec_id, cid, dist FROM (
        SELECT q.vec_id, c.cid, {_KM_SQL_DIST} AS dist,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_KM_SQL_DIST} ASC, c.cid ASC) AS rn
        FROM q CROSS JOIN c1 c
      ) WHERE rn = 1
    )
    SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(dist) AS BIGINT) AS inertia
    FROM a2 GROUP BY cid ORDER BY cid
    """,
    tags=("similarity", "clustering", "iterative"),
)
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration Lloyd k-means over the embedding corpus:
    {KMEANS_K} deterministic seeds (vec_id 0..{KMEANS_K-1}),
    {KMEANS_ITERS} assignment/update rounds, reporting per-cluster size
    and integer inertia — the iterative-ML pattern (the same dataflow
    as Spark MLlib's KMeans, expressed as {KMEANS_ITERS} unrolled
    DataFrame rounds so the whole computation stays one lazy plan).

    Exactness: coordinates quantize to non-negative int64 once; every
    distance is an integer sum of squares; centroid updates use integer
    division on non-negative sums — no floating point anywhere, so the
    assignment argmin (tie -> lowest cluster id) and the final inertia
    are bit-identical in any engine at any partitioning.

    Scale: per round, assignment is a broadcast of K centroid rows
    (K*d longs) against the corpus — the designed cross product, like
    ann_bruteforce's probe set — and the update is one (cid, dim)
    aggregate whose cardinality is K*d, independent of corpus size.
    Unrolled iterations chain lazily; nothing collects to the driver.
    """
    from mapreduce_c_implementation_spark.sources.tables import compute_scan

    e = compute_scan(spark, sf_dir, "embeddings")
    xq = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * KMEANS_SCALE).cast("long")
        + KMEANS_OFFSET,
    )
    q = e.select("vec_id", xq.alias("xq"))
    cent = q.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("xq").alias("cq")
    )

    def assign(points, centroids):
        d = points.crossJoin(F.broadcast(centroids)).select(
            "vec_id", "xq", "cid", spark_sqdist(F.col("xq"), F.col("cq")).alias("dist")
        )
        best = d.groupBy("vec_id").agg(
            F.min(F.struct("dist", "cid")).alias("m"),
            F.first("xq").alias("xq"),
        )
        return best.select(
            "vec_id", "xq", F.col("m.cid").alias("cid"), F.col("m.dist").alias("dist")
        )

    def update(assigned):
        dims = assigned.select(
            "cid", F.posexplode("xq").alias("i", "v")
        )
        per_dim = dims.groupBy("cid", "i").agg(
            F.expr("sum(v) div count(*)").alias("s")
        )
        return per_dim.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "s"))),
                lambda t: t["s"],
            ).alias("cq")
        )

    assigned = None
    for _ in range(KMEANS_ITERS - 1):
        assigned = assign(q, cent)
        cent = update(assigned)
    final = assign(q, cent)
    return (
        final.groupBy(F.col("cid").alias("cluster"))
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.sum("dist").cast("long").alias("inertia"),
        )
        .orderBy("cluster")
    )


# --- Product-quantization ANN with asymmetric distance (ADC) -------------
# The fourth rung of the ANN ladder (brute force -> LSH -> IVF -> PQ):
# vectors compress to PQ_M one-byte codes; queries score the compressed
# corpus via per-subspace lookup tables.  Codebook here = per-label
# subvector centroids (a supervised stand-in for trained PQ centroids —
# deterministic, so the oracle can rebuild it exactly); arithmetic is
# the kmeans_lloyd fixed-point discipline (floor(x*1e6)+offset, integer
# squared distances, truncating integer mean) so engines cannot
# disagree.
PQ_M = 16  # subspaces
PQ_SUBDIM = EMB_DIM // PQ_M  # 4 dims each
PQ_TOPK = 10

_PQ_SQL_SUBDIST = SQL_SQDIST.format(a="s.sub", b="c.cq")


@register(
    "ann_pq_adc",
    oracle_sql=f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(generate_series(1, {EMB_DIM}),
               i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * {KMEANS_SCALE})
                    AS BIGINT) + {KMEANS_OFFSET}) AS xq
      FROM embeddings
    ),
    subs AS (
      SELECT vec_id, label, m,
             list_transform(generate_series(1, {PQ_SUBDIM}),
               i -> xq[m * {PQ_SUBDIM} + i]) AS sub
      FROM q CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m)
    ),
    cdims AS (
      SELECT label, m, i, CAST(sum(sub[i]) // count(*) AS BIGINT) AS s
      FROM subs CROSS JOIN generate_series(1, {PQ_SUBDIM}) AS g(i)
      GROUP BY label, m, i
    ),
    cb AS (SELECT label, m, list(s ORDER BY i) AS cq FROM cdims GROUP BY label, m),
    enc AS (
      SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, c.label AS code,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY {_PQ_SQL_SUBDIST} ASC, c.label ASC) AS rn
        FROM subs s JOIN cb c ON s.m = c.m
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT s.vec_id AS query_id, s.m, c.label AS code,
             {_PQ_SQL_SUBDIST} AS tdist
      FROM subs s JOIN cb c ON s.m = c.m
      WHERE s.vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT a.query_id, e.vec_id AS neighbor_id,
             CAST(sum(a.tdist) AS BIGINT) AS adc_dist
      FROM enc e JOIN adc a ON a.m = e.m AND a.code = e.code
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_dist ASC, neighbor_id ASC)
                      AS rank
          FROM scored WHERE query_id <> neighbor_id)
    WHERE rank <= {PQ_TOPK}
    """,
    tags=("similarity", "ann", "pq", "pipeline"),
)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: each vector compresses to {PQ_M} codes
    (nearest per-label subspace centroid); each probe (vec_id <
    {N_QUERIES}) scores the ENTIRE corpus from its {PQ_M}x10 ADC lookup
    table — approximate L2 = sum of per-subspace table entries — and
    reports top-{PQ_TOPK}.

    Why this is the 100 TB endgame of the ANN ladder: the corpus
    collapses from {EMB_DIM} floats to {PQ_M} small ints per vector
    (~64x memory compression here; 1 byte/code in a real deployment),
    the scan-and-score pass does integer ADDS against a broadcast
    lookup table instead of {EMB_DIM}-wide float dot products, and the
    code table is what you persist — re-scoring new probes never
    touches raw embeddings.  Combine with [[ann_ivf_coarse]] (IVF-PQ)
    and the probe cost drops to nprobe cells' worth of codes.

    Plan shape: quantize -> posexplode {PQ_M} subvectors (narrow) ->
    codebook = tiny groupBy((label, m, dim)) integer means, broadcast
    both into the encode argmin (IN-ROW array_min over broadcast per-m
    candidate arrays — the [[ann_ivf_pq]] form; the former (vec_id, m)
    window shuffled the whole subvector explode) and the ADC table
    build; scoring is an equi-join of per-vector codes against the
    broadcast ADC table ({N_QUERIES} queries x {PQ_M} subspaces x
    10 labels = 1,600 rows) + one (query, vec) sum; top-k is a
    per-query window.  The only corpus-sized shuffle is the
    (query_id, vec_id) sum — keyed fine-grained, no global sort
    anywhere.

    Codebook note: per-LABEL centroids stand in for kmeans-trained PQ
    centroids so the oracle is exactly reproducible; swapping in
    [[kmeans_lloyd]]-per-subspace centroids is the same dataflow with
    a training job in front.

    Recall note: the fixture embeddings are ISOTROPIC (within-label
    cosine == cross-label cosine == ~0), the worst case for any
    quantizer — distances concentrate and top-k neighbors are barely
    separated, capping achievable recall for ANY small codebook.
    {PQ_M} subspaces is the measured best operating point on this
    fixture (recall ~0.3 vs ~0.08 at M=4); tests/test_sampling.py pins
    recall well above the random-draw baseline, the honest bound here —
    like [[ann_lsh_bucketed]], the approximation loss is part of the
    contract and encoded in the oracle.
    """
    from mapreduce_c_implementation_spark.sources.tables import compute_scan

    e = compute_scan(spark, sf_dir, "embeddings")
    xq = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * KMEANS_SCALE).cast("long")
        + KMEANS_OFFSET,
    )
    q = e.select("vec_id", "label", xq.alias("xq"))
    subs = q.select(
        "vec_id",
        "label",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("xq"), m * PQ_SUBDIM + 1, PQ_SUBDIM)
                    for m in range(PQ_M)
                ]
            )
        ).alias("m", "sub"),
    )
    dims = subs.select(
        "label", "m", F.posexplode(F.col("sub")).alias("i", "v")
    )
    cdims = dims.groupBy("label", "m", "i").agg(
        F.expr("sum(v) div count(*)").alias("s")
    )
    # Cache + force the CODEBOOK (10 labels x {PQ_M} subspaces — tiny),
    # not the corpus-sized subvector explode (semdedup_cells
    # cache-scoping rule); subs is a narrow quantize+slice map that
    # recomputes cheaply for the encode and ADC passes.
    cb = cdims.groupBy("label", "m").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "s"))), lambda x: x["s"]
        ).alias("cq")
    ).cache()
    cb.count()
    from pyspark.sql.window import Window

    # Encode via an IN-ROW argmin against broadcast per-m candidate
    # arrays ({PQ_M} rows of 10 (code, centroid) structs) — min struct =
    # (lowest subdist, lowest code), the same tie-break the former
    # (vec_id, m) window's orderBy(sd, code)/rn=1 applied, with the
    # corpus-sized encode shuffle removed outright (the upgrade
    # [[ann_ivf_pq]]'s docstring names, back-ported; guide §2.4).
    cands = cb.groupBy("m").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("label").alias("code"), "cq"))
        ).alias("cands")
    )
    best = F.array_min(
        F.transform(
            F.col("cands"),
            lambda c: F.struct(
                spark_sqdist(F.col("sub"), c["cq"]).alias("sd"), c["code"].alias("code")
            ),
        )
    )
    enc = subs.join(F.broadcast(cands), "m").select(
        "vec_id", "m", best["code"].alias("code")
    )
    adc = (
        subs.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(cb.select(F.col("label").alias("code"), "m", "cq")), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            "m",
            "code",
            spark_sqdist(F.col("sub"), F.col("cq")).alias("tdist"),
        )
    )
    scored = (
        enc.join(F.broadcast(adc), ["m", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("tdist").cast("long").alias("adc_dist"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return scored.select(
        "query_id",
        "neighbor_id",
        "adc_dist",
        F.row_number().over(w_rank).cast("long").alias("rank"),
    ).filter(F.col("rank") <= PQ_TOPK)


# --- IVF-PQ: the composed endgame of the ANN ladder ----------------------
# ann_pq_adc's docstring names this composition: IVF cell routing bounds
# WHICH codes get scored (nprobe cells instead of the full corpus), PQ
# ADC bounds HOW each candidate is scored (integer table lookups instead
# of EMB_DIM-wide float arithmetic).  Reference analog: none — the
# reference's single workload is text MapReduce (src/main.c:28-59); this
# is the LLM-pipeline extension surface.

@register(
    "ann_ivf_pq",
    oracle_sql=f"""
    WITH {_SQL_NORMS},
    cell_scores AS ({_SQL_CELL_SCORES}),
    cranked AS (
      SELECT vec_id, cell,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cscore DESC, cell ASC) AS crank
      FROM cell_scores
    ),
    corpus_cell AS (SELECT vec_id, cell FROM cranked WHERE crank = 1),
    probe_cells AS (SELECT vec_id AS query_id, cell
                    FROM cranked WHERE crank <= {NPROBE} AND vec_id < {N_QUERIES}),
    q AS (
      SELECT vec_id, label,
             list_transform(generate_series(1, {EMB_DIM}),
               i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * {KMEANS_SCALE})
                    AS BIGINT) + {KMEANS_OFFSET}) AS xq
      FROM embeddings
    ),
    subs AS (
      SELECT vec_id, label, m,
             list_transform(generate_series(1, {PQ_SUBDIM}),
               i -> xq[m * {PQ_SUBDIM} + i]) AS sub
      FROM q CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m)
    ),
    cdims AS (
      SELECT label, m, i, CAST(sum(sub[i]) // count(*) AS BIGINT) AS s
      FROM subs CROSS JOIN generate_series(1, {PQ_SUBDIM}) AS g(i)
      GROUP BY label, m, i
    ),
    cb AS (SELECT label, m, list(s ORDER BY i) AS cq FROM cdims GROUP BY label, m),
    enc AS (
      SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, c.label AS code,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY {_PQ_SQL_SUBDIST} ASC, c.label ASC) AS rn
        FROM subs s JOIN cb c ON s.m = c.m
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT s.vec_id AS query_id, s.m, c.label AS code,
             {_PQ_SQL_SUBDIST} AS tdist
      FROM subs s JOIN cb c ON s.m = c.m
      WHERE s.vec_id < {N_QUERIES}
    ),
    adc_cells AS (
      SELECT p.query_id, p.cell, a.m, a.code, a.tdist
      FROM probe_cells p JOIN adc a ON a.query_id = p.query_id
    ),
    scored AS (
      SELECT a.query_id, e.vec_id AS neighbor_id,
             CAST(sum(a.tdist) AS BIGINT) AS adc_dist
      FROM enc e
      JOIN corpus_cell cc ON cc.vec_id = e.vec_id
      JOIN adc_cells a ON a.cell = cc.cell AND a.m = e.m AND a.code = e.code
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_dist ASC, neighbor_id ASC)
                      AS rank
          FROM scored WHERE query_id <> neighbor_id)
    WHERE rank <= {PQ_TOPK}
    """,
    tags=("similarity", "ann", "ivf", "pq", "pipeline"),
)
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN: [[ann_ivf_coarse]]'s {N_CELLS}-cell coarse quantizer
    routes candidates — each probe searches only its {NPROBE} best
    cells — and [[ann_pq_adc]]'s product-quantization ADC scores them —
    {PQ_M} integer codes per vector, distance = sum of broadcast-table
    lookups.  Per probe, cost = (corpus/{N_CELLS})*{NPROBE} code rows
    instead of the corpus, and each candidate costs {PQ_M} integer adds
    instead of a {EMB_DIM}-wide float dot: BOTH axes of ANN cost are
    bounded, which is why IVF-PQ (Faiss's IVFPQ index) is the planet-
    scale default.

    Plan shape — every join is a broadcast equi-join keyed on the cell:
    cell assignment AND the per-subspace code argmin are in-row
    (array_max / array_min over comparable structs against a broadcast
    {PQ_M}-row per-subspace candidate array — an upgrade over
    ann_pq_adc's (vec_id, m) window shuffle: encode here shuffles
    NOTHING corpus-sized), the probe-side ADC table
    ({N_QUERIES}x{NPROBE}x{PQ_M}x10 = 3,200 rows) broadcasts with the
    cell id attached, and the score join carries the cell equi-key
    (plan-gated in tests/test_plans.py) so a candidate row is touched
    only when its cell is probed.  At 100 TB the corpus codes are
    WRITTEN partitioned by cell (the [[zorder_layout]] /
    partitioned-sink pattern) and each probe becomes a partition-pruned
    scan of {NPROBE} cells' code files — raw embeddings are never
    re-read.  The only corpus-sized shuffle is the (query, neighbor)
    partial-sum aggregate over probed cells.

    Recall note: same fixture caveat as [[ann_pq_adc]] — isotropic
    embeddings cap honest recall for any quantizer; the pinned bound
    (tests/test_sampling.py) is vs exact ground truth, compounding the
    IVF routing loss (nprobe/{N_CELLS} coverage) with PQ distortion.
    The oracle runs the identical algorithm, so both losses are part of
    the contract, not drift.
    """
    from mapreduce_c_implementation_spark.sources.tables import compute_scan

    e = compute_scan(spark, sf_dir, "embeddings")
    # One pass computes both quantizers: IVF cell (argmax of the 8
    # +/-1-centroid scores — array_max struct trick, ties to LOWEST
    # cell) and the PQ integer coordinates.
    cell_scores = F.array(
        *[
            F.struct(
                F.round(r.spark_dot(F.col("embedding")), 6).alias("cscore"),
                F.lit(-k).alias("negcell"),
            )
            for k, r in enumerate(CENTROIDS)
        ]
    )
    xq = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * KMEANS_SCALE).cast("long")
        + KMEANS_OFFSET,
    )
    base = e.select(
        "vec_id",
        "label",
        (-F.array_max(cell_scores)["negcell"]).cast("int").alias("cell"),
        # top-NPROBE probe cells, best-first: sort by (-cscore, cell)
        F.slice(
            F.array_sort(
                F.transform(
                    cell_scores,
                    lambda s: F.struct(
                        (-s["cscore"]).alias("neg"), (-s["negcell"]).alias("cell")
                    ),
                )
            ),
            1,
            NPROBE,
        ).alias("probe"),
        xq.alias("xq"),
    )
    subs = base.select(
        "vec_id",
        "label",
        "cell",
        "probe",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("xq"), m * PQ_SUBDIM + 1, PQ_SUBDIM)
                    for m in range(PQ_M)
                ]
            )
        ).alias("m", "sub"),
    )
    # Codebook: per-(label, m) truncating integer subvector means — tiny
    # (10 x {PQ_M} rows); cache + force it so the corpus scan behind it
    # runs once (the semdedup cache-scoping rule: codebook-sized blocks
    # only).
    dims = subs.select("label", "m", F.posexplode(F.col("sub")).alias("i", "v"))
    cdims = dims.groupBy("label", "m", "i").agg(
        F.expr("sum(v) div count(*)").alias("s")
    )
    cb = (
        cdims.groupBy("label", "m")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "s"))), lambda x: x["s"]
            ).alias("cq")
        )
        .cache()
    )
    cb.count()
    # Per-m candidate arrays ({PQ_M} rows of 10 (label, centroid) structs)
    # broadcast into an IN-ROW argmin: min struct = (lowest subdist,
    # lowest label) — no (vec_id, m) window, nothing corpus-sized
    # shuffles during encode.
    cands = cb.groupBy("m").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("label").alias("code"), "cq"))
        ).alias("cands")
    )
    best = F.array_min(
        F.transform(
            F.col("cands"),
            lambda c: F.struct(
                spark_sqdist(F.col("sub"), c["cq"]).alias("sd"), c["code"].alias("code")
            ),
        )
    )
    enc = subs.join(F.broadcast(cands), "m").select(
        "vec_id", "cell", "m", best["code"].alias("code")
    )
    # Probe-side ADC table WITH the probed cell attached: 10 queries x
    # NPROBE cells x {PQ_M} subspaces x 10 codes = 3,200 rows, broadcast.
    adc = (
        subs.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(F.col("probe")).alias("p"),
            "m",
            "sub",
        )
        .join(F.broadcast(cb.select(F.col("label").alias("code"), "m", "cq")), "m")
        .select(
            "query_id",
            F.col("p.cell").alias("cell"),
            "m",
            "code",
            spark_sqdist(F.col("sub"), F.col("cq")).alias("tdist"),
        )
    )
    scored = (
        enc.join(F.broadcast(adc), ["cell", "m", "code"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("tdist").cast("long").alias("adc_dist"))
    )
    from pyspark.sql.window import Window

    w_rank = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return scored.select(
        "query_id",
        "neighbor_id",
        "adc_dist",
        F.row_number().over(w_rank).cast("long").alias("rank"),
    ).filter(F.col("rank") <= PQ_TOPK)


# --- Dominant eigenvector by fixed-point power iteration -----------------
# The PCA step after [[embedding_gram_matrix]]: iterate v <- G v with a
# renormalization to PI_VSCALE after every multiply.  All integers, so
# the oracle is bit-exact; 4 rounds is semantics, not convergence
# tuning (the oracle unrolls the same 4).
PI_QSCALE = 1000  # embedding quantization (coarser than GRAM_SCALE so
                  # G entries * v stay far inside int64)
PI_VSCALE = 1000  # vector renorm target after each multiply
PI_ITERS = 4

# trunc-toward-zero division for possibly-negative numerators (DuckDB's
# // floors; Spark's `div` truncates — pin trunc in both engines).
_SQL_TDIV = "(CASE WHEN {u} >= 0 THEN ({u}) // ({m}) ELSE -((-({u})) // ({m})) END)"


def _power_iteration_oracle() -> str:
    ctes = [
        f"""gram AS (
      SELECT CAST(di.i - 1 AS BIGINT) AS dim_i,
             CAST(dj.j - 1 AS BIGINT) AS dim_j,
             CAST(sum(
               CAST(floor(CAST(embedding[di.i] AS DOUBLE) * {PI_QSCALE}.0) AS BIGINT)
               * CAST(floor(CAST(embedding[dj.j] AS DOUBLE) * {PI_QSCALE}.0) AS BIGINT)
             ) AS BIGINT) AS g
      FROM embeddings,
           (SELECT unnest(generate_series(1, {EMB_DIM})) AS i) di,
           (SELECT unnest(generate_series(1, {EMB_DIM})) AS j) dj
      GROUP BY 1, 2
    )""",
        f"v0 AS (SELECT CAST(unnest(generate_series(0, {EMB_DIM - 1})) AS BIGINT)"
        f" AS dim, CAST({PI_VSCALE} AS BIGINT) AS v)",
    ]
    for k in range(PI_ITERS):
        u = f"u{k}"
        ctes.append(
            f"""{u} AS (
      SELECT g.dim_i AS dim, CAST(sum(g.g * v.v) AS BIGINT) AS u
      FROM gram g JOIN v{k} v ON v.dim = g.dim_j
      GROUP BY g.dim_i
    )"""
        )
        tdiv = _SQL_TDIV.format(
            u=f"u * {PI_VSCALE}", m=f"(SELECT max(abs(u)) FROM {u})"
        )
        ctes.append(
            f"v{k + 1} AS (SELECT dim, CAST({tdiv} AS BIGINT) AS v FROM {u})"
        )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {chain}
    SELECT dim, v FROM v{PI_ITERS}
    """


@register(
    "gram_power_iteration",
    oracle_sql=_power_iteration_oracle(),
    tags=("similarity", "pca", "iterative", "pipeline"),
)
def gram_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus by POWER
    ITERATION on the integer Gram matrix — the step that turns
    [[embedding_gram_matrix]] into usable PCA output (top component for
    whitening, ABTT-style dominant-direction removal, or as the first
    vector of a blocked Lanczos).  {PI_ITERS} rounds of v <- G v, each
    renormalized to fixed-point scale {PI_VSCALE} by trunc-division by
    max|component| — all arithmetic int64 (quantization {PI_QSCALE}
    keeps |G|·|v|·d ~ 3e14, far inside the ANSI overflow bar), so the
    result is bit-identical in both engines; the trunc-toward-zero
    rescale is spelled explicitly in the oracle because DuckDB's //
    floors while Spark's `div` truncates.

    Scale shape: the corpus is touched ONCE — the same mapInPandas
    d²-bounded partial-Gram as embedding_gram_matrix (nothing
    row-shaped shuffles), then every iteration is a join+agg over the
    {EMB_DIM}²-row G with a {EMB_DIM}-row broadcast vector and a 1-row
    broadcast max — corpus-size independent, the definition of cheap
    post-processing.  At billion-scale d, rounds would partition G by
    dim_i block; here localCheckpoint per round caps lineage as in
    [[kmeans_lloyd]].
    """
    import numpy as np
    import pandas as pd

    from mapreduce_c_implementation_spark.sources.tables import compute_scan

    e = compute_scan(spark, sf_dir, "embeddings").select("embedding")

    def gram_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            q = np.floor(x * PI_QSCALE).astype(np.int64)
            g = q.T @ q
            ii, jj = np.indices((EMB_DIM, EMB_DIM))
            yield pd.DataFrame(
                {"dim_i": ii.ravel(), "dim_j": jj.ravel(), "part": g.ravel()}
            )

    gram = (
        e.mapInPandas(gram_batches, schema="dim_i int, dim_j int, part long")
        .groupBy("dim_i", "dim_j")
        .agg(F.sum("part").alias("g"))
        .select(
            F.col("dim_i").cast("long").alias("dim_i"),
            F.col("dim_j").cast("long").alias("dim_j"),
            "g",
        )
        .localCheckpoint()
    )
    v = spark.range(EMB_DIM).select(
        F.col("id").alias("dim"), F.lit(PI_VSCALE).cast("long").alias("v")
    )
    for _ in range(PI_ITERS):
        u = (
            gram.join(F.broadcast(v), gram.dim_j == v.dim)
            .groupBy(F.col("dim_i").alias("dim"))
            .agg(F.sum(F.col("g") * F.col("v")).cast("long").alias("u"))
        )
        m = u.agg(F.max(F.abs(F.col("u"))).alias("m"))
        v = (
            u.crossJoin(F.broadcast(m))
            .select(
                "dim",
                F.expr(f"(u * {PI_VSCALE}) div m").cast("long").alias("v"),
            )
            .localCheckpoint()
        )
    return v


# Shared rank-and-truncate body for the recall-eval oracle: the exact
# and approximate top-k CTEs are the SAME text the standalone
# ann_bruteforce_topk / ann_lsh_bucketed oracles use, so the eval op
# cannot drift from the ops it evaluates.
_SQL_EXACT_TOPK = f"""
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({SQL_DOT.format(a="q.embedding", b="c.embedding")}
                   / (q.nrm * c.nrm), 6) AS cosine
      FROM norms q JOIN norms c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    exact_topk AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id ASC)
                        AS rank FROM scored)
      WHERE rank <= {TOP_K}
    )"""

_SQL_APPROX_TOPK = f"""
    bucketed AS (
      SELECT vec_id, embedding, nrm,
             {_SQL_BUCKET} AS bucket
      FROM norms
    ),
    cand AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({SQL_DOT.format(a="q.embedding", b="c.embedding")}
                   / (q.nrm * c.nrm), 6) AS cosine
      FROM bucketed q JOIN bucketed c
        ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    approx_topk AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id ASC)
                        AS rank FROM cand)
      WHERE rank <= {TOP_K}
    )"""


@register(
    "ann_recall_eval",
    oracle_sql=f"""
    WITH {_SQL_NORMS},
    {_SQL_EXACT_TOPK.strip()},
    {_SQL_APPROX_TOPK.strip()},
    base AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS k_exact
      FROM exact_topk GROUP BY query_id
    ),
    hits AS (
      SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hit
      FROM exact_topk e
      JOIN approx_topk a
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
    ),
    perq AS (
      SELECT b.query_id, b.k_exact,
             CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit
      FROM base b LEFT JOIN hits h ON h.query_id = b.query_id
    )
    SELECT query_id, k_exact, n_hit,
           CAST((n_hit * 10000) // k_exact AS BIGINT) AS recall_bp
    FROM perq
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS query_id,
           CAST(sum(k_exact) AS BIGINT) AS k_exact,
           CAST(sum(n_hit) AS BIGINT) AS n_hit,
           CAST((sum(n_hit) * 10000) // sum(k_exact) AS BIGINT) AS recall_bp
    FROM perq
    ORDER BY query_id
    """,
    tags=("similarity", "ann", "eval", "pipeline"),
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of [[ann_lsh_bucketed]] against the exact
    [[ann_bruteforce_topk]] ground truth — the evaluation job every ANN
    deployment runs before trusting an index: per-query hit counts plus
    a macro row (query_id = -1) with the overall recall in basis
    points.  Both sides are the REGISTERED operators' own queries (and
    the oracle inlines their exact CTE text), so the eval can never
    drift from what it claims to measure; integer counts and trunc
    division make it bit-exact.

    Scale shape: ground truth is the documented brute-force cross
    product (this op inherits that contract — at 100 TB you evaluate
    on a SAMPLED probe set exactly like this fixture's vec_id <
    {N_QUERIES}, never the full corpus); the hit join is a
    (query_id, neighbor_id) equi-join between two K x probes tables —
    metadata-sized — and everything aggregates down from there.  The
    per-query TOP_K windows are bounded by the probe set, not the
    corpus.
    """
    # Both sides are K x probes TINY but carry the two expensive ANN
    # pipelines as lineage; exact feeds TWO consumers (base + hits) and
    # perq feeds the output union TWICE — without materialization the
    # brute-force ground truth and the LSH pipeline re-run per
    # reference (r13: pin each once with an eager localCheckpoint of
    # the ~K*probes-row table; guide §5 lineage cut).
    exact = (
        ann_bruteforce_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    approx = ann_lsh_bucketed(spark, sf_dir).select(
        F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    base = exact.groupBy("query_id").agg(
        F.count("*").cast("long").alias("k_exact")
    )
    hits = (
        exact.join(
            approx,
            (F.col("query_id") == F.col("a_qid"))
            & (F.col("neighbor_id") == F.col("a_nid")),
        )
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    perq = (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            "k_exact",
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
        )
        .localCheckpoint()
    )
    total = perq.agg(
        F.lit(-1).cast("long").alias("query_id"),
        F.sum("k_exact").cast("long").alias("k_exact"),
        F.sum("n_hit").cast("long").alias("n_hit"),
    )
    return (
        perq.unionByName(total)
        .select(
            "query_id",
            "k_exact",
            "n_hit",
            F.expr("n_hit * 10000 div k_exact").cast("long").alias("recall_bp"),
        )
        .orderBy("query_id")
    )


# Johnson-Lindenstrauss random projection: K target dims, sign matrix
# derived from md5 so both engines build the SAME matrix with no
# materialized state.
RP_TARGET_DIMS = 8
RP_SCALE = 1_000_000


@register(
    "embedding_random_projection",
    oracle_sql=f"""
    WITH proj AS (
      SELECT vec_id,
             list_transform(generate_series(0, {RP_TARGET_DIMS - 1}), j ->
               CAST(list_sum(list_transform(generate_series(0, 63), i ->
                 CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * {RP_SCALE})
                      AS BIGINT)
                 * (1 - 2 * (CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '_'
                     || CAST(j AS VARCHAR)), 1, 1) AS BIGINT) % 2))
               )) AS BIGINT)) AS p
      FROM embeddings
    )
    SELECT vec_id, CAST(js.j AS BIGINT) AS dim, p[js.j + 1] AS proj_scaled
    FROM proj, (SELECT unnest(generate_series(0, {RP_TARGET_DIMS - 1})) AS j) js
    ORDER BY vec_id, dim
    """,
    tags=("similarity", "projection", "pipeline"),
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection: 64-dim embeddings
    down to {RP_TARGET_DIMS} dims via a +-1 matrix whose entries are
    md5-parity of (i, j) — the cheap dimensionality cut that feeds
    LSH / clustering when the full vector is too wide to shuffle.
    Deriving the matrix from a hash means NO materialized projection
    state: any executor (and the oracle) reconstructs the same matrix
    from the dimension indices alone.

    Exactness: coordinates quantize to 1e-6 fixed point first (the
    [[kmeans_lloyd]] discipline), the projection is then an integer
    dot product with +-1 signs — no float accumulation order anywhere.

    Scale shape: entirely IN-ROW (one transform over target dims, one
    fold over source dims) — zero shuffles, scan-bound; the md5 calls
    per row are CPU, not I/O.  At production scale you precompute the
    D x K sign matrix once and broadcast it (it is a few KB), turning
    the inner lambda into an array lookup; the hash-derived form here
    is the stateless reference semantics.
    """
    from mapreduce_c_implementation_spark.sources.tables import compute_scan

    e = compute_scan(spark, sf_dir, "embeddings")
    xq = "CAST(floor(CAST(element_at(embedding, i + 1) AS DOUBLE)" \
         f" * {RP_SCALE}) AS BIGINT)"
    sign = (
        "(1 - 2 * (CAST(conv(substr(md5(concat(CAST(i AS STRING), '_', "
        "CAST(j AS STRING))), 1, 1), 16, 10) AS BIGINT) % 2))"
    )
    proj = F.expr(
        f"transform(sequence(0, {RP_TARGET_DIMS - 1}), j -> "
        f"aggregate(sequence(0, 63), 0L, (acc, i) -> acc + {xq} * {sign}))"
    )
    return (
        e.select("vec_id", F.posexplode(proj).alias("dim", "proj_scaled"))
        .select(
            "vec_id",
            F.col("dim").cast("long").alias("dim"),
            F.col("proj_scaled").cast("long").alias("proj_scaled"),
        )
        .orderBy("vec_id", "dim")
    )


EMB_OUTLIER_TOPK = 20


@register(
    "embedding_centroid_outliers",
    oracle_sql=f"""
    WITH mic AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xm
      FROM embeddings
    ),
    dims AS (
      SELECT i AS dim, sum(xm[i]) AS s
      FROM mic, unnest(generate_series(1, len(xm))) AS t(i)
      GROUP BY i
    ),
    ctr AS (
      SELECT list(s ORDER BY dim) AS sarr, (SELECT count(*) FROM mic) AS n
      FROM dims
    )
    SELECT m.vec_id, m.label,
           CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
                  list_transform(generate_series(1, len(m.xm)),
                    i -> CAST(m.xm[i] * c.n - c.sarr[i] AS HUGEINT)
                         * CAST(m.xm[i] * c.n - c.sarr[i] AS HUGEINT))),
                  (acc, v) -> acc + v) // (c.n * c.n) AS BIGINT)
             AS dist2_micro2
    FROM mic m, ctr c
    ORDER BY dist2_micro2 DESC, m.vec_id
    LIMIT {EMB_OUTLIER_TOPK}
    """,
    tags=("similarity", "quality", "outliers", "pipeline"),
)
def embedding_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding quality control: the {EMB_OUTLIER_TOPK} vectors
    farthest from the corpus CENTROID — the atypicality screen for
    broken encoders and off-distribution payloads before an index
    build ([[rag_chunk_index_build]], [[ann_ivf_pq]]) bakes them in.
    (A norm screen is useless on normalized embeddings — this
    fixture's vectors are exactly unit norm — but centroid distance
    ranks them regardless.)

    Exactness: components freeze to integer micro units PER ROW, so
    the per-dimension centroid sums are exact integer aggregates
    (float vector sums are partition-order-dependent — the one thing
    a distributed mean must never do); each vector's squared distance
    to the centroid is the cross-multiplied integer
    sum_d (x_d*n - s_d)^2 // n^2 in 128-bit accumulators (the squares
    overflow int64 past fixture scale).  Total-order tie-break.

    Scale shape: one dim-grain aggregate (|dims| keys — only micro
    ints shuffle), the |dims|-element centroid array broadcast as a
    1-row, then an in-row fold and a TakeOrdered top-k.  Embedding
    payloads never shuffle.
    """
    from mapreduce_c_implementation_spark.sources.tables import compute_scan

    e = compute_scan(spark, sf_dir, "embeddings")
    mic = e.select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 1000000).cast("long"),
        ).alias("xm"),
    )
    dims = (
        mic.select(F.posexplode("xm").alias("i", "x"))
        .groupBy("i")
        .agg(F.sum("x").alias("s"))
    )
    ctr = dims.agg(
        F.array_sort(F.collect_list(F.struct("i", "s"))).alias("sa")
    ).select(F.transform(F.col("sa"), lambda p: p.s).alias("sarr"))
    n1 = mic.agg(F.count("*").alias("n"))
    joined = mic.crossJoin(F.broadcast(ctr)).crossJoin(F.broadcast(n1))
    dist2 = F.expr(
        f"""CAST(aggregate(sequence(1, size(xm)),
              CAST(0 AS DECIMAL(38,0)),
              (acc, i) -> acc
                + CAST(xm[i-1] * n - sarr[i-1] AS DECIMAL(38,0))
                  * CAST(xm[i-1] * n - sarr[i-1] AS DECIMAL(38,0)))
            div (CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)))
            AS BIGINT)"""
    )
    return (
        joined.select("vec_id", "label", dist2.alias("dist2_micro2"))
        .orderBy(F.desc("dist2_micro2"), "vec_id")
        .limit(EMB_OUTLIER_TOPK)
    )


# Deterministic pair sample for the cosine histogram: the mod is derived
# in-plan as greatest(1, n_vectors div COS_TARGET_SAMPLE), so the
# expected sample count stays ~COS_TARGET_SAMPLE at any corpus size and
# the all-pairs budget is constant (at the sf0.1 fixture's 2000 vectors
# the derived mod is 16 — identical to the pre-fix behavior there).
COS_TARGET_SAMPLE = 125


@register(
    "cosine_similarity_histogram",
    oracle_sql=f"""
    WITH {_SQL_NORMS},
    sampled AS (
      SELECT vec_id, embedding, nrm FROM norms
      WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT)
            % greatest(1, (SELECT count(*) FROM embeddings)
                          // {COS_TARGET_SAMPLE}) = 0
    ),
    pairs AS (
      SELECT CAST(floor(round(
               {SQL_DOT.format(a="a.embedding", b="b.embedding")}
               / (a.nrm * b.nrm), 6) * 10) AS BIGINT) AS bin
      FROM sampled a JOIN sampled b ON a.vec_id < b.vec_id
    ),
    tot AS (SELECT count(*) AS n FROM pairs)
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(*) * 1000000 // max(t.n) AS BIGINT) AS share_ppm
    FROM pairs, tot t
    GROUP BY bin ORDER BY bin
    """,
    tags=("similarity", "calibration", "histogram", "pipeline"),
)
def cosine_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine distribution histogram over a deterministic
    md5-sampled vector subset (all pairs within the sample) — the
    calibration curve every similarity threshold is read off of: where
    [[semdedup_cells]]' dedup cut or [[dedup_embedding_cosine]]'s 0.95
    sits relative to the background similarity mass.  Bins are 0.1-wide
    (cosine rounded to 6 places first, so the floor is engine-stable).

    Scale shape: the all-pairs product exists ONLY inside the
    hash-bounded sample, and the sample COUNT is fixed BY CONSTRUCTION:
    the mod is derived in-plan as greatest(1, n_vectors div
    {COS_TARGET_SAMPLE}), so the expected sample stays ~{COS_TARGET_SAMPLE}
    vectors and pair cost is a constant ~{COS_TARGET_SAMPLE}^2/2 budget
    at ANY corpus size (the 32x probe caught the earlier fixed-RATE
    sample going quadratic — 5.8x wall at 32x; docs/SCALING.md
    Findings).  One 1-row count broadcast derives the mod; one 1-row
    total broadcasts for the ppm shares.
    """
    norms = _norms(spark, sf_dir)
    nrow = norms.agg(F.count("*").alias("nv"))
    sampled = (
        norms.crossJoin(F.broadcast(nrow))
        .filter(
            F.conv(
                F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % F.greatest(F.lit(1), F.expr(f"nv div {COS_TARGET_SAMPLE}"))
            == 0
        )
        .select("vec_id", "embedding", "nrm")
    )
    a = sampled.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = sampled.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = F.round(
        spark_dot(F.col("emb_a"), F.col("emb_b"))
        / (F.col("nrm_a") * F.col("nrm_b")),
        6,
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b")).select(
        F.floor(cos * 10).cast("long").alias("bin")
    )
    tot = pairs.agg(F.count("*").alias("n"))
    return (
        pairs.crossJoin(F.broadcast(tot))
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr(
                "CAST(count(*) * 1000000L div max(n) AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("bin")
    )


# Hard-negative mining uses a WIDER candidate pool than ann_lsh_bucketed:
# 4 of the 6 hyperplanes (16 buckets), because a positive needs a
# same-LABEL neighbor in-bucket and 64-way bucketing leaves too few.
HN_PLANES = 4

_SQL_HN_BUCKET = sql_sign_bucket(PLANES[:HN_PLANES], "embedding")


@register(
    "hard_negative_mining",
    oracle_sql=f"""
    WITH {_SQL_NORMS},
    bucketed AS (
      SELECT vec_id, label, embedding, nrm,
             {_SQL_HN_BUCKET} AS bucket
      FROM norms
    ),
    cand AS (
      SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
             c.vec_id AS cand_id, c.label AS cand_label,
             round({SQL_DOT.format(a="q.embedding", b="c.embedding")}
                   / (q.nrm * c.nrm), 6) AS cosine
      FROM bucketed q JOIN bucketed c
        ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      WHERE q.vec_id % 17 = 0
    ),
    best AS (
      SELECT anchor_id, anchor_label, cand_id, cand_label, cosine,
             row_number() OVER (
               PARTITION BY anchor_id, (cand_label = anchor_label)
               ORDER BY cosine DESC, cand_id ASC) AS rk
      FROM cand
    )
    SELECT p.anchor_id, p.anchor_label,
           p.cand_id AS positive_id, p.cosine AS positive_cos,
           n.cand_id AS negative_id, n.cosine AS negative_cos,
           CAST(round((p.cosine - n.cosine) * 1000000) AS BIGINT)
             AS margin_micro
    FROM best p JOIN best n USING (anchor_id)
    WHERE p.rk = 1 AND p.cand_label = p.anchor_label
      AND n.rk = 1 AND n.cand_label <> n.anchor_label
    """,
    tags=("similarity", "contrastive", "mining", "pipeline"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive / embedding-model training:
    for each anchor (vec_id % 17 = 0), the most-similar SAME-label
    in-bucket vector becomes the positive and the most-similar
    DIFFERENT-label one the hard negative, emitting the
    (anchor, positive, hard-negative) triplet with its cosine margin —
    the batch-mining step behind sentence-encoder and retrieval-model
    training (in-batch negatives are easy; the ones that teach are the
    near-miss wrong-label neighbors).  Anchors lacking either a
    positive or a negative in-bucket produce no triplet (recall is the
    [[ann_recall_eval]] trade, tuned here by widening to {HN_PLANES}
    of the {N_PLANES} LSH planes — 2^{HN_PLANES} buckets).

    Scale shape: candidate generation is the [[ann_lsh_bucketed]]
    equi-join on the bucket id — never all-pairs; per-anchor argmax is
    a two-sided row_number window partitioned by (anchor, same-label),
    keyed on the anchor id.  At 100 TB the bucket count rises with the
    plane count; the join stays linear in candidates.
    """
    norms = _norms(spark, sf_dir)
    bucket = spark_sign_bucket(PLANES[:HN_PLANES], F.col("embedding"))
    bucketed = norms.select(
        "vec_id", "label", "embedding", "nrm", bucket.alias("bucket")
    )
    q = bucketed.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("bucket").alias("q_bucket"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = bucketed.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("bucket").alias("c_bucket"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    cos = F.round(
        spark_dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm")),
        6,
    )
    # No broadcast hint on q: the anchor side is corpus/17 — forcing it
    # driver-side would OOM the driver at scale.  The bucket equi-key
    # lets Catalyst/AQE pick the join strategy (it will still broadcast
    # when the anchor side is measured-small at runtime).
    cand = (
        c.join(
            q,
            (F.col("q_bucket") == F.col("c_bucket"))
            & (F.col("anchor_id") != F.col("cand_id")),
        )
        .select("anchor_id", "anchor_label", "cand_id", "cand_label", cos.alias("cosine"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(
        "anchor_id", F.col("cand_label") == F.col("anchor_label")
    ).orderBy(F.desc("cosine"), F.asc("cand_id"))
    best = cand.select("*", F.row_number().over(w).alias("rk"))
    p = best.filter(
        (F.col("rk") == 1) & (F.col("cand_label") == F.col("anchor_label"))
    ).select(
        "anchor_id",
        "anchor_label",
        F.col("cand_id").alias("positive_id"),
        F.col("cosine").alias("positive_cos"),
    )
    ng = best.filter(
        (F.col("rk") == 1) & (F.col("cand_label") != F.col("anchor_label"))
    ).select(
        "anchor_id",
        F.col("cand_id").alias("negative_id"),
        F.col("cosine").alias("negative_cos"),
    )
    return p.join(ng, "anchor_id").select(
        "anchor_id",
        "anchor_label",
        "positive_id",
        "positive_cos",
        "negative_id",
        "negative_cos",
        F.round((F.col("positive_cos") - F.col("negative_cos")) * 1000000)
        .cast("long")
        .alias("margin_micro"),
    )


# Whitening freeze scale: raw float components freeze to milli-units
# (symmetric half-up floor(x*1000+0.5), the repo's float-tie-safe form)
# before any aggregation, so every moment is an exact integer.
WHITEN_SCALE = 1000

_WHITEN_VARNUM = (
    "CAST(n AS DECIMAL(38,0)) * ssq - CAST(s AS DECIMAL(38,0)) * s"
)


@register(
    "embedding_dimension_whitening",
    oracle_sql=f"""
    WITH vals AS (
      SELECT vec_id, i - 1 AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * {WHITEN_SCALE}.0
                        + 0.5) AS BIGINT) AS vi
      FROM (SELECT vec_id, embedding,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings)
    ),
    stats AS (
      SELECT dim, count(*) AS n, sum(vi) AS s, sum(vi * vi) AS ssq
      FROM vals GROUP BY dim
    ),
    z AS (
      SELECT vec_id, v.dim,
             CASE WHEN {_WHITEN_VARNUM} = 0 THEN 0
                  ELSE CAST(floor(1000000.0 * (n * vi - s)
                       / sqrt(CAST({_WHITEN_VARNUM} AS DOUBLE))
                       + 0.5) AS BIGINT)
             END AS z_micro
      FROM vals v JOIN stats st ON st.dim = v.dim
    )
    SELECT vec_id,
           count(*) AS n_dims,
           CAST(sum((dim + 1) * z_micro) AS BIGINT) AS whiten_checksum,
           CAST(max(CASE WHEN dim = 0 THEN z_micro END) AS BIGINT)
             AS z0_micro
    FROM z GROUP BY vec_id
    """,
    tags=("similarity", "embeddings", "normalize", "pipeline"),
)
def embedding_dimension_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension (diagonal) whitening of the embedding table: each
    component standardizes to z = (x - mean_d)/std_d — the preprocessing
    that stops high-variance dimensions from dominating cosine/L2
    retrieval ([[ann_bruteforce_topk]]) and centroid assignment
    ([[kmeans_lloyd]]); full-covariance whitening adds the rotation from
    [[gram_power_iteration]]'s spectral pass on top of this scaling.

    Exactness: components freeze to exact milli-integers first, so the
    per-dimension moments (n, s=Σv, ssq=Σv²) are exact integer
    aggregates in any order; z = (n·v − s)/√(n·ssq − s²) is then one
    deterministic double expression per cell (the variance numerator is
    computed in DECIMAL(38,0) — n·ssq overflows int64 at ~1e12-vector
    corpora — and IEEE /,√ on identical inputs are identical in both
    engines; ties freeze via floor(x+0.5), never round()).  Zero-variance
    dimensions whiten to 0 instead of dividing by zero.

    Scale shape: corpus -> (dim, n, s, ssq) is a map-side-combined
    aggregate to a d-row table (d = embedding width, a constant);
    whitening joins that d-row table back BROADCAST and rewrites each
    cell in place — one pass over the embedding bytes, no corpus-sized
    shuffle.  Output is vector-grain: dim count, a position-weighted
    checksum of the whitened vector, and the dim-0 component.
    """
    e = load_table(spark, sf_dir, "embeddings")
    vals = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "vec_id",
        "dim",
        F.expr(
            f"CAST(floor(CAST(v AS DOUBLE) * {WHITEN_SCALE}.0 + 0.5)"
            " AS BIGINT)"
        ).alias("vi"),
    )
    stats = vals.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("vi").alias("s"),
        F.sum(F.expr("vi * vi")).alias("ssq"),
    )
    z = vals.join(F.broadcast(stats), "dim").select(
        "vec_id",
        "dim",
        F.expr(
            f"CASE WHEN {_WHITEN_VARNUM} = 0 THEN 0"
            f" ELSE CAST(floor(1000000.0 * (n * vi - s)"
            f" / sqrt(CAST({_WHITEN_VARNUM} AS DOUBLE)) + 0.5) AS BIGINT)"
            " END"
        ).alias("z_micro"),
    )
    return z.groupBy("vec_id").agg(
        F.count("*").cast("long").alias("n_dims"),
        F.sum(F.expr("(dim + 1) * z_micro")).cast("long").alias(
            "whiten_checksum"
        ),
        F.max(F.when(F.col("dim") == 0, F.col("z_micro")))
        .cast("long")
        .alias("z0_micro"),
    )


# Diversity-preserving cap for dense semantic regions: each LSH sign
# bucket keeps at most DIV_CAP vectors, chosen by md5(vec_id) rank —
# deterministic, content-independent within the bucket.
DIV_CAP = 8


@register(
    "cluster_capped_diversity_sample",
    oracle_sql=f"""
    WITH {_SQL_NORMS},
    bucketed AS (
      SELECT vec_id, {_SQL_BUCKET} AS bucket
      FROM norms
    ),
    ranked AS (
      SELECT vec_id, bucket,
             row_number() OVER (PARTITION BY bucket
                                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               AS rk,
             count(*) OVER (PARTITION BY bucket) AS n_bucket
      FROM bucketed
    )
    SELECT vec_id, bucket, CAST(rk AS BIGINT) AS rk,
           CAST(n_bucket AS BIGINT) AS n_bucket
    FROM ranked WHERE rk <= {DIV_CAP}
    """,
    tags=("similarity", "sampling", "diversity", "pipeline"),
)
def cluster_capped_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-preserving downsampling: cap every semantic region (an
    LSH sign bucket over the {N_PLANES} hyperplanes — 2^{N_PLANES}
    cells) at {DIV_CAP} vectors, chosen by md5(vec_id) rank.  Dense
    regions (boilerplate clusters, template farms) are clipped while
    sparse regions survive whole — the semantic-coverage counterpart of
    [[domain_cap_rewrite]] (which caps by HOST) and the keep-everything
    complement of [[semdedup_cells]] (which drops by pairwise cosine
    within a cell; this op never computes pairs at all).

    Determinism: the in-bucket order is md5(vec_id) with a vec_id
    tiebreak — a total order, reproducible on any engine/partitioning.

    Scale shape: bucket assignment is an in-row integer fold; the cap
    is one bucket-partitioned window (row_number + count over
    2^{N_PLANES}-way partitions).  At 100 TB the plane count grows with
    log(n) (the [[hard_negative_mining]] rule), keeping per-bucket
    partitions bounded; no joins, no pair products.

    Reference analog: none (LLM-pipeline surface per the brief).
    """
    norms = _norms(spark, sf_dir)
    bucket = spark_sign_bucket(PLANES, F.col("embedding"))
    bucketed = norms.select("vec_id", bucket.alias("bucket"))
    from pyspark.sql.window import Window

    wb = Window.partitionBy("bucket")
    ranked = bucketed.select(
        "vec_id",
        "bucket",
        F.row_number()
        .over(wb.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id")))
        .alias("rk"),
        F.count("*").over(wb).alias("n_bucket"),
    )
    return ranked.filter(F.col("rk") <= DIV_CAP).select(
        "vec_id",
        "bucket",
        F.col("rk").cast("long").alias("rk"),
        F.col("n_bucket").cast("long").alias("n_bucket"),
    )


# Matryoshka truncation: score recall of the first MRL_DIMS dimensions
# against the full-width exact top-k, per probe query.
MRL_DIMS = 16
MRL_K = 5


def _sql_mrl_dot(a: str, b: str) -> str:
    return SQL_DOT.format(a=f"{a}[1:{MRL_DIMS}]", b=f"{b}[1:{MRL_DIMS}]")


@register(
    "matryoshka_truncation_recall",
    oracle_sql=f"""
    WITH {_SQL_NORMS},
    tnorms AS (
      SELECT * FROM (
        SELECT vec_id, embedding,
               sqrt({_sql_mrl_dot("embedding", "embedding")}) AS tnrm
        FROM embeddings
      ) WHERE tnrm > 0
    ),
    full_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round({SQL_DOT.format(a="q.embedding", b="c.embedding")}
                                / (q.nrm * c.nrm), 6) DESC, c.vec_id ASC) AS rk
        FROM norms q JOIN norms c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE rk <= {MRL_K}
    ),
    trunc_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round({_sql_mrl_dot("q.embedding", "c.embedding")}
                                / (q.tnrm * c.tnrm), 6) DESC, c.vec_id ASC) AS rk
        FROM tnorms q JOIN tnorms c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE rk <= {MRL_K}
    )
    SELECT f.query_id,
           CAST(count(t.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(t.neighbor_id) * 1000000 // {MRL_K} AS BIGINT)
             AS recall_ppm
    FROM full_top f
    LEFT JOIN trunc_top t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
    """,
    tags=("similarity", "eval", "matryoshka", "pipeline"),
)
def matryoshka_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka/truncated-embedding retrieval eval: recall@{MRL_K} of
    the first-{MRL_DIMS}-dimensions cosine top-k against the full-width
    exact top-k, per probe query — the measurement behind the
    "store 16 of 64 dims, re-rank the shortlist" MRL deployment trade,
    and the dimensional twin of [[ann_recall_eval]] (which scores the
    LSH index) and [[embedding_quantize_int8]] (which shrinks width by
    precision instead of dimension).  Reference analog: none
    (LLM-pipeline surface per the brief; per Kusupati et al.'s
    Matryoshka representation learning).

    Exactness: both top-k lists use round(cosine, 6) with a vec_id
    tiebreak — total orders, so the set intersection and the ppm
    recall are exact integers.

    Scale shape: inherits [[ann_bruteforce_topk]]'s documented exact
    cross product on BOTH sides (probe set fixed at {N_QUERIES}
    queries — the calibration budget); the truncated pass reads only
    the first {MRL_DIMS} components in-row.  Production swaps the
    brute-force sides for the IVF/LSH index probes and keeps this
    op as the ground-truth calibration.
    """
    from pyspark.sql.window import Window

    def topk(dot_fn, nrm_col: str, base: DataFrame) -> DataFrame:
        q = base.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col(nrm_col).alias("q_nrm"),
        )
        c = base.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_emb"),
            F.col(nrm_col).alias("c_nrm"),
        )
        cos = F.round(
            dot_fn(F.col("q_emb"), F.col("c_emb"))
            / (F.col("q_nrm") * F.col("c_nrm")),
            6,
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        return (
            q.join(c, F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", cos.alias("cosine"))
            .select(
                "query_id",
                "neighbor_id",
                F.row_number().over(w).alias("rk"),
            )
            .filter(F.col("rk") <= MRL_K)
            .select("query_id", "neighbor_id")
        )

    def trunc_dot(a, b):
        return spark_dot(F.slice(a, 1, MRL_DIMS), F.slice(b, 1, MRL_DIMS))

    norms = _norms(spark, sf_dir)
    # Zero-truncated-norm guard: a vector whose first MRL_DIMS components
    # are all zero has tnrm = 0, and 0/0 diverges across engines (Spark
    # non-ANSI NULL vs DuckDB inf/error) — drop such vectors from the
    # truncated side in BOTH engines (the oracle's tnorms CTE mirrors it).
    tnorms = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "embedding",
            F.sqrt(trunc_dot(F.col("embedding"), F.col("embedding"))).alias("tnrm"),
        )
        .filter(F.col("tnrm") > 0)
    )
    full_top = topk(spark_dot, "nrm", norms)
    trunc_top = topk(trunc_dot, "tnrm", tnorms).withColumnRenamed(
        "neighbor_id", "t_neighbor_id"
    )
    return (
        full_top.join(
            trunc_top,
            (full_top.query_id == trunc_top.query_id)
            & (F.col("neighbor_id") == F.col("t_neighbor_id")),
            "left",
        )
        .groupBy(full_top.query_id)
        .agg(
            F.count("t_neighbor_id").cast("long").alias("n_hits"),
            F.expr(
                f"CAST(count(t_neighbor_id) * 1000000 div {MRL_K} AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


# --- Round 9: graded ranking eval (nDCG@K / MRR@K) ----------------------
#
# Discount literals floor(1e6 / log2(rank+1)) and their prefix sums are
# baked ONCE in Python and embedded as the same integers in both
# engines, so DCG is exact integer arithmetic — no float sum whose
# order could differ across engines or partitionings.
NDCG_K = 10
NDCG_DISC_MICRO = (
    1000000, 630929, 500000, 430676, 386852,
    356207, 333333, 315464, 301029, 289064,
)
_NDCG_PREFIX = tuple(
    sum(NDCG_DISC_MICRO[:k]) for k in range(NDCG_K + 1)
)  # (0, 1000000, 1630929, ...)
_SQL_DISC = "[" + ", ".join(str(d) for d in NDCG_DISC_MICRO) + "]"
_SQL_PREFIX = "[" + ", ".join(str(p) for p in _NDCG_PREFIX) + "]"
_SQL_GAIN = "(CASE rel WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END)"


@register(
    "ndcg_ranking_eval",
    oracle_sql=f"""
    WITH {_SQL_NORMS},
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({SQL_DOT.format(a="q.embedding", b="c.embedding")}
                   / (q.nrm * c.nrm), 6) AS cosine,
             CASE WHEN c.label = q.label THEN 2
                  WHEN abs(c.label - q.label) = 1 THEN 1
                  ELSE 0 END AS rel
      FROM norms q JOIN norms c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rnk
      FROM scored
    ),
    topk AS (
      SELECT query_id,
             sum({_SQL_GAIN} * list_extract({_SQL_DISC}, CAST(rnk AS INTEGER))) AS dcg_micro,
             min(CASE WHEN rel > 0 THEN rnk END) AS first_rel_rank,
             sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS n_rel_at_k
      FROM ranked WHERE rnk <= {NDCG_K} GROUP BY query_id
    ),
    cnt AS (
      SELECT query_id,
             sum(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS n2,
             sum(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS n1
      FROM scored GROUP BY query_id
    ),
    idcg AS (
      SELECT t.query_id, t.dcg_micro, t.first_rel_rank, t.n_rel_at_k,
             3 * list_extract({_SQL_PREFIX}, CAST(least(c.n2, {NDCG_K}) + 1 AS INTEGER))
             + (list_extract({_SQL_PREFIX}, CAST(least(c.n2 + c.n1, {NDCG_K}) + 1 AS INTEGER))
                - list_extract({_SQL_PREFIX}, CAST(least(c.n2, {NDCG_K}) + 1 AS INTEGER)))
               AS idcg_micro
      FROM topk t JOIN cnt c USING (query_id)
    )
    SELECT query_id,
           CAST(dcg_micro AS BIGINT) AS dcg_micro,
           CAST(idcg_micro AS BIGINT) AS idcg_micro,
           CAST(CASE WHEN idcg_micro > 0
                THEN dcg_micro * 1000000 // idcg_micro ELSE 0 END AS BIGINT)
             AS ndcg_ppm,
           CAST(coalesce(1000000 // first_rel_rank, 0) AS BIGINT) AS mrr_micro,
           CAST(n_rel_at_k AS BIGINT) AS n_rel_at_k
    FROM idcg
    """,
    tags=("similarity", "eval", "ranking", "ndcg", "pipeline"),
)
def ndcg_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded retrieval-quality eval: nDCG@{NDCG_K} and MRR@{NDCG_K}
    per probe query over the exact cosine ranking, with graded
    relevance from label distance (same label = 2, adjacent = 1) — the
    eval loop that grades [[ann_lsh_bucketed]]/[[ann_ivf_coarse]]-class
    retrieval beyond [[ann_recall_eval]]'s binary overlap.  The ideal
    DCG comes from the FULL candidate relevance counts (best possible
    ordering truncated at K), computed from prefix-sum literals — no
    second ranking pass.  All discounts are integer micro-units baked
    identically into both engines; nDCG is a single ppm floor division.

    Scale shape: identical to [[ann_bruteforce_topk]] — the bounded
    probe set broadcasts against the distributed corpus, per-query
    ranking is a window top-k, and the relevance counts fold into the
    SAME per-query grain (a {N_QUERIES}-row broadcast join).  Swapping
    the exact ranker for a celled ANN ranker changes one upstream CTE,
    not the eval.

    Reference analog: none (LLM-pipeline eval surface per the brief).
    """
    norms = _norms(spark, sf_dir)
    q = norms.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = norms.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    cos = F.round(
        spark_dot(F.col("q_emb"), F.col("c_emb"))
        / (F.col("q_nrm") * F.col("c_nrm")),
        6,
    )
    rel = (
        F.when(F.col("c_label") == F.col("q_label"), 2)
        .when(F.abs(F.col("c_label") - F.col("q_label")) == 1, 1)
        .otherwise(0)
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"), rel.alias("rel"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    ranked = scored.select("*", F.row_number().over(w).alias("rnk"))
    disc = F.array(*[F.lit(d) for d in NDCG_DISC_MICRO])
    gain = F.expr(_SQL_GAIN)
    in_k = F.col("rnk") <= NDCG_K
    # ONE conditional aggregate over the ranked table serves both the
    # top-K metrics and the full-candidate relevance counts — the rank
    # window and the groupBy share the query_id exchange, and the
    # scoring pass runs once (a topk/counts branch pair would rescore
    # the corpus twice).
    per_q = ranked.groupBy("query_id").agg(
        F.sum(
            F.when(in_k, gain * F.element_at(disc, F.col("rnk"))).otherwise(0)
        ).alias("dcg_micro"),
        F.min(F.when((F.col("rel") > 0) & in_k, F.col("rnk"))).alias(
            "first_rel_rank"
        ),
        F.sum(F.when((F.col("rel") > 0) & in_k, 1).otherwise(0)).alias(
            "n_rel_at_k"
        ),
        F.sum(F.when(F.col("rel") == 2, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("rel") == 1, 1).otherwise(0)).alias("n1"),
    )
    prefix = F.array(*[F.lit(p) for p in _NDCG_PREFIX])
    p_n2 = F.element_at(prefix, (F.least(F.col("n2"), F.lit(NDCG_K)) + 1).cast("int"))
    p_n21 = F.element_at(
        prefix, (F.least(F.col("n2") + F.col("n1"), F.lit(NDCG_K)) + 1).cast("int")
    )
    return (
        per_q.withColumn("idcg_micro", F.lit(3) * p_n2 + (p_n21 - p_n2))
        .select(
            "query_id",
            F.col("dcg_micro").cast("long").alias("dcg_micro"),
            F.col("idcg_micro").cast("long").alias("idcg_micro"),
            F.when(
                F.col("idcg_micro") > 0,
                F.expr("dcg_micro * 1000000 div idcg_micro"),
            )
            .otherwise(0)
            .cast("long")
            .alias("ndcg_ppm"),
            F.coalesce(
                F.expr("1000000 div first_rel_rank"), F.lit(0)
            )
            .cast("long")
            .alias("mrr_micro"),
            F.col("n_rel_at_k").cast("long").alias("n_rel_at_k"),
        )
    )


# --- Round 9: kNN classification eval + k-center coreset ----------------
KNN_N_QUERIES = 50  # held-out probe budget (fixed, corpus-independent)
KNN_K = 5


@register(
    "knn_classification_eval",
    oracle_sql=f"""
    WITH {_SQL_NORMS},
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS true_label,
             c.vec_id AS neighbor_id, c.label AS c_label,
             round({SQL_DOT.format(a="q.embedding", b="c.embedding")}
                   / (q.nrm * c.nrm), 6) AS cosine
      FROM norms q JOIN norms c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {KNN_N_QUERIES} AND c.vec_id >= {KNN_N_QUERIES}
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rnk
      FROM scored
    ),
    votes AS (
      SELECT query_id, true_label, c_label, count(*) AS v
      FROM ranked WHERE rnk <= {KNN_K}
      GROUP BY query_id, true_label, c_label
    ),
    pred AS (
      SELECT query_id, true_label, c_label AS pred_label
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY v DESC, c_label ASC) AS pr
            FROM votes)
      WHERE pr = 1
    )
    SELECT true_label, pred_label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN true_label = pred_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM pred
    GROUP BY true_label, pred_label
    """,
    tags=("similarity", "eval", "knn", "classification", "pipeline"),
)
def knn_classification_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classifier eval: each of the {KNN_N_QUERIES} held-out probe
    vectors is labeled by the majority label of its {KNN_K} nearest
    corpus neighbors (exact cosine; vote ties break to the smaller
    label, rank ties to the smaller id), and the output is the
    confusion table (true_label, pred_label, n) — the
    label-consistency eval that grades an embedding space for
    classification the way [[ndcg_ranking_eval]] grades it for
    ranking, and the neighborhood-consensus signal label-noise
    screens are built on.  The probe set is EXCLUDED from the
    neighbor corpus (held-out, no self-leakage).

    Scale shape: the [[ann_bruteforce_topk]] pattern — a fixed
    {KNN_N_QUERIES}-probe broadcast against the distributed corpus,
    per-query window top-k, then two bounded aggregates (votes, then
    the label-domain confusion cells).  Swap the exact ranker for the
    celled ANN to trade recall for a candidate cut; the vote and
    confusion stages are unchanged.

    Reference analog: none (LLM-pipeline eval surface per the brief).
    """
    norms = _norms(spark, sf_dir)
    q = norms.filter(F.col("vec_id") < KNN_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = norms.filter(F.col("vec_id") >= KNN_N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    cos = F.round(
        spark_dot(F.col("q_emb"), F.col("c_emb"))
        / (F.col("q_nrm") * F.col("c_nrm")),
        6,
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "true_label", "neighbor_id", "c_label", cos.alias("cosine")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    votes = (
        scored.select("*", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= KNN_K)
        .groupBy("query_id", "true_label", "c_label")
        .agg(F.count("*").alias("v"))
    )
    w_v = Window.partitionBy("query_id").orderBy(
        F.desc("v"), F.asc("c_label")
    )
    pred = (
        votes.select("*", F.row_number().over(w_v).alias("pr"))
        .filter(F.col("pr") == 1)
        .select("query_id", "true_label", F.col("c_label").alias("pred_label"))
    )
    return pred.groupBy("true_label", "pred_label").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.when(F.col("true_label") == F.col("pred_label"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
    )


K_CENTERS = 8  # coreset size (maximin / farthest-point traversal)


def _kcenter_oracle() -> str:
    """Unrolled fixed-K farthest-point traversal in DuckDB SQL — the
    [[graph_pagerank_nations]] unrolling idiom: each round takes the
    argmax-of-min-distance row and relaxes every point's distance
    against it.  Distances are the shared fold-order dot product, so
    every double is bit-identical to the Spark plan's."""
    dot_pc = SQL_DOT.format(a="p.embedding", b="c.embedding")
    ctes = [
        "pts AS (SELECT vec_id, embedding, "
        + SQL_DOT.format(a="embedding", b="embedding")
        + " AS n2 FROM embeddings)",
        "c0 AS (SELECT vec_id, embedding, n2 FROM pts ORDER BY vec_id LIMIT 1)",
        f"d1 AS (SELECT p.vec_id, p.embedding, p.n2,"
        f" p.n2 + c.n2 - 2 * {dot_pc} AS md FROM pts p CROSS JOIN c0 c)",
    ]
    sel = ["SELECT 0 AS round, vec_id, 0.0 AS min_dist_r6 FROM c0"]
    for r in range(1, K_CENTERS):
        ctes.append(
            f"c{r} AS (SELECT vec_id, embedding, n2, md FROM d{r}"
            f" ORDER BY md DESC, vec_id ASC LIMIT 1)"
        )
        sel.append(
            f"SELECT {r} AS round, vec_id, round(md, 6) AS min_dist_r6 FROM c{r}"
        )
        if r < K_CENTERS - 1:
            ctes.append(
                f"d{r + 1} AS (SELECT p.vec_id, p.embedding, p.n2,"
                f" least(p.md, p.n2 + c.n2 - 2 * {dot_pc}) AS md"
                f" FROM d{r} p CROSS JOIN c{r} c)"
            )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    "
        + "\n    UNION ALL ".join(sel)
    )


@register(
    "kcenter_greedy_coreset",
    oracle_sql=_kcenter_oracle(),
    tags=("similarity", "coreset", "sampling", "iterative", "pipeline"),
)
def kcenter_greedy_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center greedy (farthest-point traversal) coreset selection:
    starting from the lowest id, each of {K_CENTERS} rounds picks the
    vector FARTHEST (max over points of min squared L2 distance to the
    chosen set) from everything chosen so far — the classic 2-approx
    maximin cover used for diverse training-data selection and
    active-learning coresets (Sener & Savarese's core-set approach),
    and the diversity-first complement to [[cluster_capped_diversity_
    sample]]'s density capping.  Output: (round, vec_id, min_dist) per
    selected center — the selection trace, with each center's coverage
    radius.

    Determinism: distances are the shared sequential-fold dot product
    (bit-identical doubles in both engines), argmax ties break to the
    smaller id, and only the OUTPUT distance is rounded.

    Scale shape: each round is one in-row distance relax against a
    1-row broadcast center plus a TakeOrdered(1) argmax — no shuffle
    beyond the top-1 reduction; the distance table is localCheckpoint-
    truncated per round exactly like [[graph_bfs_distances]]' frontier
    (lazy chains double per round otherwise).  K corpus passes total,
    embarrassingly parallel; at a billion vectors the same loop holds
    with the checkpoint on reliable storage, or the relax fuses into
    [[ann_ivf_coarse]] cells for a sub-scan variant.

    r13 optimization note — alternative MEASURED AND REJECTED: driving
    the loop with collected centers as literal arrays (one checkpoint
    total, 1 job/round, min-over-centers as one least()) was ~0.5 s
    SLOWER at sf0.1 — round r's plan carries r x 64 literal doubles
    and pays analysis/codegen per round, outweighing the saved
    checkpoint of this node-bounded table.  The incremental
    checkpointed relax below is the measured best.

    Reference analog: none (LLM-pipeline surface per the brief).
    """
    pts = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        spark_dot(F.col("embedding"), F.col("embedding")).alias("n2"),
    )
    c = pts.orderBy("vec_id").limit(1).localCheckpoint()

    def relax(d: DataFrame, center: DataFrame) -> DataFrame:
        cc = F.broadcast(
            center.select(
                F.col("embedding").alias("c_emb"), F.col("n2").alias("c_n2")
            )
        )
        dist = (
            F.col("n2")
            + F.col("c_n2")
            - F.lit(2.0) * spark_dot(F.col("embedding"), F.col("c_emb"))
        )
        base = d.crossJoin(cc)
        md = dist if "md" not in d.columns else F.least(F.col("md"), dist)
        return base.select(
            "vec_id", "embedding", "n2", md.alias("md")
        ).localCheckpoint()

    out = c.select(
        F.lit(0).cast("long").alias("round"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.lit(0.0).alias("min_dist_r6"),
    )
    d = relax(pts, c)
    for r in range(1, K_CENTERS):
        cr = d.orderBy(F.desc("md"), F.asc("vec_id")).limit(1).localCheckpoint()
        out = out.unionByName(
            cr.select(
                F.lit(r).cast("long").alias("round"),
                F.col("vec_id").cast("long").alias("vec_id"),
                F.round("md", 6).alias("min_dist_r6"),
            )
        )
        if r < K_CENTERS - 1:
            d = relax(d, cr)
    return out


# --- Round 10: weighted sparse-cosine pairs (DAAT postings join) ----------
#
# Term-at-a-time sparse similarity: tf/df-weighted document vectors
# (idf as exact 1/df — no transcendental log, so weights are pure
# integers: w_milli = tf * 1000 div df), document norms as IEEE sqrt of
# integer sums (bit-exact both engines), pair dot products via the
# postings self-join.  The working vocabulary drops terms with df >
# TFIDF_DF_CAP (stop-like postings — the classic DAAT posting-length
# prune), which bounds per-term pair fan-out at DF_CAP^2.
TFIDF_DF_CAP = 40
TFIDF_COS_MIN_PPM = 200_000


@register(
    "tfidf_cosine_pairs",
    oracle_sql="""
    WITH toks AS (
      SELECT doc_id, {tok} AS ts FROM documents
    ),
    tf AS (
      SELECT doc_id, t AS term, count(*) AS tf
      FROM (SELECT doc_id,
                   unnest(list_transform(
                     list_filter(ts, (t, i) -> i < len(ts)),
                     (t, i) -> t || ' ' || ts[i + 1])) AS t
            FROM toks)
      GROUP BY doc_id, t
    ),
    df AS (
      SELECT term, count(*) AS df FROM tf
      GROUP BY term HAVING count(*) <= {cap}
    ),
    w AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * 1000 // df.df AS w_milli
      FROM tf JOIN df USING (term)
    ),
    norms AS (
      SELECT doc_id, sum(w_milli * w_milli) AS ssq
      FROM w GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             sum(a.w_milli * b.w_milli) AS dot,
             count(*) AS n_shared_terms
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d.doc_a, d.doc_b,
           CAST(d.n_shared_terms AS BIGINT) AS n_shared_terms,
           CAST(d.dot AS BIGINT) AS dot,
           CAST(floor(d.dot * 1000000.0 / (sqrt(na.ssq) * sqrt(nb.ssq)))
                AS BIGINT) AS cosine_ppm
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_a
    JOIN norms nb ON nb.doc_id = d.doc_b
    WHERE d.n_shared_terms >= 2
      AND floor(d.dot * 1000000.0 / (sqrt(na.ssq) * sqrt(nb.ssq)))
          >= {minppm}
    """.format(
        tok="list_transform(list_filter(string_split_regex(text,"
        " '[^a-zA-Z0-9]+'), t -> t <> ''),"
        " t -> lower(substr(t, 1, 255)))",
        cap=TFIDF_DF_CAP,
        minppm=TFIDF_COS_MIN_PPM,
    ),
    tags=("similarity", "tfidf", "sparse", "pipeline"),
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sparse-cosine document pairs — the term-keyed (DAAT)
    sparse companion to [[dedup_embedding_cosine]]'s dense path and
    [[set_similarity_prefix_join]]'s unweighted Jaccard: tf/df-weighted
    vectors (idf frozen as exact 1/df, no log), cosine >=
    {TFIDF_COS_MIN_PPM} ppm with >= 2 shared terms (a single shared
    hapax makes a trivially-colinear pair) via postings self-join.  Weights are pure
    integers, norms are IEEE sqrt of integer sums, and the final ratio
    is floor-frozen — bit-equal across engines.

    Scale shape: tf and df are map-side-combined keyed aggregates; the
    df > {TFIDF_DF_CAP} posting cap removes stop-like terms BEFORE the
    pair stage (the DAAT prune), bounding per-term fan-out at
    {TFIDF_DF_CAP}^2; the dot-product join is term-keyed equi (never
    all-pairs), the norm joins doc-keyed equi.  At web scale the cap
    is the knob: shuffle volume is sum(df^2) over the kept vocabulary.

    Reference analog: none (LLM-pipeline similarity surface).
    """
    from mapreduce_c_implementation_spark.functions.text import tokenize

    d = load_table(spark, sf_dir, "documents")
    bigrams = F.expr(
        "transform(slice(ts, 1, greatest(size(ts) - 1, 0)),"
        " (t, i) -> concat(t, ' ', element_at(ts, i + 2)))"
    )
    tf = (
        d.select("doc_id", tokenize(F.col("text")).alias("ts"))
        .select("doc_id", F.explode(bigrams).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_t = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= TFIDF_DF_CAP)
    )
    w = tf.join(df_t, "term").select(
        "doc_id", "term", F.expr("tf * 1000 div df").alias("w_milli")
    ).cache()  # kept-vocabulary postings: feed norms AND both join sides
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("w_milli") * F.col("w_milli")).alias("ssq")
    )
    a = w.select(
        F.col("term"), F.col("doc_id").alias("doc_a"),
        F.col("w_milli").alias("wa"),
    )
    b = w.select(
        F.col("term"), F.col("doc_id").alias("doc_b"),
        F.col("w_milli").alias("wb"),
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("wa") * F.col("wb")).alias("dot"),
            F.count("*").alias("n_shared_terms"),
        )
    )
    na = norms.select(
        F.col("doc_id").alias("doc_a"), F.col("ssq").alias("ssq_a")
    )
    nb = norms.select(
        F.col("doc_id").alias("doc_b"), F.col("ssq").alias("ssq_b")
    )
    cos = F.expr(
        "floor(dot * 1000000.0 / (sqrt(ssq_a) * sqrt(ssq_b)))"
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter((F.col("n_shared_terms") >= 2) & (cos >= TFIDF_COS_MIN_PPM))
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared_terms").cast("long").alias("n_shared_terms"),
            F.col("dot").cast("long").alias("dot"),
            cos.cast("long").alias("cosine_ppm"),
        )
    )


# --- Round 10b: E2LSH (p-stable Euclidean LSH) near-pair search ------------
#
# The L2-metric member of the LSH family: project on E2_LINES fixed
# ±1 lines, quantize each projection into width-E2_W cells with a
# staggered per-line offset, and candidate ONLY pairs agreeing on the
# full cell signature; exact L2 verifies.  Complements the
# sign-bit (cosine) LSH of ann_lsh_bucketed — quantized cells bound
# EUCLIDEAN distance, the metric PQ/IVF also operate in.  The line rule
# is functions/vector.py::e2_rule.
E2_LINES = 4
E2_W = 2.0
E2_EPS = 1.2
E2_RULES = [e2_rule(j) for j in range(E2_LINES)]

_E2_BUCKETS_SQL = ", ".join(
    f"CAST(floor(({r.sql_dot('embedding')} + {j * E2_W / E2_LINES!r}) "
    f"/ {E2_W!r}) AS BIGINT) AS b{j}"
    for j, r in enumerate(E2_RULES)
)


@register(
    "lsh_euclidean_e2lsh",
    oracle_sql=f"""
    WITH {_SQL_NORMS},
    cells AS (
      SELECT vec_id, embedding, nrm, {_E2_BUCKETS_SQL}
      FROM norms
    ),
    cand AS (
      SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
             sqrt(a.nrm * a.nrm + b.nrm * b.nrm
                  - 2 * {SQL_DOT.format(a="a.embedding", b="b.embedding")})
               AS l2
      FROM cells a JOIN cells b
        ON a.b0 = b.b0 AND a.b1 = b.b1 AND a.b2 = b.b2 AND a.b3 = b.b3
       AND a.vec_id < b.vec_id
    )
    SELECT vec_id_a, vec_id_b, round(l2, 6) AS l2_r6
    FROM cand WHERE l2 <= {E2_EPS!r}
    """,
    tags=("similarity", "lsh", "dedup-adjacent"),
)
def lsh_euclidean_e2lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean near-pair search via p-stable-style E2LSH: each vector
    hashes to a {E2_LINES}-cell signature (±1-line projection,
    width-{E2_W} quantization, staggered offsets), candidates share the
    FULL signature (an equi-join on the cell tuple — never all-pairs),
    and exact L2 (computed from norms + the shared sequential-fold dot,
    bit-identical doubles in both engines) keeps pairs within
    {E2_EPS}.  The L2-metric sibling of [[ann_lsh_bucketed]]'s sign-bit
    cosine hash and the candidate generator a Euclidean
    [[dedup_embedding_cosine]]-style near-dup pass would use.

    Scale shape: signature build is in-row (one corpus pass); the
    candidate join is an equi-join on the cell key, so cost follows
    bucket occupancy, not n² — on this fixture ~4.5% of all pairs are
    candidates at every sf.  At 100 TB the standard knobs (more lines,
    narrower W, multi-table OR-construction) trade recall for bucket
    size exactly as in the LSH literature; cells route shards like
    [[ann_ivf_coarse]].

    Reference analog: none (LLM-pipeline surface per the brief).
    """
    pts = _norms(spark, sf_dir)
    cells = pts.select(
        "vec_id",
        "embedding",
        "nrm",
        *[
            F.floor(
                (r.spark_dot(F.col("embedding")) + F.lit(j * E2_W / E2_LINES))
                / F.lit(E2_W)
            )
            .cast("long")
            .alias(f"b{j}")
            for j, r in enumerate(E2_RULES)
        ],
    )
    a = cells.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        *[F.col(f"b{j}") for j in range(E2_LINES)],
    )
    b = cells.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        *[F.col(f"b{j}") for j in range(E2_LINES)],
    )
    cand = a.join(b, [f"b{j}" for j in range(E2_LINES)]).filter(
        F.col("vec_id_a") < F.col("vec_id_b")
    )
    l2 = F.sqrt(
        F.col("nrm_a") * F.col("nrm_a")
        + F.col("nrm_b") * F.col("nrm_b")
        - F.lit(2.0) * spark_dot(F.col("emb_a"), F.col("emb_b"))
    )
    return (
        cand.withColumn("l2", l2)
        .filter(F.col("l2") <= E2_EPS)
        .select("vec_id_a", "vec_id_b", F.round("l2", 6).alias("l2_r6"))
    )


# --- Round 10b: MMR diverse re-ranking -------------------------------------
#
# Maximal Marginal Relevance (Carbonell & Goldstein 1998): greedy
# re-ranking that trades relevance against redundancy —
# argmax lambda*rel - (1-lambda)*max_sim_to_selected.  All scores are
# micro-rounded cosines, and the MMR objective is kept as the pure
# integer 700*rel - 300*maxsim (lambda = 0.7 in milli, NO division —
# Spark's truncating `div` and DuckDB's flooring `//` diverge on
# negatives, so negative-capable scores must never be divided).
MMR_QUERY_ID = 0
MMR_N = 20
MMR_K = 8
MMR_LAMBDA_MILLI = 700


def _mmr_oracle() -> str:
    """Unrolled greedy MMR in DuckDB SQL — every round CTE MATERIALIZED
    (each is referenced multiple times; default inlining would
    re-expand the chain exponentially, the _hits_oracle lesson)."""
    head = f"""q AS MATERIALIZED (
      SELECT embedding, nrm FROM norms WHERE vec_id = {MMR_QUERY_ID}
    ),
    cand AS MATERIALIZED (
      SELECT c.vec_id,
             CAST(round({SQL_DOT.format(a="q.embedding", b="c.embedding")}
                   / (q.nrm * c.nrm) * 1000000) AS BIGINT) AS rel
      FROM norms c, q WHERE c.vec_id <> {MMR_QUERY_ID}
      ORDER BY rel DESC, c.vec_id ASC LIMIT {MMR_N}
    ),
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             CAST(round({SQL_DOT.format(a="na.embedding", b="nb.embedding")}
                   / (na.nrm * nb.nrm) * 1000000) AS BIGINT) AS sim
      FROM cand a JOIN norms na ON na.vec_id = a.vec_id
      JOIN cand b ON b.vec_id <> a.vec_id
      JOIN norms nb ON nb.vec_id = b.vec_id
    ),
    sel1 AS MATERIALIZED (
      SELECT 1 AS round, vec_id, rel,
             CAST({MMR_LAMBDA_MILLI} AS BIGINT) * rel AS mmr_scaled
      FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1
    ),
    selall1 AS MATERIALIZED (SELECT * FROM sel1)"""
    ctes = [head]
    for k in range(2, MMR_K + 1):
        ctes.append(
            f"""m{k} AS MATERIALIZED (
      SELECT c.vec_id, c.rel, max(p.sim) AS ms
      FROM cand c
      JOIN pairs p ON p.ia = c.vec_id
      JOIN selall{k - 1} s ON s.vec_id = p.ib
      WHERE c.vec_id NOT IN (SELECT vec_id FROM selall{k - 1})
      GROUP BY c.vec_id, c.rel
    ),
    sel{k} AS MATERIALIZED (
      SELECT {k} AS round, vec_id, rel,
             {MMR_LAMBDA_MILLI} * rel
             - {1000 - MMR_LAMBDA_MILLI} * ms AS mmr_scaled
      FROM m{k}
      ORDER BY mmr_scaled DESC, vec_id ASC LIMIT 1
    ),
    selall{k} AS MATERIALIZED (
      SELECT * FROM selall{k - 1} UNION ALL SELECT * FROM sel{k}
    )"""
        )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {_SQL_NORMS},
    {chain}
    SELECT CAST(round AS BIGINT) AS round, vec_id, rel AS rel_micro,
           CAST(mmr_scaled AS BIGINT) AS mmr_scaled
    FROM selall{MMR_K}
    """


@register(
    "mmr_diverse_reranking",
    oracle_sql=_mmr_oracle(),
    tags=("similarity", "ranking", "iterative", "pipeline"),
)
def mmr_diverse_reranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: the top-{MMR_N} cosine
    candidates for probe vector {MMR_QUERY_ID} are greedily re-ranked
    for {MMR_K} rounds by mmr = {MMR_LAMBDA_MILLI}*rel -
    {1000 - MMR_LAMBDA_MILLI}*max_sim_to_selected (milli-lambda,
    micro-cosines; round 1 is pure relevance) — the classic
    redundancy-aware reordering a RAG retriever applies after
    [[ann_bruteforce_topk]], and the per-query complement to
    [[cluster_capped_diversity_sample]]'s corpus-level diversity cap.
    Output: the selection trace (round, id, relevance, MMR score).

    Exactness: cosines are micro-rounded from bit-identical doubles;
    the objective is PURE integer arithmetic with no division
    (Spark `div` truncates toward zero, DuckDB `//` floors — on the
    negative-capable MMR score that would silently diverge, so the
    lambda mix stays cross-multiplied).  Ties break to the smaller id.

    Scale shape: candidate generation is the distributed top-k
    (TakeOrdered); the greedy loop then runs on a {MMR_N}-row
    localCheckpoint'd table with a {MMR_N}x{MMR_N} sim matrix — per
    round one keyed join + aggregate + TakeOrdered(1), independent of
    corpus size.  At 100 TB only the candidate scan grows.

    Reference analog: none (LLM-pipeline surface per the brief).
    """
    pts = _norms(spark, sf_dir)
    q = F.broadcast(
        pts.filter(F.col("vec_id") == MMR_QUERY_ID).select(
            F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm")
        )
    )
    cand = (
        pts.filter(F.col("vec_id") != MMR_QUERY_ID)
        .crossJoin(q)
        .select(
            "vec_id",
            "embedding",
            "nrm",
            F.round(
                spark_dot(F.col("embedding"), F.col("q_emb"))
                / (F.col("q_nrm") * F.col("nrm"))
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_N)
        .localCheckpoint()
    )
    ca = cand.select(
        F.col("vec_id").alias("ia"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    cb = cand.select(
        F.col("vec_id").alias("ib"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = (
        ca.join(cb, F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            F.round(
                spark_dot(F.col("ea"), F.col("eb"))
                / (F.col("na") * F.col("nb"))
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("sim"),
        )
        .localCheckpoint()
    )
    sel = (
        cand.orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(1)
        .select(
            F.lit(1).cast("long").alias("round"),
            "vec_id",
            "rel",
            (F.lit(MMR_LAMBDA_MILLI).cast("long") * F.col("rel")).alias(
                "mmr_scaled"
            ),
        )
        .localCheckpoint()
    )
    for k in range(2, MMR_K + 1):
        # chosen is <= MMR_K rows (a bounded constant) but checkpointed
        # tables carry no stats, so both chosen-joins would plan as
        # sort-merge with exchanges on every side — broadcast explicitly
        # (guide §3.1); the candidate x pairs join stays keyed.
        chosen = F.broadcast(sel.select("vec_id"))
        m = (
            cand.join(chosen, "vec_id", "left_anti")
            .join(pairs, F.col("vec_id") == F.col("ia"))
            .join(chosen.withColumnRenamed("vec_id", "ib"), "ib")
            .groupBy("vec_id", "rel")
            .agg(F.max("sim").alias("ms"))
        )
        pick = (
            m.select(
                F.lit(k).cast("long").alias("round"),
                "vec_id",
                "rel",
                (
                    F.lit(MMR_LAMBDA_MILLI) * F.col("rel")
                    - F.lit(1000 - MMR_LAMBDA_MILLI) * F.col("ms")
                )
                .cast("long")
                .alias("mmr_scaled"),
            )
            .orderBy(F.desc("mmr_scaled"), F.asc("vec_id"))
            .limit(1)
        )
        sel = sel.unionByName(pick).localCheckpoint()
    return sel.select("round", "vec_id", F.col("rel").alias("rel_micro"), "mmr_scaled")


# --- Round 10b: grid-based DBSCAN clustering -------------------------------
#
# Density clustering in the Spark-friendly GRID formulation: quantize
# the (first two) embedding coordinates into square cells, call a cell
# DENSE when it holds >= DBSCAN_MIN_PTS points, and cluster = connected
# component of dense cells under 8-neighborhood adjacency; points in
# sparse cells are NOISE.  This is the scalable approximation of
# point-wise DBSCAN (eps ~ cell diagonal): all-pairs range queries
# become one groupBy + a 9-offset keyed self-join on cell ids.
DBSCAN_CELL = 0.04
DBSCAN_MIN_PTS = 4
DBSCAN_CC_ROUNDS = 32


@register(
    "dbscan_grid_clusters",
    oracle_sql=f"""
    WITH RECURSIVE pts AS (
      SELECT vec_id,
             CAST(floor(CAST(embedding[1] AS DOUBLE) / {DBSCAN_CELL!r})
                  AS BIGINT) AS ci,
             CAST(floor(CAST(embedding[2] AS DOUBLE) / {DBSCAN_CELL!r})
                  AS BIGINT) AS cj
      FROM embeddings
    ),
    cells AS (SELECT ci, cj, count(*) AS n FROM pts GROUP BY ci, cj),
    dense AS (
      SELECT ci, cj, n,
             CAST(row_number() OVER (ORDER BY ci, cj) AS BIGINT) AS cid
      FROM cells WHERE n >= {DBSCAN_MIN_PTS}
    ),
    nbr AS (
      SELECT a.cid AS ca, b.cid AS cb
      FROM dense a JOIN dense b
        ON b.ci BETWEEN a.ci - 1 AND a.ci + 1
       AND b.cj BETWEEN a.cj - 1 AND a.cj + 1
    ),
    reach(cid, lab) AS (
      SELECT cid, cid FROM dense
      UNION
      SELECT n.cb, r.lab FROM reach r JOIN nbr n ON n.ca = r.cid
    ),
    labs AS (SELECT cid, min(lab) AS cluster_id FROM reach GROUP BY cid)
    SELECT p.vec_id, p.ci, p.cj,
           CAST(COALESCE(l.cluster_id, -1) AS BIGINT) AS cluster_id,
           CAST(CASE WHEN d.cid IS NULL THEN 1 ELSE 0 END AS BIGINT) AS noise
    FROM pts p
    LEFT JOIN dense d ON d.ci = p.ci AND d.cj = p.cj
    LEFT JOIN labs l ON l.cid = d.cid
    """,
    tags=("similarity", "clustering", "iterative", "pipeline"),
)
def dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-based DBSCAN over the embedding's leading 2-D projection:
    width-{DBSCAN_CELL} cells, a cell is DENSE at >= {DBSCAN_MIN_PTS}
    points, clusters are 8-neighborhood connected components of dense
    cells (labeled by the minimum dense-cell rank), sparse-cell points
    are noise (cluster_id -1) — the density-based complement to
    [[kmeans_lloyd]] (no k, finds arbitrary-shaped blobs, isolates
    outliers) and the cluster assigner
    [[cluster_capped_diversity_sample]]-style caps can consume.

    The grid formulation is what makes DBSCAN Spark-shaped: point-
    level eps-range queries become one map-side-combined cell count,
    and adjacency is a 9-offset keyed self-join on the bounded dense-
    cell table.  The CC runs the [[dedup_connected_components]]
    machinery (``functions/iterate.py::propagate``), bounded by
    {DBSCAN_CC_ROUNDS} rounds, while the oracle computes the TRUE
    transitive closure recursively — a loop still changing at its
    bound raises rather than return a partial closure.

    Scale shape: one corpus pass to cells; everything after runs on
    the cell table, which is bounded by the coordinate range /
    {DBSCAN_CELL} — independent of corpus size.  At a billion points
    only the first groupBy grows; the d>2 generalization explodes
    d-dim cell tuples the same way.

    Reference analog: none (LLM-pipeline surface per the brief).
    """
    from pyspark.sql.window import Window

    pts = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.floor(
            F.element_at("embedding", 1).cast("double") / F.lit(DBSCAN_CELL)
        )
        .cast("long")
        .alias("ci"),
        F.floor(
            F.element_at("embedding", 2).cast("double") / F.lit(DBSCAN_CELL)
        )
        .cast("long")
        .alias("cj"),
    )
    cells = pts.groupBy("ci", "cj").agg(F.count("*").alias("n"))
    wd = Window.orderBy("ci", "cj")
    dense = (
        cells.filter(F.col("n") >= DBSCAN_MIN_PTS)
        .select(
            "ci", "cj", F.row_number().over(wd).cast("long").alias("cid")
        )
        .localCheckpoint()
    )
    off = F.explode(
        F.array(
            *[
                F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
                for di in (-1, 0, 1)
                for dj in (-1, 0, 1)
            ]
        )
    ).alias("o")
    probes = dense.select(
        F.col("cid").alias("ca"), "ci", "cj", off
    ).select(
        "ca",
        (F.col("ci") + F.col("o.di")).alias("ci"),
        (F.col("cj") + F.col("o.dj")).alias("cj"),
    )
    # Every table below is DENSE-CELL-bounded (coordinate range /
    # DBSCAN_CELL, independent of corpus size), but localCheckpoint'd
    # tables carry no stats, so the planner would pick SortMergeJoin —
    # broadcast explicitly (guide §3.1; the greedy_set_cover lesson).
    nbr = probes.join(F.broadcast(dense), ["ci", "cj"]).select(
        "ca", F.col("cid").alias("cb")
    ).localCheckpoint()
    labels = dense.select("cid", F.col("cid").alias("lab")).localCheckpoint()
    labels, rounds, converged = propagate(
        labels,
        lambda lab: nbr.join(F.broadcast(lab), nbr.ca == lab.cid).select(
            F.col("cb").alias("cid"), "lab"
        ),
        "cid",
        "lab",
        F.min,
        DBSCAN_CC_ROUNDS,
    )
    record_rounds(
        dbscan_grid_clusters,
        rounds,
        converged,
        f"DBSCAN_CC_ROUNDS={DBSCAN_CC_ROUNDS}",
    )
    return (
        pts.join(F.broadcast(dense), ["ci", "cj"], "left")
        .join(F.broadcast(labels), "cid", "left")
        .select(
            "vec_id",
            "ci",
            "cj",
            F.coalesce(F.col("lab"), F.lit(-1))
            .cast("long")
            .alias("cluster_id"),
            F.when(F.col("cid").isNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("noise"),
        )
    )


# --- Round 10b: exact KNN-Shapley data valuation ---------------------------
#
# Jia et al. (VLDB 2019): for a K-NN utility, the exact Shapley value
# of every training point w.r.t. one test point has the closed-form
# backward recursion over the similarity ranking
#     s_N = ind_N / N
#     s_i = s_{i+1} + (ind_i - ind_{i+1})/K * min(i, K)/i
# (ind = label match).  Summed over a fixed eval set, this prices every
# training example's marginal contribution — the principled version of
# "which data helped", and the valuation signal data-market / pruning
# pipelines rank on.  Everything is rational with positive
# denominators, so each term floor-divides in micro with an explicit
# sign and the recursion becomes an integer suffix sum.
SHAP_K = 5


@register(
    "knn_shapley_valuation",
    oracle_sql=f"""
    WITH {_SQL_NORMS},
    tests AS (
      SELECT vec_id AS tid, label AS tlabel, embedding AS temb, nrm AS tnrm
      FROM norms WHERE vec_id < {N_QUERIES}
    ),
    train AS (
      SELECT vec_id, label, embedding, nrm FROM norms
      WHERE vec_id >= {N_QUERIES}
    ),
    ranked AS (
      SELECT t.tid, tr.vec_id, tr.label,
             CASE WHEN tr.label = t.tlabel THEN 1 ELSE 0 END AS ind,
             row_number() OVER (
               PARTITION BY t.tid
               ORDER BY {SQL_DOT.format(a="t.temb", b="tr.embedding")}
                        / (t.tnrm * tr.nrm) DESC, tr.vec_id ASC) AS i,
             count(*) OVER (PARTITION BY t.tid) AS n
      FROM tests t CROSS JOIN train tr
    ),
    terms AS (
      SELECT tid, vec_id, label, ind, i, n,
             CASE
               WHEN i = n THEN 0
               ELSE (ind - lead(ind) OVER (PARTITION BY tid ORDER BY i))
                    * (1000000 * least(i, {SHAP_K}) // ({SHAP_K} * i))
             END AS term
      FROM ranked
    ),
    suffix AS (
      SELECT tid, vec_id, label, ind, i, n,
             sum(term) OVER (PARTITION BY tid) AS total,
             sum(term) OVER (PARTITION BY tid ORDER BY i) AS cum_incl,
             term,
             max(CASE WHEN i = n THEN ind ELSE 0 END)
               OVER (PARTITION BY tid) AS ind_last
      FROM terms
    ),
    svals AS (
      SELECT tid, vec_id, label,
             CAST(ind_last AS BIGINT) * 1000000 // n
             + (total - cum_incl + term) AS s_micro
      FROM suffix
    )
    SELECT vec_id, CAST(min(label) AS BIGINT) AS label,
           CAST(sum(s_micro) AS BIGINT) AS shapley_micro
    FROM svals GROUP BY vec_id
    """,
    tags=("similarity", "valuation", "eval", "pipeline"),
)
def knn_shapley_valuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact KNN-Shapley data valuation (Jia et al. 2019): every
    training vector's exact Shapley value under the {SHAP_K}-NN
    label-match utility, summed over the {N_QUERIES}-probe eval set —
    the closed-form backward recursion s_i = s_(i+1) +
    (ind_i - ind_(i+1))/K * min(i,K)/i evaluated as an integer suffix
    sum over each test's similarity ranking.  THE principled "which
    training data helped" signal: positively-valued points improve the
    eval set's K-NN accuracy, negative ones actively hurt (typically
    mislabeled/noisy — the valuation twin of
    [[confident_learning_label_noise]]) and are pruning candidates for
    [[dedup_quality_representatives]]-style curation.

    Exactness: every recursion term is a rational with POSITIVE
    denominator K*i, so it floor-divides in micro with the sign
    carried by the label-indicator difference (Spark's truncating
    `div` and DuckDB's flooring `//` agree on non-negative operands
    only — the [[mmr_diverse_reranking]] rule); the backward recursion
    is total - inclusive-prefix + own-term, all exact integers.
    Per-term flooring is the pinned semantics.

    Scale shape: the ranking is the [[ann_bruteforce_topk]] pattern —
    a fixed probe set broadcast against the distributed corpus, ranked
    by test-partitioned windows (WindowGroupLimit does not apply: the
    recursion needs EVERY rank, which is the published algorithm's
    O(N log N) per test).  At 100 TB the eval set stays fixed, so cost
    is eval-size x one corpus sort — and the documented cheap variant
    truncates the recursion at rank M >> K (terms vanish as 1/i),
    turning it into a top-M problem.

    Reference analog: none (LLM-pipeline surface per the brief).
    """
    from pyspark.sql.window import Window

    pts = _norms(spark, sf_dir)
    tests = F.broadcast(
        pts.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("tid"),
            F.col("label").alias("tlabel"),
            F.col("embedding").alias("temb"),
            F.col("nrm").alias("tnrm"),
        )
    )
    train = pts.filter(F.col("vec_id") >= N_QUERIES)
    cos = spark_dot(F.col("temb"), F.col("embedding")) / (
        F.col("tnrm") * F.col("nrm")
    )
    wrank = Window.partitionBy("tid").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    wpart = Window.partitionBy("tid")
    ranked = (
        train.crossJoin(tests)
        .select(
            "tid",
            "vec_id",
            "label",
            F.when(F.col("label") == F.col("tlabel"), 1)
            .otherwise(0)
            .alias("ind"),
            cos.alias("cos"),
        )
        .select(
            "tid",
            "vec_id",
            "label",
            "ind",
            F.row_number().over(wrank).alias("i"),
            F.count("*").over(wpart).alias("n"),
        )
    )
    worder = Window.partitionBy("tid").orderBy("i")
    terms = ranked.select(
        "*",
        F.when(F.col("i") == F.col("n"), F.lit(0))
        .otherwise(
            (F.col("ind") - F.lead("ind").over(worder))
            * F.expr(
                f"1000000 * least(i, {SHAP_K}) div ({SHAP_K} * i)"
            )
        )
        .alias("term"),
    )
    suffix = terms.select(
        "tid",
        "vec_id",
        "label",
        "i",
        "n",
        "term",
        F.sum("term").over(wpart).alias("total"),
        F.sum("term")
        .over(worder.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_incl"),
        F.max(F.when(F.col("i") == F.col("n"), F.col("ind")).otherwise(0))
        .over(wpart)
        .alias("ind_last"),
    )
    svals = suffix.select(
        "tid",
        "vec_id",
        "label",
        (
            F.expr("CAST(ind_last AS BIGINT) * 1000000 div n")
            + (F.col("total") - F.col("cum_incl") + F.col("term"))
        ).alias("s_micro"),
    )
    return svals.groupBy("vec_id").agg(
        F.min("label").cast("long").alias("label"),
        F.sum("s_micro").cast("long").alias("shapley_micro"),
    )


# --- Round 11: ColBERT-style MaxSim late interaction ----------------------
#
# Late-interaction retrieval scores a (query, doc) pair as
# sum over query token-vectors of the MAX dot product against any doc
# token-vector — finer-grained than single-vector cosine, cheaper than
# cross-attention.  The fixture carries one 64-d vector per id, so the
# token sets are its {MAXSIM_SUBS} contiguous 16-d sub-vectors — the
# plumbing (slice -> dot grid -> max -> sum -> top-k) is exactly the
# production shape; swap the slicing for real token embeddings.
MAXSIM_SUBS = 4
MAXSIM_SUBDIM = 16
MAXSIM_QUERIES = 8
MAXSIM_TOPK = 5


def _maxsim_spark() -> Column:
    """The MaxSim score as the SAME structural expression as
    ``_MAXSIM_DUCK`` (sequential-fold dots, greatest, left-to-right
    sum), so doubles stay bit-identical."""

    def sub(col: str, i: int) -> Column:
        return F.slice(F.col(col), i * MAXSIM_SUBDIM + 1, MAXSIM_SUBDIM)

    terms = [
        F.greatest(
            *[
                spark_dot(sub("q_emb", qi), sub("c_emb", ci))
                for ci in range(MAXSIM_SUBS)
            ]
        )
        for qi in range(MAXSIM_SUBS)
    ]
    score = terms[0]
    for t in terms[1:]:
        score = score + t
    return score


def _duck_sub(col: str, i: int) -> str:
    return f"{col}[{i * MAXSIM_SUBDIM + 1}:{(i + 1) * MAXSIM_SUBDIM}]"


_MAXSIM_DUCK = "(" + " + ".join(
    "(greatest("
    + ", ".join(
        SQL_DOT.format(a=_duck_sub("q.embedding", qi), b=_duck_sub("c.embedding", ci))
        for ci in range(MAXSIM_SUBS)
    )
    + "))"
    for qi in range(MAXSIM_SUBS)
) + ")"


@register(
    "maxsim_late_interaction_topk",
    oracle_sql=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             c.label AS neighbor_label,
             CAST(floor({_MAXSIM_DUCK} * 1000) AS BIGINT) AS score_milli
      FROM embeddings q
      JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {MAXSIM_QUERIES}
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY score_milli DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, neighbor_label, score_milli,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {MAXSIM_TOPK}
    """,
    tags=("similarity", "ann", "maxsim", "late-interaction", "pipeline"),
)
def maxsim_late_interaction_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style MaxSim late-interaction top-{MAXSIM_TOPK}: each of
    the {MAXSIM_QUERIES} probe vectors scores every candidate as
    sum over its {MAXSIM_SUBS} sub-vectors of the MAX dot product
    against any candidate sub-vector — the multi-vector retrieval
    operator between single-vector cosine ([[ann_bruteforce_topk]])
    and full reranking, with the {MAXSIM_SUBS}x{MAXSIM_SUBS} dot grid,
    max-pool and sum all evaluated IN-ROW (whole-stage codegen, no
    UDF).  Doubles stay bit-identical cross-engine because every dot is
    the shared sequential-fold form and the grid reduces in a fixed
    structural order ([[functions/vector.py]]), frozen once to milli.

    Scale shape: the probe set broadcasts against the distributed
    corpus (fixed x corpus — the [[knn_classification_eval]] probe
    rule); per-query ranking is a probe-partitioned window top-k
    (WindowGroupLimit: per-partition heads, never a global sort).  The
    production scale path puts an [[ann_ivf_coarse]]-style candidate
    screen in front; this exact form is also the recall oracle for it.

    Reference analog: none (LLM-pipeline similarity surface).
    """
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < MAXSIM_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("c_emb"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.floor(_maxsim_spark() * 1000).cast("long").alias("score_milli"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_milli"), F.asc("neighbor_id")
    )
    return scored.select(
        "*", F.row_number().over(w).cast("long").alias("rnk")
    ).filter(F.col("rnk") <= MAXSIM_TOPK)

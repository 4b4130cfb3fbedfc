"""Sampling & data-mixing operators for training-data pipelines.

A 100 TB pretraining corpus is never used as-is: sources are rebalanced
(a crawl dump dwarfs curated sources by 1000x), mixtures are temperature-
weighted to a token budget, and quality strata are sampled at different
rates.  These operators express those recipes Spark-first:

- All sampling is DETERMINISTIC content-hash sampling (md5-bucket
  thresholds), never ``rand()`` — the same document makes the same
  keep/drop decision on any engine, any run, any partitioning.  That is
  the reproducibility contract training pipelines live on, and it is
  what makes every op here oracle-checkable against DuckDB.
- Per-stratum statistics are tiny (one row per source/bucket); they
  broadcast back onto the corpus, so each op is one full scan + one
  broadcast join + one aggregate — no corpus-sized shuffle anywhere.
- Ratios/weights that feed decisions are computed in INTEGER basis
  points / milli-units (floor arithmetic), so no float fold-order can
  diverge between engines — the same discipline as the dedup family.

Reference analog: none (the reference is a fixed-function indexer,
/root/reference/src/main.c:28-59); this module is part of the
"operations a large-scale training-data pipeline needs" surface the
brief adds on top of reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_c_implementation_spark.functions.prefix import running_by_bucket
from mapreduce_c_implementation_spark.functions.text import DUCKDB_TOKENIZE, tokenize
from mapreduce_c_implementation_spark.registry import register
from mapreduce_c_implementation_spark.sources.tables import compute_scan, parallel_scan

_TOK = DUCKDB_TOKENIZE.format(col="text")

# md5(doc_id) -> 16-bit bucket in [0, 10000) basis points.  The 4-hex
# prefix is the same keyspace deterministic_split uses (% 100); basis
# points give sampling rates 0.01% resolution.
_SQL_BP = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10000"


def _bp_col() -> F.Column:
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 10000
    )


@register(
    "stratified_sample_balanced",
    oracle_sql=f"""
    WITH per_source AS (
      SELECT source, count(*) AS n_total FROM documents GROUP BY source
    ),
    rates AS (
      SELECT source, n_total,
             CAST((SELECT min(n_total) FROM per_source) * 10000 // n_total
                  AS BIGINT) AS rate_bp
      FROM per_source
    )
    SELECT d.source,
           max(r.n_total) AS n_total,
           max(r.rate_bp) AS rate_bp,
           CAST(sum(CASE WHEN {_SQL_BP} < r.rate_bp THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM documents d JOIN rates r ON d.source = r.source
    GROUP BY d.source
    """,
    tags=("sampling", "mixing", "pipeline"),
)
def stratified_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-source downsampling: every source is kept at rate
    min_count/count (in integer basis points), so all sources contribute
    ~equally — the standard rebalance before mixing a crawl-heavy corpus.

    Plan shape: one scan -> per-source count (rows = #sources, tiny) ->
    min over that -> broadcast the rate table back onto the corpus ->
    hash-threshold filter folded into one aggregate.  The corpus itself
    never shuffles; only (source) grouping keys do.  At 100 TB the rate
    table is still a handful of rows — the broadcast is free and the op
    is scan-bound, which is the floor.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(F.count("*").alias("n_total"))
    # min over a handful of rows; cross-joined (broadcast, 1 row) so the
    # rate derivation stays in one plan without a collect.
    min_row = per_source.agg(F.min("n_total").alias("min_total"))
    # `div`, not `/` + cast: float division can land at x.999... when the
    # true ratio is an exact integer, and the truncation then disagrees
    # with the oracle's integer floor-division.
    rates = per_source.crossJoin(F.broadcast(min_row)).select(
        "source",
        "n_total",
        F.expr("min_total * 10000L div n_total").alias("rate_bp"),
    )
    return (
        d.join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.max("n_total").alias("n_total"),
            F.max("rate_bp").alias("rate_bp"),
            F.sum((_bp_col() < F.col("rate_bp")).cast("long")).alias("n_kept"),
        )
    )


# Temperature for the mixture weights: w ∝ tokens^(1/T); T=2 (sqrt) is
# the classic multilingual rebalance (e.g. mBERT/XLM exponent 0.5).
MIX_TOKEN_BUDGET = 1_000_000


@register(
    "source_token_budget_mix",
    oracle_sql=f"""
    WITH per_source AS (
      SELECT source, CAST(sum(len({_TOK})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    weighted AS (
      SELECT source, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000) AS BIGINT)
               AS w_milli
      FROM per_source
    )
    SELECT source, n_tokens, w_milli,
           CAST({MIX_TOKEN_BUDGET} * w_milli
                // (SELECT sum(w_milli) FROM weighted) AS BIGINT)
             AS quota_tokens
    FROM weighted
    """,
    tags=("sampling", "mixing", "pipeline"),
)
def source_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted token-budget allocation: each source gets a
    quota of the {MIX_TOKEN_BUDGET}-token training budget proportional
    to sqrt(its token count) — T=2 temperature sampling, the standard
    upweighting of small curated sources against a dominant crawl.

    Determinism: sqrt is IEEE-correctly-rounded on both engines, but a
    SUM of doubles is fold-order-dependent — so the weight is floored to
    integer milli-units FIRST and all downstream arithmetic (sum, quota
    division) is int64.  Plan: one scan -> per-source token sum (tiny)
    -> 1-row total broadcast back.  Corpus never shuffles.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.sum(F.size(tokenize(F.col("text")))).cast("long").alias("n_tokens")
    )
    weighted = per_source.select(
        "source",
        "n_tokens",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000)
        .cast("long")
        .alias("w_milli"),
    )
    total = weighted.agg(F.sum("w_milli").alias("total_w"))
    return weighted.crossJoin(F.broadcast(total)).select(
        "source",
        "n_tokens",
        "w_milli",
        F.expr(f"{MIX_TOKEN_BUDGET}L * w_milli div total_w").alias("quota_tokens"),
    )


# Fixed log2-length bucket edges and per-bucket sample size.  FIXED
# edges, not quantiles: a global-sort ntile is a single-partition
# bottleneck at scale (ADVICE r2 on feature_quantile_bins), while
# width_bucket-style fixed edges are a narrow map.
QBS_PER_BUCKET = 25


@register(
    "quality_bucket_sample",
    oracle_sql=f"""
    WITH scored AS (
      SELECT doc_id,
             CAST(length(bin(len({_TOK}) + 2)) - 1 AS BIGINT) AS bucket,
             md5(CAST(doc_id AS VARCHAR)) AS tiebreak
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, bucket,
             row_number() OVER (PARTITION BY bucket ORDER BY tiebreak) AS rk
      FROM scored
    )
    SELECT bucket, doc_id, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {QBS_PER_BUCKET}
    """,
    tags=("sampling", "pipeline"),
)
def quality_bucket_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified eval-set draw: bucket documents by log2 token-length
    (fixed edges — no global sort) and take a deterministic
    {QBS_PER_BUCKET}-doc sample per bucket, ordered by md5(doc_id) — an
    unbiased hash-shuffle within each stratum.  This is how you pull a
    balanced human-eval or held-out slice from a skewed corpus.

    Plan shape: narrow map (tokenize + floor(log2)) -> window
    row_number PARTITIONED by bucket (scale-safe: each bucket sorts
    independently; no WindowExec-without-partition anywhere) -> filter
    rk <= K.  At 100 TB the only shuffle is on the ~60 bucket keys; a
    TopK-per-group rewrite (rank pushdown) bounds per-bucket state.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    # floor(log2(n)) as length(bin(n))-1 — exact integer arithmetic on
    # both engines; float log2 risks an off-by-one-ULP at power-of-two
    # bucket edges.
    scored = d.select(
        "doc_id",
        (F.length(F.bin(F.size(tokenize(F.col("text"))) + 2)) - 1)
        .cast("long")
        .alias("bucket"),
        F.md5(F.col("doc_id").cast("string")).alias("tiebreak"),
    )
    w = Window.partitionBy("bucket").orderBy("tiebreak")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= QBS_PER_BUCKET)
        .select("bucket", "doc_id", "rk")
    )


# Poisson bootstrap: the scale-out form of the bootstrap (Chamandy et
# al., "Estimating Uncertainty for Massive Data Streams" — resample
# weights are iid Poisson(1) per row, so replicates need no global
# resample pass).  Weights come from a deterministic md5 inverse-CDF
# lookup: u = hash(key, replicate) in [0, 1e6); thresholds are the
# Poisson(1) CDF floored to the same integer literals on both engines,
# so the "randomness" is bit-reproducible.  Tail truncated at w=5
# (P(X>5) ~ 0.06%) — part of the contract, same on both sides.
import math as _math

BOOT_REPLICATES = 8
_BOOT_SCALE = 1_000_000
_p = _math.exp(-1.0)
_c = _p
BOOT_CDF_THRESHOLDS: list[int] = []
for _k in range(5):
    BOOT_CDF_THRESHOLDS.append(int(_math.floor(_c * _BOOT_SCALE)))
    _p /= _k + 1
    _c += _p


def _boot_w_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {w}" for w, t in enumerate(BOOT_CDF_THRESHOLDS)
    )
    return f"(CASE {cases} ELSE 5 END)"


@register(
    "poisson_bootstrap_mean",
    oracle_sql=f"""
    WITH cents AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders
    ),
    weighted AS (
      SELECT r.r AS replicate, price_cents,
             {_boot_w_sql(
                 "CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':' "
                 "|| CAST(r.r AS VARCHAR)), 1, 6) AS BIGINT) % " + str(_BOOT_SCALE)
             )} AS w
      FROM cents CROSS JOIN
           (SELECT unnest(generate_series(0, {BOOT_REPLICATES - 1})) AS r) r
    )
    SELECT CAST(replicate AS BIGINT) AS replicate,
           CAST(sum(w) AS BIGINT) AS n_eff,
           CAST(sum(w * price_cents) // sum(w) AS BIGINT) AS mean_cents
    FROM weighted GROUP BY replicate
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT),
           CAST(sum(price_cents) // count(*) AS BIGINT)
    FROM cents
    ORDER BY replicate
    """,
    tags=("sampling", "bootstrap", "statistics", "pipeline"),
)
def poisson_bootstrap_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap uncertainty for the mean order value — the
    bootstrap that scales: instead of B global resamples (impossible at
    100 TB), every row draws an iid Poisson(1) weight per replicate, so
    all {BOOT_REPLICATES} replicates compute in ONE pass as weighted
    aggregates; the spread of the replicate means IS the sampling
    distribution.  A point-estimate row (replicate = -1, unit weights)
    ships alongside.

    Determinism: the Poisson draw is an integer inverse-CDF lookup on
    ``md5(key:replicate) % 1e6`` against CDF thresholds baked as the
    SAME integer literals in both engines (floored once, in one
    place); money is integer cents and the mean is a trunc division —
    nothing float crosses an engine boundary, so every replicate is
    bit-identical anywhere.

    Scale shape: the replicate dimension is an IN-ROW explode (fan-out
    = {BOOT_REPLICATES}, a constant), weights are a codegen'd CASE —
    no join, no window — and the only shuffle is the {BOOT_REPLICATES}-
    group aggregate, which map-side combines to B partial sums per
    task.  One corpus pass, constant output.
    """
    o = parallel_scan(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    reps = F.explode(F.sequence(F.lit(0), F.lit(BOOT_REPLICATES - 1))).alias(
        "replicate"
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("o_orderkey").cast("string"),
                        F.col("replicate").cast("string"),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % _BOOT_SCALE
    )
    w = F.lit(5)
    for wt, t in reversed(list(enumerate(BOOT_CDF_THRESHOLDS))):
        w = F.when(u < t, wt).otherwise(w)
    weighted = o.select("o_orderkey", "price_cents", reps).select(
        F.col("replicate").cast("long").alias("replicate"),
        "price_cents",
        w.cast("long").alias("w"),
    )
    boot = weighted.groupBy("replicate").agg(
        F.sum("w").cast("long").alias("n_eff"),
        F.expr("sum(w * price_cents) div sum(w)").cast("long").alias("mean_cents"),
    )
    point = o.agg(
        F.lit(-1).cast("long").alias("replicate"),
        F.count("*").cast("long").alias("n_eff"),
        F.expr("sum(price_cents) div count(*)").cast("long").alias("mean_cents"),
    )
    return boot.unionByName(point).orderBy("replicate")


# Shard planner: pack documents (in doc_id order) into byte-balanced
# output shards of ~SHARD_TARGET_BYTES, using the scalable two-pass
# cumulative sum (per-range partials + tiny prefix table) instead of a
# single global ordered window.
SHARD_TARGET_BYTES = 16_384
SHARD_RANGE = 100  # docs per cumulative-sum range bucket


@register(
    "size_balanced_shards",
    oracle_sql=f"""
    WITH cum AS (
      SELECT doc_id, n_chars,
             sum(n_chars) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS cum_before
      FROM documents
    ),
    assigned AS (
      SELECT doc_id, n_chars,
             coalesce(cum_before, 0) // {SHARD_TARGET_BYTES} AS shard
      FROM cum
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM assigned
    GROUP BY shard
    ORDER BY shard
    """,
    tags=("sampling", "sharding", "sink", "pipeline"),
)
def size_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-balanced shard planning: documents (in doc_id order) are
    packed into ~{SHARD_TARGET_BYTES}-byte output shards by running
    byte total — the file-sizing pass every large corpus write runs so
    downstream readers get uniform splits instead of one 2 GB file
    next to a thousand 1 KB ones (the problem small_file_compaction
    fixes after the fact; this op prevents it at write time).

    The cumulative sum is ``functions/prefix.py``'s two-pass
    ``running_by_bucket`` over {SHARD_RANGE}-doc buckets — never one
    global ordered window, which funnels the corpus through a single
    partition.

    Shard id = floor(bytes_before / target), so a document that
    straddles a boundary lands in the earlier shard — shards overshoot
    by at most one document, they never undershoot.
    """
    d = parallel_scan(spark, sf_dir, "documents").select("doc_id", "n_chars")
    b = d.withColumn("rb", F.expr(f"doc_id div {SHARD_RANGE}"))
    cum = running_by_bucket(b, "rb", ["doc_id"], cum=F.col("n_chars"))
    assigned = cum.select(
        "doc_id",
        "n_chars",
        F.expr(f"(cum - n_chars) div {SHARD_TARGET_BYTES}").alias("shard"),
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
        .select(F.col("shard").cast("long").alias("shard"), "n_docs",
                "total_chars", "first_doc", "last_doc")
        .orderBy("shard")
    )


# Exact-k per-group sampling: keep each group's k smallest md5(doc_id)
# ranks — a deterministic bottom-k sketch, the "exactly k per stratum"
# complement to the Bernoulli hash-threshold samplers above.
BOTTOMK_K = 20


@register(
    "bottomk_sample_per_group",
    oracle_sql=f"""
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rk
      FROM documents
    )
    SELECT source, CAST(rk AS BIGINT) AS rk,
           CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM ranked WHERE rk <= {BOTTOMK_K}
    ORDER BY source, rk
    """,
    tags=("sampling", "bottom-k", "pipeline"),
)
def bottomk_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-{BOTTOMK_K}-per-source sample via the deterministic
    bottom-k sketch: rank documents inside each source by md5(doc_id)
    and keep the {BOTTOMK_K} smallest.  Hash order is uniform, so this
    is a uniform without-replacement sample — but unlike the Bernoulli
    thresholds of [[stratified_sample_balanced]] it hits the requested
    k exactly (a threshold sampler's count is binomial around k), which
    is what eval-set construction and per-stratum audits require.

    Scale shape: bottom-k is a MERGEABLE sketch — each partition keeps
    its local k smallest (rank window per source here; at 100 TB a
    two-level top-k: per-partition k via sortWithinPartitions+limit,
    then merge the #partitions x k survivors), so the full group never
    sorts.  The same WindowGroupLimit rank pushdown the top-k family
    is plan-gated on applies: Spark prunes rows past rank {BOTTOMK_K}
    before the shuffle.
    """
    from pyspark.sql.window import Window

    d = parallel_scan(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("source", "doc_id", "n_chars")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= BOTTOMK_K)
        .select("source", "rk", F.col("doc_id").cast("long").alias("doc_id"),
                F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy("source", "rk")
    )


# Temperature-scaled source mixing (alpha = 0.5, i.e. sqrt scaling).
MIX_TOKEN_TARGET = 100_000


@register(
    "source_temperature_mixing",
    oracle_sql=f"""
    WITH per_source AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({DUCKDB_TOKENIZE.format(col="text")})) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    ),
    scaled AS (
      SELECT source, n_docs, n_tokens,
             CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000) AS BIGINT)
               AS s_milli
      FROM per_source
    ),
    tot AS (
      SELECT sum(n_tokens) AS tot_tokens, sum(s_milli) AS tot_s FROM scaled
    )
    SELECT source, n_docs, n_tokens,
           CAST(n_tokens * 1000000 // tot_tokens AS BIGINT) AS prop_ppm,
           CAST(s_milli * 1000000 // tot_s AS BIGINT) AS temp_ppm,
           CAST(({MIX_TOKEN_TARGET} * s_milli) // tot_s AS BIGINT)
             AS budget_tokens,
           CAST(({MIX_TOKEN_TARGET} * s_milli * 1000) // (tot_s * n_tokens)
                AS BIGINT) AS epochs_milli
    FROM scaled, tot
    ORDER BY source
    """,
    tags=("sampling", "mixing", "pipeline"),
)
def source_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing weights (α = 0.5): each source's
    sampling share is proportional to sqrt(its token count) — the
    multilingual/multi-source rebalancing rule (UniMax-style) that
    up-weights small sources without letting any source dominate.
    Reports both the proportional share and the temperature share in
    ppm, plus each source's token budget out of {MIX_TOKEN_TARGET} and
    the implied epoch count (epochs > 1.0 ⇒ the source repeats —
    the oversampling [[source_token_budget_mix]] caps).

    Exactness: sqrt is IEEE-exact in both engines (correctly rounded by
    spec, unlike ln); frozen to milli-units once per SOURCE, then every
    share is a non-negative integer floor division (Spark div ==
    DuckDB // for non-negative operands).  Scale shape: one corpus scan -> source-grain aggregate;
    everything after runs on a |sources|-row table with a 1-row
    broadcast of totals.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(tokenize(F.col("text")))).cast("long").alias("n_tokens"),
    )
    scaled = per_source.withColumn(
        "s_milli",
        F.expr(
            "CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000) AS BIGINT)"
        ),
    )
    tot = scaled.agg(
        F.sum("n_tokens").alias("tot_tokens"), F.sum("s_milli").alias("tot_s")
    )
    return (
        scaled.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr(
                "CAST(n_tokens * 1000000L div tot_tokens AS BIGINT)"
            ).alias("prop_ppm"),
            F.expr(
                "CAST(s_milli * 1000000L div tot_s AS BIGINT)"
            ).alias("temp_ppm"),
            F.expr(
                f"CAST(({MIX_TOKEN_TARGET}L * s_milli) div tot_s AS BIGINT)"
            ).alias("budget_tokens"),
            F.expr(
                f"CAST(({MIX_TOKEN_TARGET}L * s_milli * 1000)"
                f" div (tot_s * n_tokens) AS BIGINT)"
            ).alias("epochs_milli"),
        )
        .orderBy("source")
    )


# Curriculum ordering: docs per training shard, and the width (in
# milli-chars of mean token length) of each difficulty range bucket
# used by the two-pass distributed global rank.
CURR_SHARD_DOCS = 64
CURR_BUCKET_MILLI = 250


@register(
    "curriculum_data_ordering",
    oracle_sql=f"""
    WITH toks AS (SELECT doc_id, {DUCKDB_TOKENIZE.format(col="text")} AS ts
                  FROM documents),
    per AS (
      SELECT doc_id, CAST(len(ts) AS BIGINT) AS nt,
             CAST(list_sum(list_transform(ts, t -> length(t))) AS BIGINT)
               AS tc
      FROM toks WHERE len(ts) > 0
    ),
    diff AS (SELECT doc_id, tc * 1000 // nt AS difficulty_milli FROM per),
    rk AS (
      SELECT doc_id, difficulty_milli,
             row_number() OVER (ORDER BY difficulty_milli, doc_id)
               AS curriculum_rank
      FROM diff
    )
    SELECT doc_id,
           CAST(difficulty_milli AS BIGINT) AS difficulty_milli,
           CAST(curriculum_rank AS BIGINT) AS curriculum_rank,
           CAST((curriculum_rank - 1) // {CURR_SHARD_DOCS} AS BIGINT)
             AS shard_id
    FROM rk
    """,
    tags=("sampling", "curriculum", "pipeline"),
)
def curriculum_data_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering: every document gets its exact global
    rank under an easy-to-hard difficulty key (mean token length in
    milli-chars — swap in a perplexity from [[ngram_lm_perplexity]] or a
    classifier score from [[quality_classifier_inference]]; the contract
    is the ordering, not the metric), then shards of {CURR_SHARD_DOCS}
    consecutive docs — the deterministic shard manifest a curriculum
    training loader consumes in shard_id order.

    Exactness: rank ties break on doc_id, so the order is total and the
    oracle's textbook global ``row_number()`` is reproduced bit-for-bit.

    Scale shape: the global rank is ``functions/prefix.py``'s two-pass
    ``running_by_bucket`` over difficulty RANGE buckets
    (``difficulty div {CURR_BUCKET_MILLI}``), never one unpartitioned
    window; at 100 TB with a skewed score distribution the fixed-width
    cuts generalize to approxQuantile cuts (``range_id``) — the bucket
    table stays tiny either way.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    per = (
        d.select("doc_id", tokenize(F.col("text")).alias("ts"))
        .select(
            "doc_id",
            F.size("ts").cast("long").alias("nt"),
            F.aggregate(
                F.transform(F.col("ts"), F.length),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ).alias("tc"),
        )
        .filter(F.col("nt") > 0)
    )
    diff = per.selectExpr(
        "doc_id", "tc * 1000 div nt AS difficulty_milli"
    ).withColumn("bk", F.expr(f"difficulty_milli div {CURR_BUCKET_MILLI}"))
    ranked = running_by_bucket(diff, "bk", ["difficulty_milli", "doc_id"], rk=None)
    return ranked.selectExpr(
        "doc_id",
        "CAST(difficulty_milli AS BIGINT) AS difficulty_milli",
        "CAST(rk AS BIGINT) AS curriculum_rank",
        f"CAST((rk - 1) div {CURR_SHARD_DOCS} AS BIGINT) AS shard_id",
    )


# DSIR (Data Selection with Importance Resampling, Xie et al. 2023,
# arXiv:2302.03169): hashed n-gram bag features, per-bucket
# log-likelihood ratio between a small TARGET distribution and the raw
# corpus, per-document importance weight = sum of its tokens' bucket
# log-ratios.  Bucket count and the selection budget:
DSIR_BUCKETS = 64
DSIR_TOP_K = 100
# Target domain for the fixture: English documents (stand-in for "the
# curated corpus whose distribution we want the selection to match").
DSIR_TARGET_PRED = "lang = 'en'"


@register(
    "dsir_importance_resampling",
    oracle_sql=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_TOK}) AS t FROM documents
    ),
    bucketed AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % {DSIR_BUCKETS}
               AS b
      FROM tok
    ),
    raw AS (SELECT b, count(*) AS cr FROM bucketed GROUP BY b),
    tgt AS (
      SELECT b, count(*) AS ct FROM bucketed
      WHERE {DSIR_TARGET_PRED} GROUP BY b
    ),
    tots AS (
      SELECT (SELECT sum(cr) FROM raw) AS nr,
             (SELECT coalesce(sum(ct), 0) FROM tgt) AS nt
    ),
    ratio AS (
      SELECT raw.b,
             CAST(round(
               ln((coalesce(tgt.ct, 0) + 1.0)
                  / (tots.nt + {DSIR_BUCKETS}))
               - ln((raw.cr + 1.0) / (tots.nr + {DSIR_BUCKETS})), 6)
             AS DECIMAL(18,6)) AS logr
      FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tots
    ),
    scored AS (
      SELECT bucketed.doc_id,
             count(*) AS n_tokens,
             CAST(CAST(sum(ratio.logr) AS DECIMAL(30,6)) AS DOUBLE)
               AS dsir_logratio
      FROM bucketed JOIN ratio ON bucketed.b = ratio.b
      GROUP BY bucketed.doc_id
    )
    SELECT doc_id, n_tokens, dsir_logratio
    FROM scored
    ORDER BY dsir_logratio DESC, doc_id
    LIMIT {DSIR_TOP_K}
    """,
    tags=("sampling", "selection", "pipeline"),
)
def dsir_importance_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): score every raw document
    by how target-like its hashed n-gram bag is — per-bucket
    log-likelihood ratio ln(p_target/p_raw) with add-one smoothing over
    {DSIR_BUCKETS} hash buckets — and keep the {DSIR_TOP_K} best.  The
    fixture's target distribution is ``{DSIR_TARGET_PRED}``; in
    production it is the curated corpus the pretraining mix should
    imitate.  Reference analog: none (LLM-pipeline surface per the
    brief; selection discipline mirrors the deterministic-sampling
    contract of [[stratified_sample]]).

    Exactness: bucket log-ratios round to DECIMAL(18,6) before the
    per-doc DECIMAL(30,6) sum, so no float fold-order can diverge
    between engines or partitionings (same rule as
    [[unigram_logprob_score]]); the head is totally ordered by
    (score, doc_id).

    Scale shape: the feature space is CONSTANT-size by construction
    (the hashing trick — no vocabulary table, nothing to OOM), so the
    whole selection is: one explode -> bucket-grain counts (map-side
    combined, {DSIR_BUCKETS} rows out), a {DSIR_BUCKETS}-row broadcast
    ratio table joined back onto the exploded tokens, a per-doc
    DECIMAL sum, and a TakeOrderedAndProject head — zero corpus-sized
    shuffles.  At 100 TB the top-k head generalizes to the paper's
    sampling form: keep docs with score above a broadcast quantile cut
    (see [[quality_classifier_inference]] for that rewrite shape).
    """
    d = parallel_scan(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(tokenize(F.col("text"))).alias("t"),
    )
    bucketed = tok.select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("long")
            % DSIR_BUCKETS
        ).alias("b"),
    )
    raw = bucketed.groupBy("b").agg(F.count("*").alias("cr"))
    tgt = (
        bucketed.filter(F.expr(DSIR_TARGET_PRED))
        .groupBy("b")
        .agg(F.count("*").alias("ct"))
    )
    tots = raw.agg(F.sum("cr").alias("nr")).crossJoin(
        F.broadcast(tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("nt")))
    )
    ratio = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.round(
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                    / (F.col("nt") + F.lit(float(DSIR_BUCKETS)))
                )
                - F.log(
                    (F.col("cr") + F.lit(1.0))
                    / (F.col("nr") + F.lit(float(DSIR_BUCKETS)))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("logr"),
        )
    )
    scored = (
        bucketed.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("logr").cast("decimal(30,6)").cast("double")
            .alias("dsir_logratio"),
        )
    )
    return scored.orderBy(F.desc("dsir_logratio"), "doc_id").limit(DSIR_TOP_K)


# Group-holdout split thresholds in md5 basis points: train < 8000,
# val < 9000, test otherwise — and the stratified fold count.
GROUP_SPLIT_BP = (8000, 9000)
KFOLD_K = 5


@register(
    "group_holdout_split",
    oracle_sql=f"""
    WITH g AS (
      SELECT source,
             CAST('0x' || substr(md5(source), 1, 4) AS BIGINT) % 10000 AS bp,
             count(*) AS n
      FROM documents GROUP BY source
    )
    SELECT CASE WHEN bp < {GROUP_SPLIT_BP[0]} THEN 'train'
                WHEN bp < {GROUP_SPLIT_BP[1]} THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_sources,
           CAST(sum(n) AS BIGINT) AS n_docs
    FROM g GROUP BY split ORDER BY split
    """,
    tags=("sampling", "split", "pipeline"),
)
def group_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe holdout split: the hash that decides train/val/test
    is taken over the GROUP key (source — the domain/site analog), not
    the document, so every document from a source lands in the same
    split by construction.  Doc-level hashing ([[deterministic_split]])
    leaks near-duplicates across splits whenever a site hosts its own
    mirrors; group-level hashing is the standard fix (GroupKFold /
    group-shuffle-split semantics), and [[cross_split_leakage_audit]]
    is the detector this op makes pass.  Reference analog: none
    (LLM-pipeline surface per the brief).

    Determinism/exactness: the same md5-basis-point rule as every
    sampler in this module — integer bucket compare, no rand() — so
    the assignment is reproducible on any engine and partitioning.

    Scale shape: one source-grain aggregate (map-side combined; one
    row per source), then a 3-row rollup of the source table.  The
    corpus is scanned once; the split decision never touches doc
    grain, so a 100 TB corpus costs one combine-heavy aggregate.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    bp = (
        F.conv(F.substring(F.md5(F.col("source")), 1, 4), 16, 10).cast("long")
        % 10000
    )
    g = d.groupBy("source").agg(F.count("*").alias("n")).select(
        bp.alias("bp"), F.col("n")
    )
    split = (
        F.when(F.col("bp") < GROUP_SPLIT_BP[0], "train")
        .when(F.col("bp") < GROUP_SPLIT_BP[1], "val")
        .otherwise("test")
    )
    return (
        g.select(split.alias("split"), "n")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_sources"),
            F.sum("n").cast("long").alias("n_docs"),
        )
        .orderBy("split")
    )


@register(
    "stratified_kfold_assign",
    oracle_sql=f"""
    WITH ranked AS (
      SELECT lang,
             (row_number() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1)
               % {KFOLD_K} AS fold
      FROM documents
    )
    SELECT CAST(fold AS BIGINT) AS fold, lang, count(*) AS n_docs
    FROM ranked GROUP BY fold, lang ORDER BY fold, lang
    """,
    tags=("sampling", "split", "pipeline"),
)
def stratified_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified k-fold assignment (K={KFOLD_K}): within each lang
    stratum documents are ordered by md5(doc_id) (a deterministic
    shuffle) and dealt round-robin, so every fold holds each stratum's
    count to within one document — the exact-balance contract
    cross-validation needs, which plain hash-mod assignment
    ([[deterministic_split]]) only meets in expectation.  Reference
    analog: none (LLM-pipeline surface per the brief).

    Scale shape: one window partitioned BY STRATUM (the same
    per-group shuffle the top-k family uses) plus a fold×stratum
    aggregate.  A stratum is as big as the corpus share of that lang,
    so at 100 TB the exact deal is the expensive-but-correct path; if
    ±epsilon balance is acceptable, hash-mod assignment (no window)
    is the documented cheap alternative — the same trade
    [[customer_rfm_segmentation]] resolves with its two-pass rank.
    """
    d = parallel_scan(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select(
            "lang",
            ((F.row_number().over(w) - 1) % KFOLD_K)
            .cast("long")
            .alias("fold"),
        )
        .groupBy("fold", "lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("fold", "lang")
    )


# DoReMi-style domain reweighting: one exponentiated-gradient step on
# the source mixture, eta = 1 (folded into the update).  Excess loss is
# proxied by per-source average token surprisal under the corpus
# unigram LM — the "hard domains get upweighted" signal of the paper,
# computable without a trained reference model.
@register(
    "doremi_domain_reweighting",
    oracle_sql=f"""
    WITH tok AS (
      SELECT source, unnest({_TOK}) AS t FROM documents
    ),
    st AS (
      SELECT source, t, count(*) AS c FROM tok GROUP BY source, t
    ),
    vocab AS (
      SELECT t, sum(c) AS ct FROM st GROUP BY t
    ),
    tot AS (SELECT sum(ct) AS n FROM vocab),
    lt AS (
      SELECT t,
             CAST(round(ln(CAST(n AS DOUBLE) / ct) * 1000000) AS BIGINT)
               AS l_micro
      FROM vocab, tot
    ),
    src AS (
      SELECT source, sum(c) AS n_s,
             sum(CAST(c AS HUGEINT) * l_micro) AS s_s
      FROM st JOIN lt USING (t) GROUP BY source
    ),
    gstats AS (SELECT sum(s_s) AS g, sum(n_s) AS n FROM src),
    ex AS (
      SELECT source, n_s,
             n_s * 1000000 // n AS base_weight_ppm,
             s_s // n_s - g // n AS excess_micro,
             CAST(round(exp(
               (CAST(round(ln(CAST(n_s AS DOUBLE) / n) * 1000000) AS BIGINT)
                + (s_s // n_s - g // n)) / 1000000.0) * 1000000) AS BIGINT)
               AS u_micro
      FROM src, gstats
    ),
    norm AS (SELECT sum(u_micro) AS su FROM ex)
    SELECT source,
           CAST(n_s AS BIGINT) AS n_tokens,
           CAST(base_weight_ppm AS BIGINT) AS base_weight_ppm,
           CAST(excess_micro AS BIGINT) AS excess_micro,
           CAST(u_micro * 1000000 // su AS BIGINT) AS new_weight_ppm
    FROM ex, norm ORDER BY source
    """,
    tags=("sampling", "mixing", "doremi", "pipeline"),
)
def doremi_domain_reweighting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain (source) reweighting — ONE exponentiated-
    gradient step: new_w_s ∝ base_w_s * exp(eta * excess_s), eta = 1,
    where base_w is the token share and excess_s is the source's mean
    token surprisal under the corpus unigram LM minus the global mean
    (the hard-domain signal; the paper's reference-model excess loss
    drops in as a column swap).  Complements [[source_temperature_
    mixing]] (temperature is loss-blind) and [[source_token_budget_
    mix]] (budget allocation consumes these weights).

    Exactness: per-token surprisal is frozen to integer micro-nats at
    the VOCAB grain; source sums route c * l_micro through
    DECIMAL(38,0)/HUGEINT (the product reaches ~3e19 at 100 TB — past
    BIGINT); the only other doubles are one pinned ln per source and
    one pinned exp per source, both frozen to integers BEFORE the
    exact-integer ppm normalization, so no float fold-order exists.

    Scale shape: (source, token)-grain counts (map-side combined), a
    vocab-grain aggregate + equi-join, then source-grain arithmetic
    with three 1-row broadcasts (corpus total, global surprisal,
    weight normalizer) — the corpus is scanned once; everything after
    the first aggregate is vocabulary- or source-sized.

    Reference analog: none (LLM-pipeline surface per the brief; update rule per the DoReMi paper).
    """
    d = parallel_scan(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokenize(F.col("text"))).alias("t"))
    st = tok.groupBy("source", "t").agg(F.count("*").alias("c"))
    vocab = st.groupBy("t").agg(F.sum("c").alias("ct"))
    tot = vocab.agg(F.sum("ct").alias("n"))
    lt = vocab.crossJoin(F.broadcast(tot)).select(
        "t",
        F.expr(
            "CAST(round(ln(CAST(n AS DOUBLE) / ct) * 1000000) AS BIGINT)"
        ).alias("l_micro"),
    )
    src = (
        st.join(lt, "t")
        .groupBy("source")
        .agg(
            F.sum("c").alias("n_s"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("l_micro")).alias(
                "s_s"
            ),
        )
    )
    glob = src.agg(F.sum("s_s").alias("g"), F.sum("n_s").alias("n"))
    ex = src.crossJoin(F.broadcast(glob)).select(
        "source",
        "n_s",
        F.expr("n_s * 1000000 div n").alias("base_weight_ppm"),
        F.expr("CAST(s_s div n_s - g div n AS BIGINT)").alias("excess_micro"),
        F.expr(
            "CAST(round(exp("
            " (CAST(round(ln(CAST(n_s AS DOUBLE) / n) * 1000000) AS BIGINT)"
            "  + CAST(s_s div n_s - g div n AS BIGINT)) / 1000000.0)"
            " * 1000000) AS BIGINT)"
        ).alias("u_micro"),
    )
    norm = ex.agg(F.sum("u_micro").alias("su"))
    return (
        ex.crossJoin(F.broadcast(norm))
        .select(
            "source",
            F.col("n_s").cast("long").alias("n_tokens"),
            F.col("base_weight_ppm").cast("long").alias("base_weight_ppm"),
            "excess_micro",
            F.expr("CAST(u_micro * 1000000 div su AS BIGINT)").alias(
                "new_weight_ppm"
            ),
        )
        .orderBy("source")
    )


# Best-of-n rejection sampling: BON_N consecutive doc_ids form one
# "prompt group" (the fixture stand-in for n samples of one prompt);
# reward = English-stopword share in basis points (the calibration
# family's rule — a learned reward model's scores join in identically).
BON_N = 4


@register(
    "best_of_n_rejection_sampling",
    oracle_sql=f"""
    WITH scored AS (
      SELECT doc_id, doc_id // {BON_N} AS prompt_id,
             len(list_intersect(ts, ['the','a','and','of','to','is','fast','slow']))
               * 10000 // len(ts) AS reward_bp
      FROM (SELECT doc_id, {_TOK} AS ts FROM documents)
      WHERE len(ts) > 0
    ),
    ranked AS (
      SELECT prompt_id, doc_id, reward_bp,
             row_number() OVER (PARTITION BY prompt_id
                                ORDER BY reward_bp DESC, doc_id ASC) AS rk,
             count(*) OVER (PARTITION BY prompt_id) AS n_samples,
             sum(reward_bp) OVER (PARTITION BY prompt_id) AS sum_bp
      FROM scored
    )
    SELECT prompt_id,
           CAST(n_samples AS BIGINT) AS n_samples,
           doc_id AS best_doc_id,
           CAST(reward_bp AS BIGINT) AS best_reward_bp,
           CAST(sum_bp // n_samples AS BIGINT) AS mean_reward_bp,
           CAST(reward_bp - sum_bp // n_samples AS BIGINT) AS gain_bp
    FROM ranked WHERE rk = 1
    """,
    tags=("sampling", "rlhf", "rejection", "pipeline"),
)
def best_of_n_rejection_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-n rejection sampling — the RLHF/distillation data-
    construction step: each prompt group keeps its highest-reward
    sample (min doc_id on ties) and reports the reward gain over the
    group mean, the quantity that decides whether best-of-n is worth
    n inferences.  Groups are {BON_N} consecutive doc_ids (fixture
    pairing); reward is the stopword-share rule ([[score_calibration_
    reliability]]'s scorer) — a reward model's scores are a column
    swap.  [[preference_pair_construction]] builds pairwise data from
    the same grouping; this op builds SFT-style winners.

    Exactness: integer bp rewards, floor-division means, row_number
    with a total order (reward DESC, doc_id ASC) — no ties left to the
    engine.

    Scale shape: one narrow scored map, one prompt-keyed window over
    {BON_N}-row partitions (the [[window_topk_per_group]] shape) —
    a single prompt-grain exchange, no corpus-sized state.

    Reference analog: none (LLM-pipeline surface per the brief).
    """
    d = compute_scan(spark, sf_dir, "documents")
    ts = F.col("ts")
    scored = (
        d.select("doc_id", tokenize(F.col("text")).alias("ts"))
        .filter(F.size(ts) > 0)
        .select(
            "doc_id",
            F.expr(f"doc_id div {BON_N}").alias("prompt_id"),
            F.expr(
                "CAST(size(array_intersect(ts,"
                " array('the','a','and','of','to','is','fast','slow')))"
                " AS BIGINT) * 10000 div size(ts)"
            ).alias("reward_bp"),
        )
    )
    wp = Window.partitionBy("prompt_id")
    ranked = scored.select(
        "prompt_id",
        "doc_id",
        "reward_bp",
        F.row_number()
        .over(wp.orderBy(F.desc("reward_bp"), F.asc("doc_id")))
        .alias("rk"),
        F.count("*").over(wp).alias("n_samples"),
        F.sum("reward_bp").over(wp).alias("sum_bp"),
    )
    return ranked.filter(F.col("rk") == 1).select(
        "prompt_id",
        F.col("n_samples").cast("long").alias("n_samples"),
        F.col("doc_id").alias("best_doc_id"),
        F.col("reward_bp").cast("long").alias("best_reward_bp"),
        F.expr("CAST(sum_bp div n_samples AS BIGINT)").alias("mean_reward_bp"),
        F.expr(
            "CAST(reward_bp - sum_bp div n_samples AS BIGINT)"
        ).alias("gain_bp"),
    )


# Pairwise-preference rating aggregation (arena-style): matches are the
# same consecutive-doc pairing as generation_eval_overlap, contestants
# are sources, the winner is the higher stopword-share reward, and the
# rating is the +1-smoothed log-odds of (doubled) wins vs losses with
# ties counted half — the Bradley-Terry sufficient statistic for a
# round-robin-ish schedule, in integer milli-nats.
@register(
    "elo_pairwise_ratings",
    oracle_sql=f"""
    WITH scored AS (
      SELECT doc_id, doc_id // 2 AS pair_id, source,
             len(list_intersect(ts, ['the','a','and','of','to','is','fast','slow']))
               * 10000 // len(ts) AS reward_bp
      FROM (SELECT doc_id, source, {_TOK} AS ts FROM documents)
      WHERE len(ts) > 0
    ),
    matches AS (
      SELECT a.source AS src_a, b.source AS src_b,
             a.reward_bp AS r_a, b.reward_bp AS r_b
      FROM scored a JOIN scored b
        ON b.pair_id = a.pair_id AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
      WHERE a.source <> b.source
    ),
    sides AS (
      SELECT src_a AS source,
             CASE WHEN r_a > r_b THEN 1 ELSE 0 END AS w,
             CASE WHEN r_a < r_b THEN 1 ELSE 0 END AS l,
             CASE WHEN r_a = r_b THEN 1 ELSE 0 END AS t
      FROM matches
      UNION ALL
      SELECT src_b AS source,
             CASE WHEN r_b > r_a THEN 1 ELSE 0 END AS w,
             CASE WHEN r_b < r_a THEN 1 ELSE 0 END AS l,
             CASE WHEN r_a = r_b THEN 1 ELSE 0 END AS t
      FROM matches
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_matches,
           CAST(sum(w) AS BIGINT) AS n_wins,
           CAST(sum(l) AS BIGINT) AS n_losses,
           CAST(sum(t) AS BIGINT) AS n_ties,
           CAST(round(ln(CAST(2 * sum(w) + sum(t) + 1 AS DOUBLE)
                         / (2 * sum(l) + sum(t) + 1)) * 1000) AS BIGINT)
             AS rating_milli
    FROM sides GROUP BY source ORDER BY source
    """,
    tags=("sampling", "rlhf", "rating", "pipeline"),
)
def elo_pairwise_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arena-style pairwise-preference rating aggregation: consecutive-
    doc matches ([[generation_eval_overlap]]'s pairing) between
    DIFFERENT sources are decided by the stopword-share reward
    ([[best_of_n_rejection_sampling]]'s scorer — human/LLM-judge
    verdicts join in as a column swap), and each source's rating is the
    smoothed log-odds ln((2W+T+1)/(2L+T+1)) in milli-nats — the
    Bradley-Terry sufficient statistic under a balanced schedule, and
    the leaderboard reduction every preference-data pipeline reports
    over [[preference_pair_construction]]'s output.

    Exactness: wins/losses/ties are exact integer counts; the rating is
    ONE pinned log over those integers, frozen to milli.  Ties count
    half via the doubled form — no fractional arithmetic.

    Scale shape: one narrow scored map, a pair-keyed equi self-join
    (successor id), a 2x union to per-side grain, and a source-grain
    map-side-combined aggregate — no windows, nothing quadratic.

    Reference analog: none (LLM-pipeline surface per the brief).
    """
    d = compute_scan(spark, sf_dir, "documents")
    scored = (
        d.select("doc_id", "source", tokenize(F.col("text")).alias("ts"))
        .filter(F.size("ts") > 0)
        .select(
            "doc_id",
            F.expr("doc_id div 2").alias("pair_id"),
            "source",
            F.expr(
                "CAST(size(array_intersect(ts,"
                " array('the','a','and','of','to','is','fast','slow')))"
                " AS BIGINT) * 10000 div size(ts)"
            ).alias("reward_bp"),
        )
    )
    a = scored.filter(F.col("doc_id") % 2 == 0).select(
        "pair_id",
        F.col("source").alias("src_a"),
        F.col("reward_bp").alias("r_a"),
    )
    b = scored.filter(F.col("doc_id") % 2 == 1).select(
        "pair_id",
        F.col("source").alias("src_b"),
        F.col("reward_bp").alias("r_b"),
    )
    matches = a.join(b, "pair_id").filter(F.col("src_a") != F.col("src_b"))
    side_a = matches.select(
        F.col("src_a").alias("source"),
        F.when(F.col("r_a") > F.col("r_b"), 1).otherwise(0).alias("w"),
        F.when(F.col("r_a") < F.col("r_b"), 1).otherwise(0).alias("l"),
        F.when(F.col("r_a") == F.col("r_b"), 1).otherwise(0).alias("t"),
    )
    side_b = matches.select(
        F.col("src_b").alias("source"),
        F.when(F.col("r_b") > F.col("r_a"), 1).otherwise(0).alias("w"),
        F.when(F.col("r_b") < F.col("r_a"), 1).otherwise(0).alias("l"),
        F.when(F.col("r_a") == F.col("r_b"), 1).otherwise(0).alias("t"),
    )
    return (
        side_a.unionByName(side_b)
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_matches"),
            F.sum("w").cast("long").alias("n_wins"),
            F.sum("l").cast("long").alias("n_losses"),
            F.sum("t").cast("long").alias("n_ties"),
            F.expr(
                "CAST(round(ln(CAST(2 * sum(w) + sum(t) + 1 AS DOUBLE)"
                " / (2 * sum(l) + sum(t) + 1)) * 1000) AS BIGINT)"
            ).alias("rating_milli"),
        )
        .orderBy("source")
    )


# --- Round 9: paired bootstrap significance -----------------------------
#
# Paired-example system comparison (the eval-harness significance test:
# "is scorer A really better than scorer B, or is the delta noise?"),
# via the same deterministic Poisson(1) machinery as
# [[poisson_bootstrap_mean]] but over per-document metric DELTAS and
# with enough replicates for a sign-counting p-value.
PB_REPLICATES = 64
_PB_STOP_SQL = "['the','a','and','of','to','is','fast','slow']"


@register(
    "paired_bootstrap_significance",
    oracle_sql=f"""
    WITH toks AS (
      SELECT doc_id, {{tok}} AS ts FROM documents
    ),
    deltas AS (
      SELECT doc_id,
             len(list_distinct(ts)) * 1000000 // len(ts)
             - len(list_filter(ts, t -> NOT list_contains({_PB_STOP_SQL}, t)))
               * 1000000 // len(ts) AS d
      FROM toks WHERE len(ts) > 0
    ),
    reps AS (
      SELECT r.r AS replicate,
             sum(CAST({_boot_w_sql(
                 "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' "
                 "|| CAST(r.r AS VARCHAR)), 1, 6) AS BIGINT) % " + str(_BOOT_SCALE)
             )} AS HUGEINT) * d) AS swd
      FROM deltas CROSS JOIN
           (SELECT unnest(generate_series(0, {PB_REPLICATES - 1})) AS r) r
      GROUP BY r.r
    ),
    point AS (
      SELECT count(*) AS n_docs, sum(CAST(d AS HUGEINT)) AS sd FROM deltas
    )
    SELECT CAST(p.n_docs AS BIGINT) AS n_docs,
           CAST({PB_REPLICATES} AS BIGINT) AS b,
           CAST(CASE WHEN p.sd > 0 THEN 1 WHEN p.sd < 0 THEN -1 ELSE 0 END
                AS BIGINT) AS point_sign,
           CAST(abs(p.sd) // p.n_docs AS BIGINT) AS point_abs_mean_ppm,
           CAST(sum(CASE WHEN r.swd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(sum(CASE WHEN r.swd < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
           CAST(least(1000,
                2 * least(sum(CASE WHEN r.swd <= 0 THEN 1 ELSE 0 END),
                          sum(CASE WHEN r.swd >= 0 THEN 1 ELSE 0 END))
                  * 1000 // {PB_REPLICATES}) AS BIGINT) AS p_two_sided_milli
    FROM reps r CROSS JOIN point p
    GROUP BY p.n_docs, p.sd
    """.format(tok=_TOK),
    tags=("sampling", "bootstrap", "significance", "eval", "pipeline"),
)
def paired_bootstrap_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired Poisson-bootstrap significance test between two per-
    document quality scorers (A = type-token ratio, B = content-word
    share, both integer ppm): each of {PB_REPLICATES} replicates
    reweights the per-document DELTAS with deterministic Poisson(1)
    weights, and the two-sided p-value is the sign-count rule
    2 * min(#(delta_b <= 0), #(delta_b >= 0)) / B — the "is A really
    better than B on this corpus" gate every eval harness needs before
    a leaderboard claim.  Pairing matters: resampling deltas (not each
    system independently) cancels per-document difficulty, the whole
    point of the paired test.

    Determinism: deltas are integer ppm floors; weights are the
    [[poisson_bootstrap_mean]] md5 inverse-CDF lookup (same thresholds,
    same literals); replicate sums route through HUGEINT/DECIMAL(38,0)
    (weight-5 ppm-scale products pass int64 at 100 TB doc counts); the
    p-value is an integer milli floor.  Sign conventions avoid signed
    division entirely (Spark div truncates, DuckDB // floors — they
    diverge on negatives, so only |sum| is ever divided).

    Scale shape: the replicate dimension is an in-row explode (fan-out
    {PB_REPLICATES}, constant), the replicate table is a {PB_REPLICATES}-
    group map-side-combined aggregate, and the point estimate is a
    1-row broadcast — one corpus pass, constant output, no window.

    Reference analog: none (LLM-pipeline eval surface per the brief).
    """
    d = compute_scan(spark, sf_dir, "documents")
    ts = F.col("ts")
    deltas = (
        d.select("doc_id", tokenize(F.col("text")).alias("ts"))
        .filter(F.size(ts) > 0)
        .select(
            "doc_id",
            F.expr(
                "size(array_distinct(ts)) * 1000000 div size(ts)"
                " - size(filter(ts, t -> NOT array_contains("
                "array('the','a','and','of','to','is','fast','slow'), t)))"
                " * 1000000 div size(ts)"
            ).alias("d"),
        )
    )
    reps_col = F.explode(
        F.sequence(F.lit(0), F.lit(PB_REPLICATES - 1))
    ).alias("replicate")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("doc_id").cast("string"),
                        F.col("replicate").cast("string"),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % _BOOT_SCALE
    )
    w = F.lit(5)
    for wt, t in reversed(list(enumerate(BOOT_CDF_THRESHOLDS))):
        w = F.when(u < t, wt).otherwise(w)
    reps = (
        deltas.select("doc_id", "d", reps_col)
        .select("replicate", w.cast("long").alias("w"), "d")
        .groupBy("replicate")
        .agg(F.sum(F.expr("CAST(w AS DECIMAL(38,0)) * d")).alias("swd"))
    )
    point = deltas.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.expr("CAST(d AS DECIMAL(38,0))")).alias("sd"),
    )
    return (
        reps.crossJoin(F.broadcast(point))
        .groupBy("n_docs", "sd")
        .agg(
            F.sum(F.when(F.col("swd") > 0, 1).otherwise(0)).alias("n_pos"),
            F.sum(F.when(F.col("swd") < 0, 1).otherwise(0)).alias("n_neg"),
            F.sum(F.when(F.col("swd") <= 0, 1).otherwise(0)).alias("n_le"),
            F.sum(F.when(F.col("swd") >= 0, 1).otherwise(0)).alias("n_ge"),
        )
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.lit(PB_REPLICATES).cast("long").alias("b"),
            F.signum("sd").cast("long").alias("point_sign"),
            F.expr("CAST(abs(sd) div n_docs AS BIGINT)").alias(
                "point_abs_mean_ppm"
            ),
            F.col("n_pos").cast("long").alias("n_pos"),
            F.col("n_neg").cast("long").alias("n_neg"),
            F.expr(
                f"CAST(least(1000, 2 * least(n_le, n_ge) * 1000"
                f" div {PB_REPLICATES}) AS BIGINT)"
            ).alias("p_two_sided_milli"),
        )
    )


# --- Round 9: word2vec-style negative-sampling table --------------------
#
# Unigram^0.75 smoothing without a float pow: c^0.75 == sqrt(c * sqrt(c)),
# and IEEE sqrt/multiply are bit-exact in both engines (the
# [[source_temperature_mixing]] sqrt-freeze discipline), frozen to
# integer milli-weights before any aggregation.
NEG_SMOOTH_SCALE = 1000  # milli-weights
# Token-prefix width for the distributed cumulative sum's range buckets
# (lexicographic prefix = a pure, order-preserving function of the sort
# key, so buckets are totally ordered and every token lands in exactly
# one — the curriculum_data_ordering bucketing rule applied to strings).
NEG_BUCKET_PREFIX = 2


@register(
    "negative_sampling_table",
    oracle_sql=f"""
    WITH toks AS (
      SELECT unnest({{tok}}) AS token FROM documents
    ),
    counts AS (
      SELECT token, count(*) AS cnt FROM toks GROUP BY token
    ),
    weighted AS (
      SELECT token, cnt,
             CAST(floor({NEG_SMOOTH_SCALE} * sqrt(cnt * sqrt(cnt)))
                  AS BIGINT) AS weight_milli
      FROM counts
    ),
    cum AS (
      SELECT token, cnt, weight_milli,
             coalesce(sum(weight_milli) OVER (
               ORDER BY token
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before_milli,
             sum(weight_milli) OVER () AS total_milli
      FROM weighted
    )
    SELECT token, CAST(cnt AS BIGINT) AS cnt, weight_milli,
           CAST(cum_before_milli AS BIGINT) AS cum_before_milli,
           CAST(weight_milli * 1000000 // total_milli AS BIGINT) AS prob_ppm
    FROM cum
    """.format(tok=_TOK),
    tags=("sampling", "word2vec", "negative-sampling", "pipeline"),
)
def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-sampling distribution table — the word2vec / contrastive
    training prep: unigram counts smoothed by the 3/4 power (frequent
    words damped, rare words boosted), frozen to integer milli-weights,
    with the CUMULATIVE range each token owns — a sampler draws
    u in [0, total) and binary-searches cum_before, which is exactly
    how the word2vec unigram table works; [[skipgram_cooccurrence]]
    supplies the positives this table pairs negatives against.

    Determinism: c^0.75 is computed as sqrt(c * sqrt(c)) — IEEE sqrt
    and multiply are bit-exact cross-engine, no pow/exp/ln — then
    floored to milli BEFORE summation, so the cumulative ranges and
    ppm probabilities are pure integers.

    Scale shape: one map-side-combined token aggregate (the word_count
    shuffle), then the cumulative ranges are ``functions/prefix.py``'s
    two-pass ``running_by_bucket`` over lexicographic
    {NEG_BUCKET_PREFIX}-char-prefix range buckets (prefix table rows <=
    alphabet^{NEG_BUCKET_PREFIX}) — NEVER one unpartitioned window over
    the vocabulary (a 100 TB web corpus has 10^8-10^9 raw types, hapax
    heavy).  A production word2vec table would also apply a min-count
    floor, which bounds the table further; omitted here to keep the
    exact unigram distribution.

    Reference analog: src/main.c:61-75 (word-count reduce) — this is
    that aggregate with a smoothing epilogue.
    """
    d = compute_scan(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    weighted = counts.select(
        "token",
        "cnt",
        F.floor(
            NEG_SMOOTH_SCALE * F.sqrt(F.col("cnt") * F.sqrt(F.col("cnt")))
        )
        .cast("long")
        .alias("weight_milli"),
    ).withColumn("bk", F.substring("token", 1, NEG_BUCKET_PREFIX))
    cum = running_by_bucket(weighted, "bk", ["token"], cum=F.col("weight_milli"))
    return cum.select(
        "token",
        F.col("cnt").cast("long").alias("cnt"),
        "weight_milli",
        (F.col("cum") - F.col("weight_milli"))
        .cast("long")
        .alias("cum_before_milli"),
        F.expr("CAST(weight_milli * 1000000 div cum_total AS BIGINT)").alias(
            "prob_ppm"
        ),
    )


# --- Round 10: priority sampling (weighted without-replacement) ----------
#
# Priority sampling (Duffield, Lund & Thorup, "Priority sampling for
# estimation of arbitrary subset sums", JACM 2007): item i with weight
# w_i draws u_i ~ U(0,1] and gets priority q_i = w_i / u_i; the sample
# is the top-K priorities and tau = the (K+1)-th; the Horvitz-Thompson
# style estimate for every sampled item is max(w_i, tau), which is
# unbiased for any subset sum.  Determinism: u is the md5-derived
# integer in [1, PRIO_U_SCALE] and the priority is frozen to the
# integer w * PRIO_U_SCALE div u with doc_id tie-breaks.
PRIO_SAMPLE_K = 64
PRIO_U_SCALE = 1 << 20


@register(
    "priority_sample_weighted",
    oracle_sql=f"""
    WITH w AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % {PRIO_U_SCALE} + 1 AS u
      FROM documents
    ),
    pri AS (
      SELECT doc_id, weight, u,
             weight * {PRIO_U_SCALE} // u AS priority
      FROM w
    ),
    ranked AS (
      SELECT doc_id, weight, u, priority,
             row_number() OVER (ORDER BY priority DESC, doc_id) AS rn
      FROM pri
    ),
    top AS (
      SELECT * FROM ranked WHERE rn <= {PRIO_SAMPLE_K + 1}
    ),
    tau AS (
      SELECT coalesce(max(CASE WHEN rn = {PRIO_SAMPLE_K + 1}
                                THEN priority END), 0) AS tau
      FROM top
    )
    SELECT t.doc_id, t.weight, CAST(t.u AS BIGINT) AS u,
           CAST(t.priority AS BIGINT) AS priority,
           CAST(t.rn AS BIGINT) AS sample_rank,
           CAST(greatest(t.weight, x.tau) AS BIGINT) AS est_weight
    FROM top t CROSS JOIN tau x
    WHERE t.rn <= {PRIO_SAMPLE_K}
    """,
    tags=("sampling", "weighted", "priority", "pipeline"),
)
def priority_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling — weighted without-replacement document sample
    with an UNBIASED subset-sum estimator (Duffield-Lund-Thorup): each
    doc's priority is weight/u for an md5-derived deterministic
    u in (0,1], the sample is the top-{PRIO_SAMPLE_K} priorities, and
    every sampled doc carries est_weight = max(weight, tau) with tau =
    the ({PRIO_SAMPLE_K + 1})-th priority — summing est_weight over any
    sampled subset estimates that subset's true weight, the one-pass
    weighted-sampling primitive a corpus-mixing pipeline audits with
    ([[source_token_budget_mix]] decides budgets; this VERIFIES them
    from a bounded sample).  Priorities are frozen integers
    (w * {PRIO_U_SCALE} div u, doc_id tie-breaks), so the sample is a
    pure function of the corpus.

    Scale shape: one narrow map computes (weight, u, priority); the
    top-(K+1) is TakeOrdered (per-partition heads + driver merge of
    K+1-row fronts — NO global sort, NO SinglePartition exchange of
    the corpus); tau and ranks live on the (K+1)-row front.  At 100 TB
    this is the textbook one-pass distributed weighted sample.

    Reference analog: none (LLM-pipeline sampling surface).
    """
    d = parallel_scan(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("weight")
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % PRIO_U_SCALE
        + 1
    )
    pri = d.select(
        "doc_id",
        "weight",
        u.alias("u"),
        F.expr(f"weight * {PRIO_U_SCALE} div"
               f" (CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8),"
               f" 16, 10) AS BIGINT) % {PRIO_U_SCALE} + 1)").alias("priority"),
    )
    top = pri.orderBy(F.desc("priority"), "doc_id").limit(PRIO_SAMPLE_K + 1)
    w_rn = Window.orderBy(F.desc("priority"), "doc_id")
    w_all = Window.partitionBy()
    ranked = top.withColumn("rn", F.row_number().over(w_rn)).withColumn(
        "tau",
        F.coalesce(
            F.max(
                F.when(
                    F.col("rn") == PRIO_SAMPLE_K + 1, F.col("priority")
                )
            ).over(w_all),
            F.lit(0),
        ),
    )
    return ranked.filter(F.col("rn") <= PRIO_SAMPLE_K).select(
        "doc_id",
        "weight",
        F.col("u").cast("long").alias("u"),
        F.col("priority").cast("long").alias("priority"),
        F.col("rn").cast("long").alias("sample_rank"),
        F.greatest("weight", "tau").cast("long").alias("est_weight"),
    )


# --- Round 10: UniMax budget allocation (water-filling, epoch caps) ------
#
# UniMax sampling (Chung et al., "UniMax: Fairer and More Effective
# Language Sampling for Large-Scale Multilingual Pretraining", ICLR
# 2023): spread a total token budget UNIFORMLY across sources, except
# no source may exceed its epoch cap — the water-filling allocation.
# Closed form, no iteration: sort languages by size ascending; caps bind
# smallest-first, so the capped prefix is the longest prefix where
# cap_k * (languages remaining at k) <= budget remaining at k, and every
# uncapped language gets the equal share of what the capped prefix left.
# The budget is 4/5 of total corpus tokens and the cap is 0.6 epochs
# (milli units), so both branches exercise on any fixture.
UNIMAX_CAP_MILLI = 1200  # max epochs per language, in milli-epochs
UNIMAX_BUDGET_NUM, UNIMAX_BUDGET_DEN = 4, 5  # budget = 4/5 of corpus


@register(
    "unimax_budget_allocation",
    oracle_sql=f"""
    WITH per AS (
      SELECT lang,
             CAST(sum(len({{tok}})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    sized AS (
      SELECT lang, n_tokens,
             n_tokens * {UNIMAX_CAP_MILLI} // 1000 AS cap_tokens,
             row_number() OVER (ORDER BY n_tokens, lang) AS rn,
             count(*) OVER () AS n_src,
             (sum(n_tokens) OVER ()) * {UNIMAX_BUDGET_NUM}
               // {UNIMAX_BUDGET_DEN} AS budget,
             coalesce(sum(n_tokens * {UNIMAX_CAP_MILLI} // 1000) OVER (
               ORDER BY n_tokens, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS pre_caps
      FROM per
    ),
    marked AS (
      SELECT *,
             CASE WHEN cap_tokens * (n_src - rn + 1) <= budget - pre_caps
                  THEN rn ELSE 0 END AS ok_rn
      FROM sized
    ),
    m AS (
      SELECT max(ok_rn) AS m,
             coalesce(max(CASE WHEN ok_rn > 0 THEN pre_caps + cap_tokens
                          END), 0) AS capped_total
      FROM marked
    )
    SELECT s.lang, s.n_tokens,
           CAST(s.cap_tokens AS BIGINT) AS cap_tokens,
           CAST(CASE WHEN s.rn <= m.m THEN 1 ELSE 0 END AS BIGINT)
             AS is_capped,
           CAST(CASE WHEN s.rn <= m.m THEN s.cap_tokens
                     ELSE least(s.cap_tokens,
                                (s.budget - m.capped_total)
                                  // (s.n_src - m.m))
                END AS BIGINT) AS budget_tokens,
           CAST(CASE WHEN s.rn <= m.m THEN s.cap_tokens
                     ELSE least(s.cap_tokens,
                                (s.budget - m.capped_total)
                                  // (s.n_src - m.m))
                END * 1000 // s.n_tokens AS BIGINT) AS epochs_milli
    FROM sized s CROSS JOIN m
    """.format(tok=_TOK),
    tags=("sampling", "mixing", "unimax", "pipeline"),
)
def unimax_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax corpus mixing: allocate {UNIMAX_BUDGET_NUM}/
    {UNIMAX_BUDGET_DEN} of the corpus token budget across languages as
    uniformly as possible subject to a {UNIMAX_CAP_MILLI}-milli-epoch
    per-language cap — the water-filling allocation, in closed form:
    caps bind smallest-language-first, the capped prefix is the longest
    ascending prefix whose cap times remaining languages fits the
    remaining budget, and every uncapped language splits the remainder
    equally.  The fairer alternative to
    [[source_temperature_mixing]]'s power-law weights (no tuned
    temperature; repetition bounded by the epoch cap directly).

    Scale shape: the corpus-sized stage is one map-side-combined
    token-count aggregate onto the LANGUAGE grain; everything after
    (sort, prefix sums, the m search, shares) runs on the tiny language
    table — the bounded-table exception to the no-global-window rule.

    Reference analog: none (LLM-pipeline mixing surface per the brief).
    """
    d = compute_scan(spark, sf_dir, "documents")
    per = (
        d.select("lang", tokenize(F.col("text")).alias("ts"))
        .groupBy("lang")
        .agg(F.sum(F.size("ts")).cast("long").alias("n_tokens"))
    )
    w_ord = Window.orderBy("n_tokens", "lang")
    w_all = Window.partitionBy()
    w_pre = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    sized = per.select(
        "lang",
        "n_tokens",
        F.expr(f"n_tokens * {UNIMAX_CAP_MILLI} div 1000").alias(
            "cap_tokens"
        ),
        F.row_number().over(w_ord).alias("rn"),
        F.count("*").over(w_all).alias("n_src"),
        F.expr(
            f"sum(n_tokens) OVER () * {UNIMAX_BUDGET_NUM}"
            f" div {UNIMAX_BUDGET_DEN}"
        ).alias("budget"),
        F.coalesce(
            F.sum(
                F.expr(f"n_tokens * {UNIMAX_CAP_MILLI} div 1000")
            ).over(w_pre),
            F.lit(0),
        ).alias("pre_caps"),
    ).cache()  # source-grain table, consumed by m and the emit
    marked = sized.withColumn(
        "ok_rn",
        F.when(
            F.col("cap_tokens") * (F.col("n_src") - F.col("rn") + 1)
            <= F.col("budget") - F.col("pre_caps"),
            F.col("rn"),
        ).otherwise(0),
    )
    m = marked.agg(
        F.max("ok_rn").alias("m"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("ok_rn") > 0,
                    F.col("pre_caps") + F.col("cap_tokens"),
                )
            ),
            F.lit(0),
        ).alias("capped_total"),
    )
    alloc = F.expr(
        "CASE WHEN rn <= m THEN cap_tokens"
        " ELSE least(cap_tokens,"
        " (budget - capped_total) div (n_src - m)) END"
    )
    return sized.crossJoin(F.broadcast(m)).select(
        "lang",
        "n_tokens",
        F.col("cap_tokens").cast("long").alias("cap_tokens"),
        F.when(F.col("rn") <= F.col("m"), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_capped"),
        alloc.cast("long").alias("budget_tokens"),
        F.expr(
            "CAST((CASE WHEN rn <= m THEN cap_tokens"
            " ELSE least(cap_tokens,"
            " (budget - capped_total) div (n_src - m)) END) * 1000"
            " div n_tokens AS BIGINT)"
        ).alias("epochs_milli"),
    )


# --- Round 10b: Gumbel-max weighted sampling per group --------------------
#
# The Gumbel-max trick as a GROUPED weighted sampler: key = ln(w) -
# ln(-ln(u)) with a deterministic md5 uniform; the top-K keys per
# group ARE a weighted-without-replacement sample (argmax of
# Gumbel-perturbed log-weights == categorical draw).  The per-source
# companion to the global [[priority_sample_weighted]]: same
# one-pass/no-RNG discipline, different estimator family (Gumbel-max
# draws follow the weight distribution exactly; priority sampling
# optimizes subset-sum estimation).
GUMBEL_K = 5
GUMBEL_SEED_SPACE = 1_048_576  # 2^20 — 5 hex digits of md5(doc_id)


@register(
    "gumbel_weighted_sample_per_group",
    oracle_sql=f"""
    WITH keyed AS (
      SELECT source, doc_id, n_chars,
             CAST(round((ln(CAST(n_chars AS DOUBLE))
                         - ln(-ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 5)
                                        AS BIGINT) % {GUMBEL_SEED_SPACE} + 0.5)
                                  / {GUMBEL_SEED_SPACE})))
                        * 1000000) AS BIGINT) AS gumbel_micro
      FROM documents WHERE n_chars > 0
    )
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS weight, gumbel_micro,
           CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY source
                                       ORDER BY gumbel_micro DESC, doc_id)
                    AS rk
          FROM keyed)
    WHERE rk <= {GUMBEL_K}
    """,
    tags=("sampling", "weighted", "gumbel", "pipeline"),
)
def gumbel_weighted_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source weighted sample via the Gumbel-max trick: each doc
    gets key ln(weight) - ln(-ln(u)) (weight = n_chars, u a
    deterministic md5 uniform — the [[dp_laplace_source_histogram]]
    seed rule), and the top-{GUMBEL_K} keys per source are a
    without-replacement draw from the weight distribution — the
    grouped, distribution-faithful complement to
    [[priority_sample_weighted]]'s global subset-sum-optimal sample,
    and the sampler behind Gumbel-top-k data selection in training
    pipelines.

    Exactness: one pinned double (two ln calls over exact integers)
    frozen to micro BEFORE ranking, so the rank order is integer;
    ties break by doc_id.

    Scale shape: in-row key computation; one source-partitioned
    top-k window — WindowGroupLimit keeps per-group state at K, the
    [[window_topk_per_group]] plan.

    Reference analog: none (LLM-pipeline surface per the brief).
    """
    d = parallel_scan(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 5), 16, 10
        ).cast("long")
        % GUMBEL_SEED_SPACE
        + F.lit(0.5)
    ) / F.lit(float(GUMBEL_SEED_SPACE))
    keyed = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.round(
            (
                F.log(F.col("n_chars").cast("double"))
                - F.log(-F.log(u))
            )
            * 1000000
        )
        .cast("long")
        .alias("gumbel_micro"),
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("gumbel_micro"), F.asc("doc_id")
    )
    return (
        keyed.select("*", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= GUMBEL_K)
        .select(
            "source",
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            "gumbel_micro",
            F.col("rk").cast("long").alias("rank"),
        )
    )

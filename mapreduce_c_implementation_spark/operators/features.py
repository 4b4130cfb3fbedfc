"""Feature-engineering operators — the tabular-side preprocessing a
training-data pipeline runs next to the text/embedding ops: equi-depth
quantile binning and deterministic label encoding.

Both are built purely from window/aggregate primitives (no fitted
"model" object — the fit IS a query), deterministic under any
partitioning via total-order tie-breaks, and exactly reproducible in the
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_c_implementation_spark.functions.prefix import range_id, running_by_bucket
from mapreduce_c_implementation_spark.registry import register
from mapreduce_c_implementation_spark.sources import load_table

N_BINS = 10
RANK_PARTS = 32


@register(
    "feature_quantile_bins",
    oracle_sql=f"""
    WITH binned AS (
      SELECT o_orderkey, o_totalprice,
             ntile({N_BINS}) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
      FROM orders
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           min(o_totalprice) AS lo, max(o_totalprice) AS hi
    FROM binned
    GROUP BY bin
    ORDER BY bin
    """,
    tags=("features", "binning", "window"),
)
def feature_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth quantile binning (the QuantileDiscretizer shape):
    exact ntile({N_BINS}) semantics over a TOTAL order (value, then key
    — ties broken deterministically, so bin edges cannot depend on
    partition layout), reported as per-bin count and [lo, hi] envelope.

    A bare ``ntile() OVER (ORDER BY ...)`` moves the whole table into
    ONE window task (ADVICE r2) — instead the global rank is
    ``functions/prefix.py``'s two-pass ``running_by_bucket`` over
    {RANK_PARTS} approxQuantile value ranges (``range_id``).  The ntile
    bucket is then pure arithmetic on (rank, total): with
    q = n div {N_BINS}, r = n mod {N_BINS}, the first r buckets take
    q+1 rows and the rest q — byte-identical to the oracle's ntile.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    cuts = o.approxQuantile(
        "o_totalprice", [i / RANK_PARTS for i in range(1, RANK_PARTS)], 0.01
    )
    pid = range_id(F.col("o_totalprice"), cuts).alias("pid")
    keyed = o.select("o_orderkey", "o_totalprice", pid)
    ranked = running_by_bucket(keyed, "pid", ["o_totalprice", "o_orderkey"], rk=None)
    rank = F.col("rk")
    q = F.floor(F.col("rk_total") / N_BINS)
    r = F.col("rk_total") % N_BINS
    cut = r * (q + 1)  # ranks <= cut live in the first r (fat) buckets
    binned = ranked.select(
        "o_totalprice",
        F.when(rank <= cut, F.floor((rank - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((rank - cut - 1) / q) + 1)
        .cast("int")
        .alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bin")
    )


@register(
    "feature_label_encode",
    oracle_sql="""
    WITH vocab AS (
      SELECT c_mktsegment,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(row_number() OVER (ORDER BY count(*) DESC, c_mktsegment ASC)
                  - 1 AS BIGINT) AS label_idx
      FROM customer
      GROUP BY c_mktsegment
    )
    SELECT c.c_custkey, c.c_mktsegment, v.label_idx
    FROM customer c
    JOIN vocab v ON v.c_mktsegment = c.c_mktsegment
    ORDER BY c.c_custkey
    """,
    tags=("features", "encoding"),
)
def feature_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ordered label encoding (the StringIndexer shape):
    categories rank by descending frequency with a lexicographic
    tie-break — fully deterministic, unlike hash-based encoders — and
    the vocabulary joins back to assign each row its integer index.

    Scale: the vocabulary is category-cardinality-sized; it is joined
    WITHOUT a broadcast hint so Catalyst broadcasts it only while it
    actually fits (the TF-IDF vocabulary rule — at 100 TB a string
    column can hold billions of categories, and the join must be
    allowed to fall back to a keyed shuffle).
    """
    c = load_table(spark, sf_dir, "customer")
    vocab = (
        c.groupBy("c_mktsegment")
        .agg(F.count("*").cast("long").alias("freq"))
        .select(
            F.col("c_mktsegment").alias("v_seg"),
            (
                F.row_number().over(
                    Window.orderBy(F.desc("freq"), F.asc("c_mktsegment"))
                )
                - 1
            ).cast("long").alias("label_idx"),
        )
    )
    return (
        c.join(vocab, c.c_mktsegment == F.col("v_seg"))
        .select("c_custkey", "c_mktsegment", "label_idx")
        .orderBy("c_custkey")
    )


SCALE_BP = 10_000  # min-max scaling resolution (basis points)


@register(
    "feature_minmax_scale",
    oracle_sql=f"""
    WITH stats AS (
      SELECT o_orderpriority,
             min(o_totalprice) AS mn, max(o_totalprice) AS mx
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderkey, o.o_orderpriority,
           CAST(CASE WHEN s.mx > s.mn
                     THEN floor((o.o_totalprice - s.mn) * {SCALE_BP} / (s.mx - s.mn))
                     ELSE 0 END AS BIGINT) AS scaled_bp
    FROM orders o JOIN stats s ON s.o_orderpriority = o.o_orderpriority
    ORDER BY o.o_orderkey
    """,
    tags=("features", "scaling"),
)
def feature_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group min-max scaling (the MinMaxScaler shape, made exactly
    reproducible): each order's total price maps to `[0, {SCALE_BP}]`
    basis points within its ``o_orderpriority`` group via
    ``floor((x - min) * {SCALE_BP} / (max - min))``.

    Cross-engine determinism: the scaled value is a single IEEE
    expression — one subtract, one multiply, one divide, in a pinned
    order — over the SAME doubles in both engines, then floored to an
    integer; there is no accumulated float (the group min/max are exact
    selections, not sums), so the result is bit-identical whatever the
    partitioning.  Degenerate groups (max == min) pin to 0.

    Scale shape: one partial/final groupBy over the fact table computes
    the per-group envelope (group-cardinality-sized — broadcast by
    size, same rule as [[feature_label_encode]]'s vocabulary), then one
    narrow codegen'd map applies the affine transform.  The fact table
    is touched twice and never shuffled on a data-dependent key; at
    100 TB the stats pass is a metadata-sized aggregate and the apply
    pass pipelines into whatever consumes the feature.  The ORDER BY
    is presentation-only (driver compare), not part of the contract.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    stats = o.groupBy("o_orderpriority").agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    ).withColumnRenamed("o_orderpriority", "s_prio")
    return (
        o.join(stats, o.o_orderpriority == F.col("s_prio"))
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.when(
                F.col("mx") > F.col("mn"),
                F.floor(
                    (F.col("o_totalprice") - F.col("mn"))
                    * SCALE_BP
                    / (F.col("mx") - F.col("mn"))
                ),
            )
            .otherwise(0)
            .cast("long")
            .alias("scaled_bp"),
        )
        .orderBy("o_orderkey")
    )


TE_SMOOTH_M = 10  # pseudo-count weight of the global mean (smoothing prior)

# trunc-toward-zero integer division (DuckDB `//` floors, Spark `div`
# truncates; account balances go negative, so pin trunc in both).
_SQL_TDIV = "(CASE WHEN {u} >= 0 THEN ({u}) // ({m}) ELSE -((-({u})) // ({m})) END)"


@register(
    "feature_target_encode",
    oracle_sql=f"""
    WITH cents AS (
      SELECT c_custkey, c_mktsegment,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer
    ),
    gstats AS (
      SELECT {_SQL_TDIV.format(u="sum(bal_cents)", m="count(*)")} AS gmean
      FROM cents
    ),
    enc AS (
      SELECT c_mktsegment,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST({_SQL_TDIV.format(
                 u=f"sum(bal_cents) + {TE_SMOOTH_M} * any_value(g.gmean)",
                 m=f"count(*) + {TE_SMOOTH_M}")} AS BIGINT) AS enc_cents
      FROM cents CROSS JOIN gstats g
      GROUP BY c_mktsegment
    )
    SELECT c.c_custkey, c.c_mktsegment, e.n_rows, e.enc_cents
    FROM cents c JOIN enc e ON e.c_mktsegment = c.c_mktsegment
    ORDER BY c.c_custkey
    """,
    tags=("features", "encoding", "target"),
)
def feature_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean-target encoding (the classic high-cardinality
    categorical encoder): category -> ``(sum_y + m*global_mean) /
    (n + m)`` with pseudo-count m={TE_SMOOTH_M}, so rare categories
    shrink toward the global mean instead of memorizing noise.

    Exactness: the target (account balance) is converted to integer
    CENTS up front — ``round(x*100)`` is exact for 2-decimal money —
    and every statistic after that is int64 arithmetic: sums are
    order-free, the global mean and the encoded value use
    trunc-toward-zero division pinned identically in both engines
    (DuckDB ``//`` floors, Spark ``div`` truncates — balances go
    negative, where the two differ by 1).

    Scale shape: one partial/final groupBy builds the category table,
    the 1-row global mean broadcasts onto it (tiny x tiny cross join),
    and the encoded vocabulary joins back WITHOUT a forced broadcast
    hint — the [[feature_label_encode]] rule: category cardinality is
    unbounded at 100 TB, so Catalyst must be free to fall back to a
    keyed shuffle join.  The fact table is never shuffled on a
    data-dependent key.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    glob = c.agg(
        F.expr("sum(bal_cents) div count(*)").alias("gmean")
    )
    enc = (
        c.crossJoin(F.broadcast(glob))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.expr(
                f"(sum(bal_cents) + {TE_SMOOTH_M} * any_value(gmean))"
                f" div (count(*) + {TE_SMOOTH_M})"
            )
            .cast("long")
            .alias("enc_cents"),
        )
        .withColumnRenamed("c_mktsegment", "e_seg")
    )
    return (
        c.join(enc, c.c_mktsegment == F.col("e_seg"))
        .select("c_custkey", "c_mktsegment", "n_rows", "enc_cents")
        .orderBy("c_custkey")
    )


@register(
    "feature_rank_normalize",
    oracle_sql="""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS rnk,
             count(*) OVER (PARTITION BY source) AS n
      FROM documents
    )
    SELECT doc_id, source,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rnk AS BIGINT) AS rnk,
           CAST((rnk - 1) * 1000000 // greatest(n - 1, 1) AS BIGINT)
             AS rank_ppm
    FROM ranked
    """,
    tags=("features", "normalize", "pipeline"),
)
def feature_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group rank (quantile) normalization: each document's length
    maps to its within-source rank position in [0, 1e6] ppm — the
    distribution-free normalizer (quantile transform) that makes a
    feature comparable ACROSS sources with different length regimes,
    where [[feature_minmax_scale]]'s linear map stays hostage to each
    group's outliers.  Ties break on doc_id, so the map is a total
    order and bit-reproducible.

    Scale shape: one row_number + count window PARTITIONED BY the
    group key — the same keyed shuffle every per-group rank op here
    uses; no global window.  The ppm is a non-negative integer floor
    division (truncate == floor).
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wc = Window.partitionBy("source")
    return d.select("doc_id", "source", "n_chars").select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.row_number().over(w).cast("long").alias("rnk"),
        F.count("*").over(wc).alias("n"),
    ).select(
        "doc_id",
        "source",
        "n_chars",
        "rnk",
        F.expr(
            "CAST((rnk - 1) * 1000000L div greatest(n - 1, 1L) AS BIGINT)"
        ).alias("rank_ppm"),
    )


# WOE/IV screen: fixed-width n_chars buckets (global-ntile-free, the
# feature_quantile_bins de-weak rule), binary label = doc is English.
WOE_BUCKET_W = 100
WOE_NBUCKETS = 10


@register(
    "woe_information_value",
    oracle_sql=f"""
    WITH labeled AS (
      SELECT least(n_chars // {WOE_BUCKET_W}, {WOE_NBUCKETS - 1}) AS bucket,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    cells AS (
      SELECT bucket, sum(y) AS pos, sum(1 - y) AS neg
      FROM labeled GROUP BY bucket
    ),
    tot AS (
      SELECT sum(pos) AS np, sum(neg) AS nn, count(*) AS b FROM cells
    )
    SELECT c.bucket,
           CAST(c.pos AS BIGINT) AS n_pos,
           CAST(c.neg AS BIGINT) AS n_neg,
           CAST(round(ln((CAST(c.pos + 1 AS DOUBLE) / (t.np + t.b))
                         / (CAST(c.neg + 1 AS DOUBLE) / (t.nn + t.b)))
                      * 1000000) AS BIGINT) AS woe_micro,
           CAST(((c.pos + 1) * 1000000 // (t.np + t.b)
                 - (c.neg + 1) * 1000000 // (t.nn + t.b))
                * CAST(round(ln((CAST(c.pos + 1 AS DOUBLE) / (t.np + t.b))
                                / (CAST(c.neg + 1 AS DOUBLE) / (t.nn + t.b)))
                             * 1000000) AS BIGINT) AS BIGINT) AS iv_pico
    FROM cells c CROSS JOIN tot t
    ORDER BY c.bucket
    """,
    tags=("features", "selection", "woe", "pipeline"),
)
def woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value feature screen: document
    length falls into {WOE_NBUCKETS} fixed {WOE_BUCKET_W}-char buckets,
    and each bucket reports its add-one-smoothed WOE
    ln((pos_share)/(neg_share)) in micro-nats plus its IV contribution
    (share-delta x WOE, pico units; IV = the column sum) against the
    binary is-English label — the classic monotone-feature screen a
    pipeline runs before spending on a learned quality model, and the
    bucketed-continuous-feature sibling of
    [[token_label_mutual_information]] (token grain) and
    [[chi_square_contingency]] (categorical grain).  Reference analog:
    none (LLM-pipeline surface per the brief).

    Exactness: counts are exact integers; each WOE is ONE pinned ln
    over smoothed integer ratios frozen to micro; shares are ppm floor
    divisions, so the IV product is an exact integer in pico units.
    Fixed-width buckets, not quantiles — a global-sort ntile is a
    single-partition bottleneck at scale (the [[feature_quantile_bins]]
    de-weak rule).

    Scale shape: one narrow scan -> {WOE_NBUCKETS}-cell map-side-
    combined aggregate -> 1-row totals broadcast.  Constant
    post-aggregate work at any corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    labeled = d.select(
        F.least(
            F.expr(f"n_chars div {WOE_BUCKET_W}"), F.lit(WOE_NBUCKETS - 1)
        ).alias("bucket"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    cells = labeled.groupBy("bucket").agg(
        F.sum("y").alias("pos"), F.sum(F.lit(1) - F.col("y")).alias("neg")
    )
    tot = cells.agg(
        F.sum("pos").alias("np"), F.sum("neg").alias("nn"),
        F.count("*").alias("b"),
    )
    woe = (
        "CAST(round(ln((CAST(pos + 1 AS DOUBLE) / (np + b))"
        " / (CAST(neg + 1 AS DOUBLE) / (nn + b))) * 1000000) AS BIGINT)"
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.col("pos").cast("long").alias("n_pos"),
            F.col("neg").cast("long").alias("n_neg"),
            F.expr(woe).alias("woe_micro"),
            F.expr(
                "CAST(((pos + 1) * 1000000 div (np + b)"
                f" - (neg + 1) * 1000000 div (nn + b)) * {woe}"
                " AS BIGINT)"
            ).alias("iv_pico"),
        )
        .orderBy("bucket")
    )


TE_OOF_FOLDS = 5


@register(
    "feature_target_encode_oof",
    oracle_sql=f"""
    WITH cents AS (
      SELECT c_custkey, c_mktsegment, c_custkey % {TE_OOF_FOLDS} AS fold,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer
    ),
    cat_fold AS (
      SELECT c_mktsegment, fold,
             CAST(count(*) AS BIGINT) AS n_cf,
             CAST(sum(bal_cents) AS BIGINT) AS s_cf
      FROM cents GROUP BY 1, 2
    ),
    cat_tot AS (
      SELECT c_mktsegment,
             CAST(sum(n_cf) AS BIGINT) AS n_c,
             CAST(sum(s_cf) AS BIGINT) AS s_c
      FROM cat_fold GROUP BY 1
    ),
    fold_tot AS (
      SELECT fold,
             CAST(sum(n_cf) AS BIGINT) AS n_f,
             CAST(sum(s_cf) AS BIGINT) AS s_f
      FROM cat_fold GROUP BY 1
    ),
    g_tot AS (
      SELECT CAST(sum(n_f) AS BIGINT) AS n_g, CAST(sum(s_f) AS BIGINT) AS s_g
      FROM fold_tot
    ),
    enc AS (
      SELECT cf.c_mktsegment, cf.fold,
             CAST({_SQL_TDIV.format(u="g.s_g - f.s_f", m="g.n_g - f.n_f")}
                  AS BIGINT) AS gmean_oof,
             CAST({_SQL_TDIV.format(
                 u=f"ct.s_c - cf.s_cf + {TE_SMOOTH_M} * "
                   f"{_SQL_TDIV.format(u='g.s_g - f.s_f', m='g.n_g - f.n_f')}",
                 m=f"ct.n_c - cf.n_cf + {TE_SMOOTH_M}")} AS BIGINT)
               AS enc_cents
      FROM cat_fold cf
      JOIN cat_tot ct USING (c_mktsegment)
      JOIN fold_tot f USING (fold)
      CROSS JOIN g_tot g
    )
    SELECT c.c_custkey, c.c_mktsegment, c.fold, e.gmean_oof, e.enc_cents
    FROM cents c
    JOIN enc e ON e.c_mktsegment = c.c_mktsegment AND e.fold = c.fold
    ORDER BY c.c_custkey
    """,
    tags=("features", "encoding", "target", "leakage"),
)
def feature_target_encode_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUT-OF-FOLD smoothed target encoding — [[feature_target_encode]]
    made leakage-free for training: each row's encoding uses only the
    OTHER {TE_OOF_FOLDS - 1} folds' statistics (category sums minus the
    row's own fold's contribution, global mean likewise), so the
    encoded feature never contains the row's own label — the
    train-time discipline whose absence [[cross_split_leakage_audit]]
    would flag as target leakage.  Smoothing prior m={TE_SMOOTH_M}
    shrinks rare (category, fold-complement) cells toward the
    fold-complement global mean.

    Exactness: integer cents, all sums int64; both divisions use the
    pinned trunc-toward-zero form (balances go negative, where Spark's
    ``div`` and DuckDB's ``//`` differ by 1).

    Scale shape: ONE map-side-combined aggregate to the (category,
    fold) grain; category totals, fold totals and the global total all
    roll up from that tiny table; the encoded (category, fold)
    vocabulary joins back without a forced broadcast (the
    [[feature_target_encode]] rule — category cardinality is unbounded
    at 100 TB).  The fact table is aggregated once and joined once.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_custkey") % TE_OOF_FOLDS).alias("fold"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    cat_fold = c.groupBy("c_mktsegment", "fold").agg(
        F.count("*").cast("long").alias("n_cf"),
        F.sum("bal_cents").cast("long").alias("s_cf"),
    )
    cat_tot = cat_fold.groupBy("c_mktsegment").agg(
        F.sum("n_cf").cast("long").alias("n_c"),
        F.sum("s_cf").cast("long").alias("s_c"),
    )
    fold_tot = cat_fold.groupBy("fold").agg(
        F.sum("n_cf").cast("long").alias("n_f"),
        F.sum("s_cf").cast("long").alias("s_f"),
    )
    g_tot = fold_tot.agg(
        F.sum("n_f").cast("long").alias("n_g"),
        F.sum("s_f").cast("long").alias("s_g"),
    )
    # Spark div truncates toward zero already — the pinned semantics.
    enc = (
        cat_fold.join(cat_tot, "c_mktsegment")
        .join(F.broadcast(fold_tot), "fold")
        .crossJoin(F.broadcast(g_tot))
        .select(
            "c_mktsegment",
            "fold",
            F.expr("(s_g - s_f) div (n_g - n_f)")
            .cast("long")
            .alias("gmean_oof"),
            F.expr(
                f"(s_c - s_cf + {TE_SMOOTH_M} * ((s_g - s_f) div (n_g - n_f)))"
                f" div (n_c - n_cf + {TE_SMOOTH_M})"
            )
            .cast("long")
            .alias("enc_cents"),
        )
    )
    return (
        c.join(enc, ["c_mktsegment", "fold"])
        .select("c_custkey", "c_mktsegment", "fold", "gmean_oof", "enc_cents")
        .orderBy("c_custkey")
    )

"""Robust / diagnostic statistics the reference's reducer family implies.

The reference's aggregation surface is count/sum per key
(/root/reference/src/main.c:61-75); a data-quality layer over the same
shuffle adds the classic screening statistics: Benford first-digit
drift (fabricated-data detector), per-group mode, exact least-squares
trend, and winsorized means.  Everything is integer / fixed-point by
construction — no float mean, stddev, or interpolated percentile ever
forms — so the DuckDB oracle hash-matches exactly (the discipline set
by time_weighted_avg and group_mad_outliers).

Scale shape: every op is one scan + one keyed aggregate (+ a broadcast
of a per-group baseline where needed).  The winsorized mean uses exact
per-group order statistics via row_number — one window shuffle on the
group key, the same partitioning the top-k family uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_c_implementation_spark.registry import register
from mapreduce_c_implementation_spark.functions.prefix import running_by_bucket
from mapreduce_c_implementation_spark.functions.text import DUCKDB_TOKENIZE, tokenize
from mapreduce_c_implementation_spark.sources import load_table
from mapreduce_c_implementation_spark.sources.tables import compute_scan

# DuckDB mirror of the shared ASCII tokenizer, over documents.text.
_TOK = DUCKDB_TOKENIZE.format(col="text")

# floor(log10(1 + 1/d) * 1000) for d = 1..9 — Benford's law in
# per-mille.  Public constants (Benford 1938), precomputed so neither
# engine evaluates log10 at query time.
BENFORD_PM = {1: 301, 2: 176, 3: 124, 4: 96, 5: 79, 6: 66, 7: 57, 8: 51, 9: 45}
_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {pm}" for d, pm in BENFORD_PM.items()
)


@register(
    "benford_first_digit",
    oracle_sql=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    tot AS (SELECT count(*) AS n FROM digits)
    SELECT d.digit,
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(count(*) * 1000 // max(t.n) AS BIGINT) AS obs_pm,
           CAST(CASE d.digit {_BENFORD_CASE} END AS BIGINT) AS benford_pm,
           CAST(abs(count(*) * 1000 // max(t.n)
                    - CASE d.digit {_BENFORD_CASE} END) AS BIGINT) AS drift_pm
    FROM digits d, tot t
    GROUP BY d.digit
    ORDER BY d.digit
    """,
    tags=("stats", "quality", "benford"),
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs Benford's
    law — the classic fraud / synthetic-data screen (natural
    multiplicative amounts follow P(d) = log10(1 + 1/d); a flat or
    spiked digit mix flags fabricated values).

    Exactness: the first digit comes from the DECIMAL STRING of
    floor(amount) — never from ``floor(x / 10^floor(log10 x))``, whose
    float log10 misclassifies exact powers of ten by one ulp.  Observed
    shares are integer per-mille (floor), expected shares are
    precomputed public constants, so the drift column is a pure BIGINT
    difference.

    Scale shape: one scan -> 9-row aggregate (map-side combined); the
    grand total is a one-row broadcast folded in as max(n) over the
    crossJoin, so there is no second pass and no collect.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    tot = digits.agg(F.count("*").alias("n"))
    benford = F.expr(f"CAST(CASE digit {_BENFORD_CASE} END AS BIGINT)")
    return (
        digits.crossJoin(F.broadcast(tot))
        .groupBy("digit")
        .agg(
            F.count("*").alias("n_obs"),
            F.expr("CAST(count(*) * 1000L div max(n) AS BIGINT)").alias("obs_pm"),
        )
        .select(
            "digit",
            "n_obs",
            "obs_pm",
            benford.alias("benford_pm"),
            F.abs(F.col("obs_pm") - benford).cast("long").alias("drift_pm"),
        )
        .orderBy("digit")
    )


@register(
    "group_mode_frequent",
    oracle_sql="""
    WITH counts AS (
      SELECT c.c_mktsegment, o.o_orderpriority, count(*) AS n
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_mktsegment, o.o_orderpriority
    ),
    ranked AS (
      SELECT c_mktsegment, o_orderpriority, n,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY n DESC, o_orderpriority) AS rn
      FROM counts
    )
    SELECT c_mktsegment,
           o_orderpriority AS mode_priority,
           CAST(n AS BIGINT) AS n_mode
    FROM ranked WHERE rn = 1
    ORDER BY c_mktsegment
    """,
    tags=("stats", "aggregate", "mode"),
)
def group_mode_frequent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group MODE with a deterministic tie-break — "the most common
    order priority per market segment".  Spark 3.4+ has ``mode()``, but
    its tie choice is undefined; the count -> row_number(count DESC,
    value ASC) formulation pins ties to the smallest value, which is
    what makes the result reproducible and oracle-checkable.

    Scale shape: the raw stream reduces FIRST to (group, value) counts
    — map-side combined, cardinality = |groups| x |values|, tiny — and
    only that table enters the window.  Never window over raw events
    to find a mode; the pre-aggregate is what keeps the window input
    bounded at any corpus size.  The customer dim broadcasts.
    """
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    counts = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("n"), F.asc("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").cast("long").alias("n_mode"),
        )
        .orderBy("c_mktsegment")
    )


# Least-squares scale: slope/intercept reported in exact micro-units.
REGR_SCALE = 1_000_000


@register(
    "group_linear_regression",
    oracle_sql=f"""
    WITH pts AS (
      SELECT c.c_nationkey AS nationkey,
             CAST(datediff('day', DATE '1970-01-01', o.o_orderdate) AS BIGINT) AS x,
             CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    m AS (
      SELECT nationkey, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM pts GROUP BY nationkey
    )
    SELECT nationkey, CAST(n AS BIGINT) AS n,
           CAST(CASE WHEN n * sxx - sx * sx > 0
                THEN sign(n * sxy - sx * sy)
                ELSE 0 END AS BIGINT) AS slope_sign,
           CAST(CASE WHEN n * sxx - sx * sx > 0
                THEN (abs(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
                      * {REGR_SCALE}) // (CAST(n AS HUGEINT) * sxx
                                          - CAST(sx AS HUGEINT) * sx)
                ELSE 0 END AS BIGINT) AS slope_abs_micro
    FROM m
    ORDER BY nationkey
    """,
    tags=("stats", "regression", "aggregate"),
)
def group_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group least-squares trend — order value (cents) vs
    order date (epoch days) per customer nation, the ``regr_slope``
    shape made bit-reproducible: slope = (n*Sxy - Sx*Sy)/(n*Sxx - Sx^2)
    from the five classic power sums, reported as (sign, |slope| in
    micro-units) so both engines do only NON-NEGATIVE integer division
    (Spark ``div`` truncates toward zero, DuckDB ``//`` floors — they
    agree exactly when the numerator is made non-negative via abs).

    The wide products route through DECIMAL(38,0) / HUGEINT: n*Sxy on
    the fixture already reaches ~1e18 and the micro-scale multiply
    pushes past int64 — the same headroom rule time_weighted_avg
    documents.

    Scale shape: ONE keyed aggregate computes all five power sums in a
    single pass (map-side combined; 5 longs per group of state) — the
    textbook "regression as a monoid" MapReduce shape, no window, no
    second scan.  Customer dim broadcasts.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    pts = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nationkey"),
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("x"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("y"),
    )
    m = pts.groupBy("nationkey").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
    )
    denom = F.expr("CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx")
    num = F.expr("CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy")
    return m.select(
        "nationkey",
        F.col("n").cast("long").alias("n"),
        F.when(denom > 0, F.signum(num).cast("long"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("slope_sign"),
        F.when(
            denom > 0,
            F.expr(
                f"CAST((abs(CAST(n AS DECIMAL(38,0)) * sxy"
                f" - CAST(sx AS DECIMAL(38,0)) * sy) * {REGR_SCALE})"
                f" div (CAST(n AS DECIMAL(38,0)) * sxx"
                f" - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("slope_abs_micro"),
    ).orderBy("nationkey")


# Winsorization cut: clip below the p-th and above the (1-p)-th exact
# order statistic (basis points).
WINSOR_BP = 500  # 5%


@register(
    "winsorized_group_stats",
    oracle_sql=f"""
    WITH pts AS (
      SELECT o_orderpriority AS grp,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM orders
    ),
    ranked AS (
      SELECT grp, v,
             row_number() OVER (PARTITION BY grp ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY grp) AS n
      FROM pts
    ),
    cuts AS (
      SELECT grp,
             max(CASE WHEN rn - 1 = (n - 1) * {WINSOR_BP} // 10000
                 THEN v END) AS lo,
             max(CASE WHEN rn - 1 = (n - 1) * (10000 - {WINSOR_BP}) // 10000
                 THEN v END) AS hi
      FROM ranked GROUP BY grp
    )
    SELECT p.grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(c.lo) AS BIGINT) AS lo_cents,
           CAST(max(c.hi) AS BIGINT) AS hi_cents,
           CAST(sum(least(greatest(p.v, c.lo), c.hi)) // count(*) AS BIGINT)
             AS winsor_mean_cents
    FROM pts p JOIN cuts c ON c.grp = p.grp
    GROUP BY p.grp
    ORDER BY p.grp
    """,
    tags=("stats", "robust", "winsorize"),
)
def winsorized_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per group — order totals clipped at the exact
    p{WINSOR_BP}bp / p{10000 - WINSOR_BP}bp ORDER STATISTICS before
    averaging, the robust mean reporting pipelines use so one whale
    order can't move a segment's average.

    Exactness: the cut points are ``percentile_disc`` semantics built
    from row_number (index = (n-1)*p // 10000, zero-based) — actual
    data values, never interpolated floats — and the clipped mean is
    integer cents floor-divided by count.  Hash-exact in both engines.

    Scale shape: one window shuffle on the group key to rank values
    (at 100 TB: replace with two passes of ``approx_percentile`` to
    get candidate cuts, then one exact filtered count per candidate —
    the window form is the exact-answer reference), then the clip/mean
    folds into a keyed aggregate against the broadcast 5-row cut
    table.
    """
    pts = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("v"),
    )
    w = Window.partitionBy("grp").orderBy("v")
    ranked = pts.select(
        "grp",
        "v",
        (F.row_number().over(w) - 1).alias("i"),
        (F.count("*").over(Window.partitionBy("grp")) - 1).alias("n1"),
    )
    cuts = ranked.groupBy("grp").agg(
        F.max(
            F.when(
                F.col("i") == F.expr(f"n1 * {WINSOR_BP} div 10000"), F.col("v")
            )
        ).alias("lo"),
        F.max(
            F.when(
                F.col("i") == F.expr(f"n1 * {10000 - WINSOR_BP} div 10000"),
                F.col("v"),
            )
        ).alias("hi"),
    )
    return (
        pts.join(F.broadcast(cuts), "grp")
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.max("lo").cast("long").alias("lo_cents"),
            F.max("hi").cast("long").alias("hi_cents"),
            F.expr(
                "CAST(sum(least(greatest(v, lo), hi)) div count(*) AS BIGINT)"
            ).alias("winsor_mean_cents"),
        )
        .orderBy("grp")
    )


@register(
    "seasonality_month_index",
    oracle_sql="""
    WITH m AS (
      SELECT CAST(extract('month' FROM o_orderdate) AS BIGINT) AS month,
             count(*) AS n
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT sum(n) AS total, count(*) AS n_months FROM m)
    SELECT m.month, CAST(m.n AS BIGINT) AS n_orders,
           CAST(m.n * 10000 // t.total AS BIGINT) AS share_bp,
           CAST((m.n * t.n_months * 1000) // t.total AS BIGINT)
             AS seasonal_index_milli
    FROM m, tot t
    ORDER BY m.month
    """,
    tags=("stats", "seasonality", "aggregate"),
)
def seasonality_month_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly seasonality index of order volume: each calendar month's
    share of orders, and the classic seasonal index (share x number of
    observed months — 1000 milli = perfectly flat, >1000 = peak
    month).  The demand-planning primitive behind "adjust the forecast
    for December".

    Exactness: shares are integer basis points and the index is an
    integer milli-ratio — n * n_months * 1000 // total — so no float
    division anywhere; the grand total and month count ride on a
    broadcast one-row aggregate (the [[benford_first_digit]] pattern).

    Scale shape: one scan -> 12-row keyed aggregate (map-side
    combined) -> broadcast total.  Scan-bound at any history length.
    """
    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.month("o_orderdate").cast("long").alias("month"))
        .agg(F.count("*").alias("n"))
    )
    tot = m.agg(
        F.sum("n").alias("total"), F.count("*").alias("n_months")
    )
    return (
        m.crossJoin(F.broadcast(tot))
        .select(
            "month",
            F.col("n").cast("long").alias("n_orders"),
            F.expr("CAST(n * 10000L div total AS BIGINT)").alias("share_bp"),
            F.expr(
                "CAST(n * n_months * 1000L div total AS BIGINT)"
            ).alias("seasonal_index_milli"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Distribution-shift tests (KS / chi-square / PSI)
# ---------------------------------------------------------------------------
# The reference validates its parallel output against a sequential oracle
# by exact diff (/root/reference/SimpleInvertedIndex/inverted_index.c:1);
# production pipelines additionally need STATISTICAL comparisons between
# corpus slices (did the length distribution drift between releases /
# splits / sources?).  These three are the screening workhorses.  All
# arithmetic is integer or round-to-6 fixed point so both engines hash
# identically (the [[winsorized_group_stats]] discipline).

PSI_BIN_W = 50  # n_chars bin width (documents span ~48..553)
PSI_NBINS = 12


@register(
    "ks_two_sample",
    oracle_sql="""
    WITH pts AS (
      SELECT n_chars AS v,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_a
      FROM documents
    ),
    tot AS (
      SELECT sum(is_a) AS n_a, sum(1 - is_a) AS n_b FROM pts
    ),
    per_v AS (
      SELECT v, sum(is_a) AS c_a, sum(1 - is_a) AS c_b
      FROM pts GROUP BY v
    ),
    ecdf AS (
      SELECT v,
             sum(c_a) OVER (ORDER BY v) AS cum_a,
             sum(c_b) OVER (ORDER BY v) AS cum_b
      FROM per_v
    )
    SELECT CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS d_num,
           CAST(max(n_a) AS BIGINT) AS n_a,
           CAST(max(n_b) AS BIGINT) AS n_b,
           CAST(max(abs(cum_a * n_b - cum_b * n_a)) * 1000000
                // (max(n_a) * max(n_b)) AS BIGINT) AS d_ppm
    FROM ecdf, tot
    """,
    tags=("stats", "drift", "ks"),
)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the document-length
    distributions of English vs non-English documents — THE
    distribution-shift screen for "did this corpus slice drift?".

    Exactness: D = max_v |F_a(v) - F_b(v)| is computed with the
    cross-multiplied integer numerator |cum_a*n_b - cum_b*n_a| (no
    float ECDF ever forms); the reported ``d_ppm`` is the statistic in
    parts-per-million via integer floor division.

    Scale shape: one keyed aggregate collapses the corpus to per-VALUE
    counts — the running sum then runs over the distinct value DOMAIN
    (bounded by the measurement's range, here ≤ ~500 distinct lengths,
    independent of row count), so the single unpartitioned window sorts
    a domain-sized table, not a data-sized one.  At 100 TB with an
    unbounded domain, pre-bin values first ([[psi_population_stability]]
    does exactly that); the per-value form here is the exact-answer
    reference.
    """
    pts = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("v"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_a"),
    )
    per_v = pts.groupBy("v").agg(
        F.sum("is_a").alias("c_a"),
        F.sum(F.lit(1) - F.col("is_a")).alias("c_b"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = per_v.select(
        F.sum("c_a").over(w).alias("cum_a"),
        F.sum("c_b").over(w).alias("cum_b"),
    )
    tot = pts.agg(
        F.sum("is_a").alias("n_a"),
        F.sum(F.lit(1) - F.col("is_a")).alias("n_b"),
    )
    return ecdf.crossJoin(F.broadcast(tot)).agg(
        F.max(F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")))
        .cast("long")
        .alias("d_num"),
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.expr(
            "CAST(max(abs(cum_a * n_b - cum_b * n_a)) * 1000000 "
            "div (max(n_a) * max(n_b)) AS BIGINT)"
        ).alias("d_ppm"),
    )


@register(
    "chi_square_contingency",
    oracle_sql="""
    WITH cells AS (
      SELECT source, lang, count(*) AS o
      FROM documents GROUP BY source, lang
    ),
    rt AS (SELECT source, sum(o) AS r_tot FROM cells GROUP BY source),
    ct AS (SELECT lang, sum(o) AS c_tot FROM cells GROUP BY lang),
    n AS (SELECT sum(o) AS grand FROM cells)
    SELECT c.source, c.lang,
           CAST(c.o AS BIGINT) AS o,
           CAST(rt.r_tot * ct.c_tot * 1000 // n.grand AS BIGINT)
             AS expected_milli,
           CAST((c.o * n.grand - rt.r_tot * ct.c_tot)
                * (c.o * n.grand - rt.r_tot * ct.c_tot) * 1000000
                // (rt.r_tot * ct.c_tot * n.grand) AS BIGINT)
             AS chi2_contrib_ppm
    FROM cells c
    JOIN rt ON rt.source = c.source
    JOIN ct ON ct.lang = c.lang
    CROSS JOIN n
    ORDER BY c.source, c.lang
    """,
    tags=("stats", "drift", "chisq"),
)
def chi_square_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence screen over the source x lang contingency
    table — "does language mix depend on source?", the categorical
    counterpart of [[ks_two_sample]] for corpus-composition drift.

    Exactness: each cell's contribution (o - e)^2 / e is computed as the
    all-integer (o*N - rt*ct)^2 * 1e6 // (rt*ct*N) — the expected count
    never exists as a float, so both engines hash identically.

    Scale shape: the corpus collapses to CELL grain in one map-side-
    combined aggregate; margins are cell-grain re-aggregates and the
    grand total a broadcast 1-row — nothing after the first aggregate
    is data-sized.  Fisher/Yates variants would bolt onto the same
    cell table.
    """
    cells = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count("*").alias("o"))
    )
    rt = cells.groupBy("source").agg(F.sum("o").alias("r_tot"))
    ct = cells.groupBy("lang").agg(F.sum("o").alias("c_tot"))
    n = cells.agg(F.sum("o").alias("grand"))
    return (
        cells.join(F.broadcast(rt), "source")
        .join(F.broadcast(ct), "lang")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "lang",
            F.col("o").cast("long").alias("o"),
            F.expr("CAST(r_tot * c_tot * 1000 div grand AS BIGINT)").alias(
                "expected_milli"
            ),
            F.expr(
                "CAST((o * grand - r_tot * c_tot) * (o * grand - r_tot * c_tot)"
                " * 1000000 div (r_tot * c_tot * grand) AS BIGINT)"
            ).alias("chi2_contrib_ppm"),
        )
        .orderBy("source", "lang")
    )


@register(
    "psi_population_stability",
    oracle_sql=f"""
    WITH assigned AS (
      SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
               % 2 AS grp,
             least(greatest(n_chars // {PSI_BIN_W}, 0), {PSI_NBINS - 1}) AS bin
      FROM documents
    ),
    cells AS (
      SELECT bin,
             sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) + 1 AS c_a,
             sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) + 1 AS c_b
      FROM assigned GROUP BY bin
    ),
    tot AS (SELECT sum(c_a) AS n_a, sum(c_b) AS n_b FROM cells)
    SELECT bin,
           CAST(c_a - 1 AS BIGINT) AS c_a,
           CAST(c_b - 1 AS BIGINT) AS c_b,
           CAST(((c_a * n_b - c_b * n_a + n_a * n_b) * 1000000
                 // (n_a * n_b) - 1000000)
                * CAST(round(ln((CAST(c_a AS DOUBLE) * n_b)
                                / (CAST(c_b AS DOUBLE) * n_a)) * 1000000)
                       AS BIGINT)
                AS BIGINT) AS psi_contrib_pico
    FROM cells, tot
    ORDER BY bin
    """,
    tags=("stats", "drift", "psi"),
)
def psi_population_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the two halves of a
    deterministic md5(doc_id) split, over fixed-width document-length
    bins — the drift monitor scorecard pipelines run between every
    corpus release (PSI > 0.2 => investigate).

    Exactness: Laplace-smoothed (+1) bin counts; the share difference
    is the all-integer shifted floor division
    ((c_a*n_b - c_b*n_a + n_a*n_b)*1e6 // (n_a*n_b) - 1e6) ppm — never
    a rounded float, whose millionths-place TIES (power-of-two count
    denominators) round differently across engines — and the log-ratio
    is integer micro-nats (ties vanishingly unlikely for a
    transcendental, the [[unigram_logprob_score]] ln discipline); the
    contribution is their exact integer product in pico units.
    Fixed-width bins (width {PSI_BIN_W}, {PSI_NBINS} bins, clamped) —
    never quantile bins, which would need a rank.

    Scale shape: one narrow map (hash + bucket arithmetic) collapses
    the corpus to {PSI_NBINS} cells in a map-side-combined aggregate;
    totals ride a broadcast 1-row.  Scan-bound at any scale — this is
    the pre-binned form [[ks_two_sample]]'s docstring prescribes for
    unbounded domains.
    """
    grp = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 2
    )
    bin_ = F.least(
        F.greatest(F.expr(f"n_chars div {PSI_BIN_W}"), F.lit(0)),
        F.lit(PSI_NBINS - 1),
    )
    cells = (
        load_table(spark, sf_dir, "documents")
        .select(grp.alias("grp"), bin_.alias("bin"))
        .groupBy("bin")
        .agg(
            (F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)) + 1).alias("c_a"),
            (F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)) + 1).alias("c_b"),
        )
    )
    tot = cells.agg(F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            (F.col("c_a") - 1).cast("long").alias("c_a"),
            (F.col("c_b") - 1).cast("long").alias("c_b"),
            F.expr(
                "CAST(((c_a * n_b - c_b * n_a + n_a * n_b) * 1000000"
                " div (n_a * n_b) - 1000000)"
                " * CAST(round(ln((CAST(c_a AS DOUBLE) * n_b)"
                " / (CAST(c_b AS DOUBLE) * n_a)) * 1000000) AS BIGINT)"
                " AS BIGINT)"
            ).alias("psi_contrib_pico"),
        )
        .orderBy("bin")
    )


# Unigram-distribution drift between the same md5 split halves PSI
# uses: Jensen-Shannon divergence (corpus release diff) and per-token
# frequency drift.  Both collapse to TOKEN cells (t, c_a, c_b) in one
# conditional-sum aggregate.
from mapreduce_c_implementation_spark.functions.text import (  # noqa: E402
    DUCKDB_TOKENIZE,
    tokenize,
)

_TOKDOC = DUCKDB_TOKENIZE.format(col="text")

DRIFT_MIN_N = 20
DRIFT_TOPK = 30

_CELLS_SQL = f"""
    halves AS (
      SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
               % 2 AS grp,
             unnest({_TOKDOC}) AS t
      FROM documents
    ),
    cells AS (
      SELECT t,
             sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS c_a,
             sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c_b
      FROM halves GROUP BY t
    ),
    tot AS (SELECT sum(c_a) AS n_a, sum(c_b) AS n_b FROM cells)"""


def _spark_half_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    grp = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 2
    )
    return (
        d.select(grp.alias("grp"), F.explode(tokenize(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(
            F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("c_a"),
            F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("c_b"),
        )
    )


@register(
    "corpus_js_divergence",
    oracle_sql=f"""
    WITH {_CELLS_SQL}
    SELECT CAST(max(n_a) AS BIGINT) AS n_a,
           CAST(max(n_b) AS BIGINT) AS n_b,
           CAST(sum(CASE WHEN c_a > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_a,
           CAST(sum(CASE WHEN c_b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_b,
           CAST((greatest(sum(CASE WHEN c_a > 0 THEN
                   c_a * CAST(round(ln(CAST(2 * c_a * n_b AS DOUBLE)
                                      / (c_a * n_b + c_b * n_a)) * 1000000)
                              AS BIGINT) ELSE 0 END), 0) // max(n_a)
                 + greatest(sum(CASE WHEN c_b > 0 THEN
                     c_b * CAST(round(ln(CAST(2 * c_b * n_a AS DOUBLE)
                                        / (c_a * n_b + c_b * n_a)) * 1000000)
                                AS BIGINT) ELSE 0 END), 0) // max(n_b)) // 2
                AS BIGINT) AS jsd_micro
    FROM cells, tot
    """,
    tags=("stats", "drift", "jsd", "pipeline"),
)
def corpus_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the unigram token
    distributions of the two deterministic corpus halves — the
    bounded, symmetric "corpus release diff" statistic (0 = identical
    mixes, ln 2 = disjoint vocabularies).  Complements
    [[psi_population_stability]] (length bins) with CONTENT drift.

    Exactness: each token's log ratio p_x/m is the all-integer
    cross-multiplied form 2*c_x*n_y / (c_a*n_b + c_b*n_a), frozen to
    micro-nats and weighted by the integer count; the two KL sums are
    clamped at 0 (per-term rounding can dip a hair negative, where
    truncating and flooring division disagree) before floor-dividing
    by their half totals.  Zero-count terms contribute
    exactly 0 (the KL convention), never a log of zero.

    Scale shape: one conditional-sum aggregate collapses the corpus
    to token cells; everything after is a single vocabulary-grain
    reduce against a broadcast 1-row of totals.
    """
    cells = _spark_half_cells(spark, sf_dir)
    tot = cells.agg(F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b"))
    ln_a = (
        "CAST(round(ln(CAST(2 * c_a * n_b AS DOUBLE)"
        " / (c_a * n_b + c_b * n_a)) * 1000000) AS BIGINT)"
    )
    ln_b = (
        "CAST(round(ln(CAST(2 * c_b * n_a AS DOUBLE)"
        " / (c_a * n_b + c_b * n_a)) * 1000000) AS BIGINT)"
    )
    return cells.crossJoin(F.broadcast(tot)).agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.sum(F.when(F.col("c_a") > 0, 1).otherwise(0))
        .cast("long")
        .alias("vocab_a"),
        F.sum(F.when(F.col("c_b") > 0, 1).otherwise(0))
        .cast("long")
        .alias("vocab_b"),
        # Each KL half-sum is mathematically >= 0 but per-term rounding
        # can push it a hair negative, where Spark div (truncate) and
        # DuckDB // (floor) disagree — clamp at 0 on BOTH engines.
        F.expr(
            f"CAST((greatest(sum(CASE WHEN c_a > 0 THEN c_a * {ln_a}"
            f" ELSE 0 END), 0L) div max(n_a)"
            f" + greatest(sum(CASE WHEN c_b > 0 THEN c_b * {ln_b}"
            f" ELSE 0 END), 0L) div max(n_b)) div 2 AS BIGINT)"
        ).alias("jsd_micro"),
    )


@register(
    "token_drift_topk",
    oracle_sql=f"""
    WITH {_CELLS_SQL}
    SELECT t,
           CAST(c_a AS BIGINT) AS c_a,
           CAST(c_b AS BIGINT) AS c_b,
           CAST(abs(c_a * 1000000 // n_a - c_b * 1000000 // n_b) AS BIGINT)
             AS drift_ppm
    FROM cells, tot
    WHERE c_a + c_b >= {DRIFT_MIN_N}
    ORDER BY drift_ppm DESC, t
    LIMIT {DRIFT_TOPK}
    """,
    tags=("stats", "drift", "tokens", "pipeline"),
)
def token_drift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {DRIFT_TOPK} tokens whose relative frequency moved most
    between the two corpus halves (min support {DRIFT_MIN_N}
    occurrences) — the actionable companion to
    [[corpus_js_divergence]]: WHICH tokens drove the drift.

    Exactness: per-half rates are integer ppm floor divisions; the
    drift is their absolute difference — no floats anywhere.  Scale
    shape: the same token-cell aggregate, a broadcast totals row, and
    a TakeOrdered top-k with a total-order tie-break.
    """
    cells = _spark_half_cells(spark, sf_dir)
    tot = cells.agg(F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .filter(F.col("c_a") + F.col("c_b") >= DRIFT_MIN_N)
        .select(
            "t",
            F.col("c_a").cast("long").alias("c_a"),
            F.col("c_b").cast("long").alias("c_b"),
            F.expr(
                "CAST(abs(c_a * 1000000 div n_a - c_b * 1000000 div n_b)"
                " AS BIGINT)"
            ).alias("drift_ppm"),
        )
        .orderBy(F.desc("drift_ppm"), "t")
        .limit(DRIFT_TOPK)
    )


@register(
    "source_concentration_metrics",
    oracle_sql=f"""
    WITH per_src AS (
      SELECT source, CAST(sum(len({_TOKDOC})) AS BIGINT) AS c
      FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(c) AS t, count(*) AS n FROM per_src),
    pairs AS (
      SELECT abs(a.c - b.c) AS d
      FROM per_src a CROSS JOIN per_src b
    )
    SELECT CAST(max(tot.n) AS BIGINT) AS n_sources,
           CAST(max(tot.t) AS BIGINT) AS total_tokens,
           CAST((SELECT sum((c * 1000000 // t) * (c * 1000000 // t))
                 FROM per_src, tot) // 1000000 AS BIGINT) AS hhi_ppm,
           CAST(sum(pairs.d) * 1000000 // (2 * max(tot.n) * max(tot.t))
                AS BIGINT) AS gini_ppm,
           CAST((SELECT max(c) FROM per_src) * 1000000 // max(tot.t)
                AS BIGINT) AS top1_share_ppm
    FROM pairs, tot
    """,
    tags=("stats", "concentration", "mixing", "pipeline"),
)
def source_concentration_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix concentration scorecard: Herfindahl-Hirschman index,
    Gini coefficient, and top-source share of the per-source token
    distribution — the "is one crawl dominating the mix?" report that
    gates [[source_token_budget_mix]] reweighting decisions.

    Exactness: shares are integer ppm floor divisions; HHI sums their
    squares; Gini uses the exact mean-absolute-difference form
    sum_ij |c_i - c_j| / (2 n T) over the SOURCE-grain table — the
    all-pairs cross join is n_sources^2 (a few hundred cells), never
    row-grain.  All integer, hash-exact.

    Scale shape: one map-side-combined per-source aggregate collapses
    the corpus; everything after runs on a table with one row per
    source.
    """
    per_src = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(F.size(tokenize(F.col("text")))).cast("long").alias("c"))
    )
    tot = per_src.agg(F.sum("c").alias("t"), F.count("*").alias("n"))
    pairs = (
        per_src.select(F.col("c").alias("ca"))
        .crossJoin(per_src.select(F.col("c").alias("cb")))
        .select(F.abs(F.col("ca") - F.col("cb")).alias("d"))
    )
    hhi = (
        per_src.crossJoin(F.broadcast(tot))
        .agg(
            F.expr(
                "CAST(sum((c * 1000000 div t) * (c * 1000000 div t))"
                " div 1000000 AS BIGINT)"
            ).alias("hhi_ppm")
        )
    )
    top = per_src.agg(F.max("c").alias("cmax"))
    return (
        pairs.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(hhi))
        .crossJoin(F.broadcast(top))
        .agg(
            F.max("n").cast("long").alias("n_sources"),
            F.max("t").cast("long").alias("total_tokens"),
            F.max("hhi_ppm").cast("long").alias("hhi_ppm"),
            F.expr(
                "CAST(sum(d) * 1000000 div (2 * max(n) * max(t)) AS BIGINT)"
            ).alias("gini_ppm"),
            F.expr("CAST(max(cmax) * 1000000 div max(t) AS BIGINT)").alias(
                "top1_share_ppm"
            ),
        )
    )


@register(
    "welch_t_test_pairs",
    oracle_sql="""
    WITH stats AS (
      SELECT o_orderpriority AS grp,
             count(*) AS n,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS DECIMAL(38,0)) AS s,
             CAST(sum(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                AS BIGINT) AS DECIMAL(38,0))
                      * CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                  AS BIGINT) AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS sq
      FROM orders GROUP BY grp
    )
    SELECT a.grp AS grp_a, b.grp AS grp_b,
           CAST(a.n AS BIGINT) AS n_a,
           CAST(b.n AS BIGINT) AS n_b,
           CAST(CAST(a.s AS BIGINT) * 1000 // a.n
                - CAST(b.s AS BIGINT) * 1000 // b.n AS BIGINT)
             AS mean_diff_millicents,
           CAST(round(
             (CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
             / sqrt(
                 ((CAST(a.sq AS DOUBLE)
                   - CAST(a.s AS DOUBLE) * CAST(a.s AS DOUBLE) / a.n)
                  / (a.n - 1)) / a.n
                 + ((CAST(b.sq AS DOUBLE)
                     - CAST(b.s AS DOUBLE) * CAST(b.s AS DOUBLE) / b.n)
                    / (b.n - 1)) / b.n)
             * 1000) AS BIGINT) AS t_milli
    FROM stats a JOIN stats b ON a.grp < b.grp
    ORDER BY grp_a, grp_b
    """,
    tags=("stats", "hypothesis-test", "welch"),
)
def welch_t_test_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t statistic for every pair of order-
    priority groups on order value — the parametric complement to
    [[ks_two_sample]] (location shift vs whole-distribution shift) and
    [[group_mad_outliers]]'s screening family.

    Exactness: each group reduces to exact integer moments (n, sum of
    cents, sum of squared cents in DECIMAL(38,0) — squared cents
    overflow int64 at fixture scale already); the t statistic is then
    a fixed double expression over those exact moments, frozen to
    integer milli units.  Every double is derived from the same exact
    integers by the same IEEE operations in both engines, so rounding
    is identical — the only float allowed is this final, pinned one.

    Scale shape: one map-side-combined aggregate to GROUP grain, then
    an all-pairs self-join of the |groups|-row stats table.  The
    corpus is touched once.
    """
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    stats = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderpriority").alias("grp"), cents.alias("v"))
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.sum("v").cast("decimal(38,0)").alias("s"),
            F.sum(
                F.col("v").cast("decimal(38,0)")
                * F.col("v").cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("sq"),
        )
    )
    a = stats.alias("a")
    b = stats.alias("b")
    return (
        a.join(F.broadcast(b), F.col("a.grp") < F.col("b.grp"))
        .select(
            F.col("a.grp").alias("grp_a"),
            F.col("b.grp").alias("grp_b"),
            F.col("a.n").cast("long").alias("n_a"),
            F.col("b.n").cast("long").alias("n_b"),
            F.expr(
                "CAST(CAST(a.s AS BIGINT) * 1000 div a.n"
                " - CAST(b.s AS BIGINT) * 1000 div b.n AS BIGINT)"
            ).alias("mean_diff_millicents"),
            F.expr(
                "CAST(round("
                " (CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)"
                " / sqrt("
                "   ((CAST(a.sq AS DOUBLE)"
                "     - CAST(a.s AS DOUBLE) * CAST(a.s AS DOUBLE) / a.n)"
                "    / (a.n - 1)) / a.n"
                "   + ((CAST(b.sq AS DOUBLE)"
                "       - CAST(b.s AS DOUBLE) * CAST(b.s AS DOUBLE) / b.n)"
                "      / (b.n - 1)) / b.n)"
                " * 1000) AS BIGINT)"
            ).alias("t_milli"),
        )
        .orderBy("grp_a", "grp_b")
    )


# Pre-binned two-sample KS: fixed bin width over a continuous measure,
# so the ECDF window runs over a BOUNDED bin domain no matter how many
# distinct values the data holds.
KS_BIN_WIDTH = 8.0
KS_N_BINS = 64


@register(
    "ks_two_sample_binned",
    oracle_sql=f"""
    WITH pts AS (
      SELECT least({KS_N_BINS} - 1,
                   CAST(floor(value / {KS_BIN_WIDTH}) AS INTEGER)) AS bin,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
      FROM events
    ),
    tot AS (SELECT sum(is_a) AS n_a, sum(1 - is_a) AS n_b FROM pts),
    per_bin AS (
      SELECT bin, sum(is_a) AS c_a, sum(1 - is_a) AS c_b
      FROM pts GROUP BY bin
    ),
    ecdf AS (
      SELECT bin,
             sum(c_a) OVER (ORDER BY bin) AS cum_a,
             sum(c_b) OVER (ORDER BY bin) AS cum_b
      FROM per_bin
    )
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           CAST(max(n_a) AS BIGINT) AS n_a,
           CAST(max(n_b) AS BIGINT) AS n_b,
           CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS d_num,
           CAST(max(abs(cum_a * n_b - cum_b * n_a)) * 1000000
                // (max(n_a) * max(n_b)) AS BIGINT) AS d_ppm
    FROM ecdf, tot
    """,
    tags=("stats", "drift", "ks", "binned"),
)
def ks_two_sample_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-binned two-sample Kolmogorov-Smirnov screen over a CONTINUOUS
    measure (event value, purchase vs all other event types) — the
    unbounded-domain-safe variant that [[ks_two_sample]]'s own docstring
    prescribes: values land in fixed {KS_BIN_WIDTH}-wide bins (clamped to
    {KS_N_BINS}), and the ECDF runs over the BIN domain.  The price is
    resolution (D is computed at bin edges, a lower bound on the exact
    D); the win is that the one unpartitioned window sorts at most
    {KS_N_BINS} rows at ANY corpus size, where the exact variant's
    window grows with the distinct-value domain.

    Exactness: the bin id is a single IEEE divide + floor (identical in
    both engines); everything after the per-bin counts is the same
    cross-multiplied integer |cum_a*n_b - cum_b*n_a| form — no float
    ECDF ever forms.
    """
    pts = load_table(spark, sf_dir, "events").select(
        F.least(
            F.lit(KS_N_BINS - 1),
            F.floor(F.col("value") / KS_BIN_WIDTH).cast("int"),
        ).alias("bin"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_a"),
    )
    per_bin = pts.groupBy("bin").agg(
        F.sum("is_a").alias("c_a"),
        F.sum(F.lit(1) - F.col("is_a")).alias("c_b"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = per_bin.select(
        F.sum("c_a").over(w).alias("cum_a"),
        F.sum("c_b").over(w).alias("cum_b"),
    )
    tot = pts.agg(
        F.sum("is_a").alias("n_a"),
        F.sum(F.lit(1) - F.col("is_a")).alias("n_b"),
    )
    return ecdf.crossJoin(F.broadcast(tot)).agg(
        F.count("*").cast("long").alias("n_bins"),
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.max(F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")))
        .cast("long")
        .alias("d_num"),
        F.expr(
            "CAST(max(abs(cum_a * n_b - cum_b * n_a)) * 1000000 "
            "div (max(n_a) * max(n_b)) AS BIGINT)"
        ).alias("d_ppm"),
    )


@register(
    "cvm_two_sample_binned",
    oracle_sql=f"""
    WITH pts AS (
      SELECT least({KS_N_BINS} - 1,
                   CAST(floor(value / {KS_BIN_WIDTH}) AS INTEGER)) AS bin,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
      FROM events
    ),
    tot AS (SELECT sum(is_a) AS n_a, sum(1 - is_a) AS n_b FROM pts),
    per_bin AS (
      SELECT bin, sum(is_a) AS c_a, sum(1 - is_a) AS c_b
      FROM pts GROUP BY bin
    ),
    ecdf AS (
      SELECT bin, c_a, c_b,
             sum(c_a) OVER (ORDER BY bin) AS cum_a,
             sum(c_b) OVER (ORDER BY bin) AS cum_b
      FROM per_bin
    )
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           CAST(max(n_a) AS BIGINT) AS n_a,
           CAST(max(n_b) AS BIGINT) AS n_b,
           CAST(sum(CAST(c_a + c_b AS HUGEINT)
                    * (cum_a * n_b - cum_b * n_a)
                    * (cum_a * n_b - cum_b * n_a)) * 1000000
                // (CAST(max(n_a) + max(n_b) AS HUGEINT)
                    * max(n_a) * max(n_a) * max(n_b) * max(n_b))
             AS BIGINT) AS omega2_micro
    FROM ecdf, tot
    """,
    tags=("stats", "drift", "cvm", "binned"),
)
def cvm_two_sample_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-binned two-sample Cramér-von Mises statistic over the same
    bounded bin domain as [[ks_two_sample_binned]]: ω² =
    Σ_bins (pooled mass fraction) · (F_a - F_b)² — the WHOLE-curve
    companion to KS's single worst gap (CvM integrates every ECDF
    deviation, so it catches broad small shifts KS's max misses).

    Exactness: the squared gap is the cross-multiplied integer
    (cum_a·n_b - cum_b·n_a)², accumulated through HUGEINT /
    DECIMAL(38,0) (the [[group_linear_regression]] headroom rule — the
    weighted square reaches ~1e23 at sf0.1) and floor-divided once by
    the exact normalizer (n_a+n_b)·n_a²·n_b².  Scale shape: identical
    to the binned KS — per-bin counts, a ≤{KS_N_BINS}-row window,
    1-row totals broadcast.
    """
    pts = load_table(spark, sf_dir, "events").select(
        F.least(
            F.lit(KS_N_BINS - 1),
            F.floor(F.col("value") / KS_BIN_WIDTH).cast("int"),
        ).alias("bin"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_a"),
    )
    per_bin = pts.groupBy("bin").agg(
        F.sum("is_a").alias("c_a"),
        F.sum(F.lit(1) - F.col("is_a")).alias("c_b"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = per_bin.select(
        "c_a",
        "c_b",
        F.sum("c_a").over(w).alias("cum_a"),
        F.sum("c_b").over(w).alias("cum_b"),
    )
    tot = pts.agg(
        F.sum("is_a").alias("n_a"),
        F.sum(F.lit(1) - F.col("is_a")).alias("n_b"),
    )
    return ecdf.crossJoin(F.broadcast(tot)).agg(
        F.count("*").cast("long").alias("n_bins"),
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.expr(
            "CAST(sum(CAST(c_a + c_b AS DECIMAL(38,0))"
            " * (cum_a * n_b - cum_b * n_a)"
            " * (cum_a * n_b - cum_b * n_a)) * 1000000"
            " div (CAST(max(n_a) + max(n_b) AS DECIMAL(38,0))"
            " * max(n_a) * max(n_a) * max(n_b) * max(n_b)) AS BIGINT)"
        ).alias("omega2_micro"),
    )


@register(
    "mann_whitney_u_binned",
    oracle_sql=f"""
    WITH pts AS (
      SELECT least({KS_N_BINS} - 1,
                   CAST(floor(value / {KS_BIN_WIDTH}) AS INTEGER)) AS bin,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
      FROM events
    ),
    tot AS (SELECT sum(is_a) AS n_a, sum(1 - is_a) AS n_b FROM pts),
    per_bin AS (
      SELECT bin, sum(is_a) AS c_a, sum(is_a) + sum(1 - is_a) AS c_t
      FROM pts GROUP BY bin
    ),
    ranked AS (
      SELECT c_a, c_t,
             sum(c_t) OVER (ORDER BY bin) - c_t AS cum_prev
      FROM per_bin
    ),
    terms AS (
      SELECT sum(CAST(c_a AS DECIMAL(38,0)) * (2 * cum_prev + c_t + 1)) AS r2_a,
             sum(CAST(c_t AS DECIMAL(38,0)) * c_t * c_t - c_t) AS ties
      FROM ranked
    )
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(r2_a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) AS BIGINT) AS u2_a,
           CAST(ties AS BIGINT) AS tie_cubes,
           CAST(round(
             (CAST(r2_a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) AS DOUBLE)
              - CAST(n_a AS DOUBLE) * n_b)
             / (2 * sqrt(
                 CAST(n_a AS DOUBLE) * n_b / 12.0
                 * ((n_a + n_b + 1)
                    - CAST(ties AS DOUBLE)
                      / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))))
             * 1000) AS BIGINT) AS z_milli
    FROM terms, tot
    """,
    tags=("stats", "hypothesis-test", "rank", "binned"),
)
def mann_whitney_u_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (normal approximation, tie-corrected)
    over the same bounded {KS_N_BINS}-bin domain as [[ks_two_sample_binned]]:
    the NONPARAMETRIC location test between purchase and non-purchase
    event values — the rank-based complement to [[welch_t_test_pairs]]
    (no normality assumption) and to KS/CvM (location direction, not
    just distribution difference).  Binning makes every bin one massive
    tie, which the midrank formulation handles exactly: a bin's 2x
    average rank is 2*cum_prev + c_t + 1, so the doubled rank sum
    R2_a = sum c_a * (2*cum_prev + c_t + 1) stays integer, and
    2*U_a = R2_a - n_a*(n_a+1).

    Exactness: rank sums and the tie correction sum(t^3 - t) are exact
    integers — BOTH summed in DECIMAL(38,0) (r2_a ~ 2n^2 would wrap
    BIGINT past ~2e9 events; t^3 reaches ~1e14 at sf0.1 and ~1e23 at
    100 TB, the [[cvm_two_sample_binned]] rule), and n_a*(n_a+1) is
    computed in decimal too; z is ONE pinned double expression over
    those integers, frozen to milli.

    Scale shape: per-bin counts via map-side-combined groupBy, a
    <={KS_N_BINS}-row ordered window, 1-row totals broadcast — constant
    post-aggregate work at any corpus size.
    """
    pts = load_table(spark, sf_dir, "events").select(
        F.least(
            F.lit(KS_N_BINS - 1),
            F.floor(F.col("value") / KS_BIN_WIDTH).cast("int"),
        ).alias("bin"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_a"),
    )
    per_bin = pts.groupBy("bin").agg(
        F.sum("is_a").alias("c_a"),
        F.count("*").alias("c_t"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    ranked = per_bin.select(
        "c_a",
        "c_t",
        (F.sum("c_t").over(w) - F.col("c_t")).alias("cum_prev"),
    )
    terms = ranked.agg(
        F.sum(
            F.col("c_a").cast("decimal(38,0)")
            * (2 * F.col("cum_prev") + F.col("c_t") + 1)
        ).alias("r2_a"),
        F.sum(
            F.col("c_t").cast("decimal(38,0)") * F.col("c_t") * F.col("c_t")
            - F.col("c_t")
        ).alias("ties"),
    )
    tot = pts.agg(
        F.sum("is_a").alias("n_a"),
        F.sum(F.lit(1) - F.col("is_a")).alias("n_b"),
    )
    return terms.crossJoin(F.broadcast(tot)).select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.expr(
            "CAST(r2_a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) AS BIGINT)"
        ).alias("u2_a"),
        F.col("ties").cast("long").alias("tie_cubes"),
        F.expr(
            "CAST(round("
            " (CAST(r2_a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) AS DOUBLE)"
            "  - CAST(n_a AS DOUBLE) * n_b)"
            " / (2 * sqrt("
            "     CAST(n_a AS DOUBLE) * n_b / 12.0"
            "     * ((n_a + n_b + 1)"
            "        - CAST(ties AS DOUBLE)"
            "          / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))))"
            " * 1000) AS BIGINT)"
        ).alias("z_milli"),
    )


# Differentially-private release: epsilon (x1000, integer basis) and
# the seed-space width for the deterministic inverse-CDF draw.
DP_EPS_MILLI = 1000  # epsilon = 1.0; sensitivity 1 => scale b = 1/eps
DP_SEED_SPACE = 1048576  # 2^20 — 5 hex digits of md5(source)


@register(
    "dp_laplace_source_histogram",
    oracle_sql=f"""
    WITH counts AS (
      SELECT source, count(*) AS n_true FROM documents GROUP BY source
    ),
    seeded AS (
      SELECT source, n_true,
             (CAST('0x' || substr(md5(source), 1, 5) AS BIGINT)
              % {DP_SEED_SPACE} + 0.5) / {DP_SEED_SPACE} - 0.5 AS u
      FROM counts
    ),
    noised AS (
      SELECT source, CAST(n_true AS BIGINT) AS n_true,
             CAST(round(-sign(u) * ln(1 - 2 * abs(u))
                        * 1000000.0 / {DP_EPS_MILLI}) AS BIGINT)
               AS noise_milli
      FROM seeded
    )
    SELECT source, n_true, noise_milli,
           n_true * 1000 + noise_milli AS released_milli
    FROM noised
    ORDER BY source
    """,
    tags=("privacy", "stats", "pipeline"),
)
def dp_laplace_source_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram release: per-source document
    counts with Laplace(1/eps) noise (eps = {DP_EPS_MILLI} milli,
    sensitivity 1 — each document contributes to exactly one cell),
    the mechanism a pipeline uses to publish corpus-composition stats
    about a sensitive collection.  Completes the privacy ladder next to
    [[pii_redaction]] (scrub) and [[k_anonymity_check]] (audit): this
    one RELEASES.  Reference analog: none (LLM-pipeline surface per
    the brief).

    The noise draw is the inverse-CDF transform
    ``-b * sign(u) * ln(1 - 2|u|)`` on u ~ Uniform(-0.5, 0.5) — but u
    comes from md5(source) (seed-space 2^20, offset by 0.5 so |u| never
    reaches 0.5 and the log never hits 0), NOT from rand(): the release
    is reproducible on any engine, any run, any partitioning — the
    deterministic-sampling contract of [[stratified_sample]] applied to
    noise.  (A production release would re-key the seed per publication
    and drop n_true from the output; both columns are kept here so the
    oracle can pin the mechanism end-to-end.)

    Exactness: one ln() per GROUP (not per row), rounded to integer
    milli immediately — the engines' libm vs java.lang.Math ulp
    divergence cannot survive the rounding except on exact .5
    boundaries, which the fixed seed space makes a measure-zero
    non-event pinned by the oracle run.

    Scale shape: a source-grain count (map-side combined, #sources rows
    out) and an in-row noise expression at group grain.  Nothing else.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_true"))
    u = (
        (
            F.conv(F.substring(F.md5(F.col("source")), 1, 5), 16, 10)
            .cast("long")
            % DP_SEED_SPACE
            + F.lit(0.5)
        )
        / F.lit(float(DP_SEED_SPACE))
        - F.lit(0.5)
    )
    noise_milli = F.round(
        -F.signum(u)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u))
        * F.lit(1000000.0)
        / F.lit(float(DP_EPS_MILLI))
    ).cast("long")
    return (
        counts.select(
            "source",
            F.col("n_true").cast("long").alias("n_true"),
            noise_milli.alias("noise_milli"),
        )
        .selectExpr(
            "source",
            "n_true",
            "noise_milli",
            "n_true * 1000 + noise_milli AS released_milli",
        )
        .orderBy("source")
    )


# pass@k evaluation: the k values reported and the "correct" predicate.
PASS_AT_KS = (1, 5, 10)


@register(
    "pass_at_k_eval",
    oracle_sql="""
    WITH per_problem AS (
      SELECT user_id,
             count(*) AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
      FROM events GROUP BY user_id
    ),
    ks AS (SELECT unnest([1, 5, 10]) AS k),
    scored AS (
      SELECT k, user_id,
             1000000 - CAST(floor(1000000.0 *
               (CAST(list_reduce(
                  list_transform(generate_series(0, k - 1),
                                 i -> CAST(greatest(n - c - i, 0) AS HUGEINT)),
                  (a, b) -> a * b) AS DOUBLE)
                / CAST(list_reduce(
                  list_transform(generate_series(0, k - 1),
                                 i -> CAST(n - i AS HUGEINT)),
                  (a, b) -> a * b) AS DOUBLE))) AS BIGINT) AS pass_ppm
      FROM per_problem, ks WHERE n >= k
    )
    SELECT CAST(k AS BIGINT) AS k,
           count(*) AS n_problems,
           CAST(sum(pass_ppm) // count(*) AS BIGINT) AS macro_pass_ppm
    FROM scored GROUP BY k ORDER BY k
    """,
    tags=("stats", "eval", "pipeline"),
)
def pass_at_k_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@k over grouped trial outcomes (Chen et al. 2021,
    "Evaluating Large Language Models Trained on Code", eq. 1):
    per problem with n samples and c successes,
    pass@k = 1 - C(n-c,k)/C(n,k), estimated here with users as
    problems, events as samples, and a purchase as a success — the
    aggregation every code/reasoning eval harness runs over its
    sample table.  The combination ratio is computed as the telescoped
    product prod_{i<k} (n-c-i)/(n-i) (never a factorial of n), clamped
    to 0 when n-c < k.  Reference analog: the count/sum reducer
    discipline of /root/reference/src/main.c:61-75, lifted to a
    grouped-trial estimator.

    Exactness: the k-term numerator/denominator products are EXACT
    (DECIMAL(38,0) on Spark, HUGEINT on DuckDB — both hold n up to
    ~6e3 at k=10, far above any per-problem sample budget an eval
    harness emits; the 32x probe caught that multiplying the decimal
    by 1e6 before the divide blows that headroom at n~2e3).  The ppm
    quantization is floor(1e6 * num/den) with ONE double division of
    those exact integers — identical IEEE operations in identical
    order on both engines, so the hash match is deterministic; a
    harness with per-problem n beyond the decimal headroom would move
    the products to log space (sum of ln terms) and accept last-ulp
    ppm ties.  macro_pass_ppm is a floor of an integer mean.

    Scale shape: one problem-grain aggregate (map-side combined), a
    K-row explode on the PROBLEM-grain table (K=3 constant), and a
    K-row final aggregate.  Nothing corpus-sized shuffles twice; the
    per-problem HOF product runs in-row over a k-element sequence.
    """
    e = load_table(spark, sf_dir, "events")
    per_problem = e.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("c"),
    )
    ks = F.explode(
        F.array(*[F.lit(k) for k in PASS_AT_KS])
    ).alias("k")
    exploded = per_problem.select("n", "c", ks).filter(
        F.col("n") >= F.col("k")
    )

    def _prod(term):
        return F.aggregate(
            F.sequence(F.lit(0), F.col("k") - 1),
            F.lit(1).cast("decimal(38,0)"),
            lambda acc, i: acc * term(i).cast("decimal(38,0)"),
        )

    num = _prod(lambda i: F.greatest(F.col("n") - F.col("c") - i, F.lit(0)))
    den = _prod(lambda i: F.col("n") - i)
    scored = exploded.select(
        F.col("k").cast("long").alias("k"),
        num.alias("num"),
        den.alias("den"),
    ).select(
        "k",
        F.expr(
            "1000000 - CAST(floor(1000000.0 *"
            " (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))) AS BIGINT)"
        ).alias("pass_ppm"),
    )
    return (
        scored.groupBy("k")
        .agg(
            F.count("*").alias("n_problems"),
            F.expr("sum(pass_ppm) div count(*)").alias("macro_pass_ppm"),
        )
        .orderBy("k")
    )


@register(
    "spearman_rank_correlation",
    oracle_sql=f"""
    WITH d AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
             CAST(length(list_distinct({_TOK})) AS BIGINT) AS y
      FROM documents
    ),
    xr AS (
      SELECT x, 2 * sum(count(*)) OVER (ORDER BY x) - count(*) + 1 AS rx
      FROM d GROUP BY x
    ),
    yr AS (
      SELECT y, 2 * sum(count(*)) OVER (ORDER BY y) - count(*) + 1 AS ry
      FROM d GROUP BY y
    ),
    j AS (
      SELECT CAST(xr.rx AS HUGEINT) AS rx, CAST(yr.ry AS HUGEINT) AS ry
      FROM d JOIN xr USING (x) JOIN yr USING (y)
    ),
    s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             sum(rx) AS sx, sum(ry) AS sy,
             sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
             sum(rx * ry) AS sxy
      FROM j
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(round(1000000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
                / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                   * sqrt(CAST(n * syy - sy * sy AS DOUBLE))))
                AS BIGINT) AS rho_ppm
    FROM s
    """,
    tags=("stats", "quality", "pipeline"),
)
def spearman_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (average ranks for ties) between two
    per-document quality signals — raw length (n_chars) and lexical
    breadth (distinct tokens) — the monotone-association screen a
    pipeline runs to decide whether two quality signals are redundant
    before paying for both at 100 TB.  Reference analog: none
    (LLM-pipeline surface per the brief); the rank machinery reuses
    the bounded-domain discipline of [[ks_two_sample_binned]].

    Exactness: average ranks are kept DOUBLED (2*cum - cnt + 1), so
    every rank is an exact integer; all six moment sums and the
    n*Sxx - Sx^2 style cross terms are computed in DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB) — BIGINT moments overflow near 150k
    rows (the 32x probe caught n*Sxx ~ 8e20), while 38-digit headroom
    holds to ~1e9 rows (4n^4 <= 1e38); beyond that, rank-bin the
    value domain first (the same pre-bin escape hatch as the KS
    family).  rho is then one identical double expression over those
    exact integers in both engines (IEEE mult/div/sqrt are correctly
    rounded, so the ppm quantization cannot diverge).

    Scale shape: ranks are computed on the VALUE-grain tables (one
    row per distinct n_chars / distinct-token count), whose size is
    bounded by the value domain, not the corpus — the same argument
    as [[ks_two_sample]]'s binned variant, with the same pre-bin
    escape hatch for unbounded domains.  The corpus-sized work is two
    keyed aggregates plus two broadcast joins of the bounded rank
    tables back onto the doc grain, then one 6-sum aggregate.  The
    tokenized (x, y) projection is CACHED: it feeds three consumers
    (both rank tables and the probe side), and without the cache each
    one re-runs the regex tokenizer + array_distinct — the op's
    dominant cost — over the full corpus scan.
    """
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.col("n_chars").cast("long").alias("x"),
            F.size(F.array_distinct(tokenize(F.col("text"))))
            .cast("long")
            .alias("y"),
        )
        .cache()
    )

    def rank_table(col: str, out: str) -> DataFrame:
        vg = d.groupBy(col).agg(F.count("*").alias("cnt"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        return vg.select(
            col,
            (2 * F.sum("cnt").over(w) - F.col("cnt") + 1).alias(out),
        )

    j = (
        d.join(F.broadcast(rank_table("x", "rx")), "x")
        .join(F.broadcast(rank_table("y", "ry")), "y")
        .select(
            F.col("rx").cast("decimal(18,0)").alias("rx"),
            F.col("ry").cast("decimal(18,0)").alias("ry"),
        )
    )
    s = j.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    return s.selectExpr(
        "CAST(n AS BIGINT) AS n_docs",
        "CAST(round(1000000.0 * CAST(n * sxy - sx * sy AS DOUBLE)"
        " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
        "    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))) AS BIGINT)"
        " AS rho_ppm",
    )


# Split-conformal miscoverage target (alpha = 10%), in basis points.
CONF_ALPHA_BP = 1000


@register(
    "conformal_prediction_threshold",
    oracle_sql=f"""
    WITH scored AS (
      SELECT doc_id,
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                       AS BIGINT) % 2 = 0 THEN 'cal' ELSE 'test' END AS part,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             10000 - len(list_intersect(ts,
               ['the','a','and','of','to','is','fast','slow']))
               * 10000 // len(ts) AS nonconf_bp
      FROM (SELECT doc_id, lang, {_TOK} AS ts FROM documents)
      WHERE len(ts) > 0
    ),
    cal AS (
      SELECT nonconf_bp,
             row_number() OVER (ORDER BY nonconf_bp, doc_id) AS rk,
             count(*) OVER () AS n
      FROM scored WHERE part = 'cal' AND y = 1
    ),
    thr AS (
      SELECT nonconf_bp AS q_bp, n AS n_cal FROM cal
      WHERE rk = least(n, CAST(ceil((n + 1) * (10000 - {CONF_ALPHA_BP})
                                    / 10000.0) AS BIGINT))
    )
    SELECT t.q_bp AS threshold_bp,
           CAST(t.n_cal AS BIGINT) AS n_cal,
           CAST(count(*) AS BIGINT) AS n_test_pos,
           CAST(sum(CASE WHEN s.nonconf_bp <= t.q_bp THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           CAST(sum(CASE WHEN s.nonconf_bp <= t.q_bp THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS coverage_ppm
    FROM scored s CROSS JOIN thr t
    WHERE s.part = 'test' AND s.y = 1
    GROUP BY t.q_bp, t.n_cal
    """,
    tags=("stats", "conformal", "eval", "pipeline"),
)
def conformal_prediction_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction: the calibration half (md5-hash split,
    positives only) supplies the exact ceil((n+1)(1-alpha))/n order
    statistic of the nonconformity score (here 10000 - stopword-share
    bp — low score = conforms to English), and the held-out half
    reports EMPIRICAL coverage at that threshold — the
    distribution-free >= 1-alpha guarantee (alpha = {CONF_ALPHA_BP} bp)
    every deployed quality/safety classifier should ship with, and the
    finite-sample counterpart of [[score_calibration_reliability]]'s
    asymptotic curve.  Reference analog: none (LLM-pipeline surface
    per the brief; split-conformal per Vovk / Lei et al.).

    Exactness: the threshold is an exact order statistic picked by
    row_number under a total order (score, doc_id); coverage is an
    integer ppm floor division — no interpolation, no floats.

    Scale shape: one scored scan; the calibration rank is
    ``functions/prefix.py``'s two-pass ``running_by_bucket`` bucketed on
    nonconf_bp (<= 10,001 values, so the prefix table stays tiny) —
    never one window over every calibration document; the test-side
    coverage is a map-side-combined aggregate against the broadcast
    1-row threshold.
    """
    d = compute_scan(spark, sf_dir, "documents")
    part = F.when(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 2
        == 0,
        "cal",
    ).otherwise("test")
    scored = (
        d.select("doc_id", "lang", tokenize(F.col("text")).alias("ts"))
        .filter(F.size("ts") > 0)
        .select(
            "doc_id",
            part.alias("part"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            F.expr(
                "10000 - CAST(size(array_intersect(ts,"
                " array('the','a','and','of','to','is','fast','slow')))"
                " AS BIGINT) * 10000 div size(ts)"
            ).alias("nonconf_bp"),
        )
    )
    cal = scored.filter((F.col("part") == "cal") & (F.col("y") == 1))
    ranked = running_by_bucket(
        cal.select("doc_id", "nonconf_bp"), "nonconf_bp", ["doc_id"], rk=None
    ).withColumnRenamed("rk_total", "n")
    thr = ranked.filter(
        F.col("rk")
        == F.least(
            F.col("n"),
            F.expr(
                f"CAST(ceil((n + 1) * (10000 - {CONF_ALPHA_BP}) / 10000.0)"
                " AS BIGINT)"
            ),
        )
    ).select(F.col("nonconf_bp").alias("q_bp"), F.col("n").alias("n_cal"))
    test = scored.filter((F.col("part") == "test") & (F.col("y") == 1))
    return (
        test.crossJoin(F.broadcast(thr))
        .groupBy("q_bp", "n_cal")
        .agg(
            F.count("*").cast("long").alias("n_test_pos"),
            F.sum(
                F.when(F.col("nonconf_bp") <= F.col("q_bp"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
            F.expr(
                "CAST(sum(CASE WHEN nonconf_bp <= q_bp THEN 1 ELSE 0 END)"
                " * 1000000 div count(*) AS BIGINT)"
            ).alias("coverage_ppm"),
        )
        .select(
            F.col("q_bp").cast("long").alias("threshold_bp"),
            F.col("n_cal").cast("long").alias("n_cal"),
            "n_test_pos",
            "n_covered",
            "coverage_ppm",
        )
    )


# --- Round 9: Theil–Sen robust trend -------------------------------------
#
# Median-of-pairwise-slopes trend over the daily value series — the
# robust companion to [[group_linear_regression]]'s OLS (one whale day
# cannot move the slope; breakdown point ~29%).  Signed integer
# division diverges across engines (Spark div truncates, DuckDB //
# floors), so each slope is floored via the SIGN/ABS SPLIT, which is
# exact at ANY magnitude (the additive-offset trick only emulates
# floor while dy*SCALE >= -dx*OFF — a >$10M one-day swing breaks it):
# dy >= 0 -> (dy*SCALE) div dx; dy < 0 -> -((-dy*SCALE + dx - 1) div
# dx).  Every numerator is non-negative, where trunc == floor in both
# engines.
TS_SLOPE_SCALE = 1000  # milli-cents per day


@register(
    "theil_sen_daily_trend",
    oracle_sql=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS x,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    slopes AS (
      SELECT a.x AS xi, a.v AS vi, b.x AS xj, b.v AS vj,
             CASE WHEN b.v >= a.v
                  THEN ((b.v - a.v) * {TS_SLOPE_SCALE}) // (b.x - a.x)
                  ELSE -(((a.v - b.v) * {TS_SLOPE_SCALE} + (b.x - a.x) - 1)
                         // (b.x - a.x))
             END AS m
      FROM daily a JOIN daily b ON b.x > a.x
    ),
    med_m AS (
      SELECT m AS slope_milli FROM (
        SELECT m, row_number() OVER (ORDER BY m, xi, xj) AS rn,
               count(*) OVER () AS n
        FROM slopes
      ) WHERE rn - 1 = (n - 1) // 2
    ),
    resid AS (
      SELECT d.v * {TS_SLOPE_SCALE} - s.slope_milli * d.x AS b0, d.x
      FROM daily d CROSS JOIN med_m s
    ),
    med_b AS (
      SELECT b0 AS intercept_milli FROM (
        SELECT b0, row_number() OVER (ORDER BY b0, x) AS rn,
               count(*) OVER () AS n
        FROM resid
      ) WHERE rn - 1 = (n - 1) // 2
    )
    SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
           CAST((SELECT count(*) FROM slopes) AS BIGINT) AS n_pairs,
           CAST(m.slope_milli AS BIGINT) AS slope_milli,
           CAST(b.intercept_milli AS BIGINT) AS intercept_milli
    FROM med_m m CROSS JOIN med_b b
    """,
    tags=("stats", "robust", "trend", "timeseries"),
)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen trend of daily event value: the exact lower median of
    all pairwise day-to-day slopes (milli-cents/day) plus the matching
    median intercept — the robust regression line reporting pipelines
    fit when OLS ([[group_linear_regression]]) would chase one outlier
    day; up to ~29% of days can be corrupt before the estimate moves.

    Exactness: slopes are integer milli-cents floored identically in
    both engines via the sign/abs split — every numerator that reaches
    a div is non-negative, where trunc == floor, at ANY swing
    magnitude (signed division NEVER crosses an engine boundary, and
    no additive-offset validity bound exists to outgrow); medians are
    percentile_disc order statistics (row_number against (n-1)//2)
    with full total-order tie-breaks.

    Scale shape: the corpus-sized stage is the one map-side-combined
    DAY-grain aggregate; the pairwise slope join, rank windows, and
    medians all run on the calendar-bounded day table (<= ~K^2/2 pairs
    for K days — bounded at ANY corpus volume; for multi-decade K the
    repeated-median variant per-day windows the same table).  The
    1-row slope median broadcasts into the residual pass.

    Reference analog: none (SURVEY §2.2 analytics surface).
    """
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(
            F.expr("CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)")
            .alias("v")
        )
        .select(
            F.datediff(F.col("d").cast("date"), F.lit("1970-01-01")).alias("x"),
            "v",
        )
        .cache()  # calendar-bounded; consumed by both pair sides + resid + count
    )
    a = daily.select(F.col("x").alias("xi"), F.col("v").alias("vi"))
    b = daily.select(F.col("x").alias("xj"), F.col("v").alias("vj"))
    slopes = a.join(b, F.col("xj") > F.col("xi")).select(
        "xi",
        "xj",
        F.expr(
            f"CASE WHEN vj >= vi"
            f" THEN ((vj - vi) * {TS_SLOPE_SCALE}) div (xj - xi)"
            f" ELSE -(((vi - vj) * {TS_SLOPE_SCALE} + (xj - xi) - 1)"
            f" div (xj - xi)) END"
        ).alias("m"),
    ).cache()  # K^2/2-bounded; consumed by the median and the pair count
    w_m = Window.orderBy("m", "xi", "xj")
    med_m = (
        slopes.select(
            "m",
            (F.row_number().over(w_m) - 1).alias("rn"),
            F.count("*").over(Window.partitionBy()).alias("n"),
        )
        .filter(F.expr("rn = (n - 1) div 2"))
        .select(F.col("m").alias("slope_milli"))
    )
    resid = daily.crossJoin(F.broadcast(med_m)).select(
        F.expr(f"v * {TS_SLOPE_SCALE} - slope_milli * x").alias("b0"), "x"
    )
    w_b = Window.orderBy("b0", "x")
    med_b = (
        resid.select(
            "b0",
            (F.row_number().over(w_b) - 1).alias("rn"),
            F.count("*").over(Window.partitionBy()).alias("n"),
        )
        .filter(F.expr("rn = (n - 1) div 2"))
        .select(F.col("b0").alias("intercept_milli"))
    )
    counts = daily.agg(F.count("*").cast("long").alias("n_days")).crossJoin(
        slopes.agg(F.count("*").cast("long").alias("n_pairs"))
    )
    return (
        counts.crossJoin(F.broadcast(med_m))
        .crossJoin(F.broadcast(med_b))
        .select(
            "n_days",
            "n_pairs",
            F.col("slope_milli").cast("long").alias("slope_milli"),
            F.col("intercept_milli").cast("long").alias("intercept_milli"),
        )
    )


# --- Round 10b: Kruskal-Wallis k-sample rank test (binned) -----------------
#
# The k-group generalization of the binned Mann-Whitney: one rank test
# across ALL event types at once instead of one pair at a time.  Same
# bounded bin domain, same midrank-over-ties formulation; every group
# term is floor-divided in DECIMAL so the only float is the final
# pinned H expression.


@register(
    "kruskal_wallis_binned",
    oracle_sql=f"""
    WITH pts AS (
      SELECT event_type AS grp,
             least({KS_N_BINS} - 1,
                   CAST(floor(value / {KS_BIN_WIDTH}) AS INTEGER)) AS bin
      FROM events
    ),
    gb AS (SELECT grp, bin, count(*) AS c_gb FROM pts GROUP BY grp, bin),
    bins AS (
      SELECT bin, sum(c_gb) AS c_t,
             sum(sum(c_gb)) OVER (ORDER BY bin) - sum(c_gb) AS cum_prev
      FROM gb GROUP BY bin
    ),
    grps AS (
      SELECT g.grp, CAST(sum(g.c_gb) AS BIGINT) AS n_g,
             sum(CAST(g.c_gb AS DECIMAL(38,0))
                 * (2 * b.cum_prev + b.c_t + 1)) AS r2_g
      FROM gb g JOIN bins b ON g.bin = b.bin
      GROUP BY g.grp
    ),
    tot AS (
      SELECT CAST(sum(c_t) AS BIGINT) AS n,
             sum(CAST(c_t AS DECIMAL(38,0)) * c_t * c_t - c_t) AS ties
      FROM bins
    ),
    s AS (
      SELECT sum(CAST(r2_g AS HUGEINT) * CAST(r2_g AS HUGEINT)
                 // CAST(n_g AS HUGEINT)) AS s4h
      FROM grps
    )
    SELECT grp, n_g,
           CAST(r2_g AS BIGINT) AS r2_g,
           CAST(CAST(r2_g AS BIGINT) * 500 // n_g AS BIGINT) AS mean_rank_milli,
           CAST(count(*) OVER () AS BIGINT) AS k_groups,
           n AS n_total,
           CAST(ties AS BIGINT) AS tie_cubes,
           CAST(round((3.0 * CAST(s4h AS DOUBLE)
                       / (CAST(n AS DOUBLE) * (n + 1))
                       - 3.0 * (n + 1)) * 1000) AS BIGINT) AS h_milli,
           CAST(round((3.0 * CAST(s4h AS DOUBLE)
                       / (CAST(n AS DOUBLE) * (n + 1))
                       - 3.0 * (n + 1))
                      * (CAST(n AS DOUBLE) * n * n - n)
                      / (CAST(n AS DOUBLE) * n * n - n
                         - CAST(ties AS DOUBLE))
                      * 1000) AS BIGINT) AS h_tie_milli
    FROM grps, tot, s
    """,
    tags=("stats", "hypothesis-test", "rank", "binned"),
)
def kruskal_wallis_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test (tie-corrected, midrank formulation) across
    ALL event types on the same bounded {KS_N_BINS}-bin value domain as
    [[ks_two_sample_binned]] — the k-sample generalization of
    [[mann_whitney_u_binned]] a pipeline runs FIRST (one omnibus "do
    any sources differ?" test) before pairwise drill-down, exactly the
    ANOVA-screening role [[welch_t_test_pairs]] plays on means.

    Exactness: binning makes each bin one massive tie; a bin's doubled
    midrank is 2*cum_prev + c_t + 1, so each group's doubled rank sum
    r2_g stays an exact DECIMAL(38,0) integer.  The sum-of-squares term
    S = sum_g floor(r2_g^2 / n_g) is floor-divided per group in decimal
    (deterministic in both engines; the floor bias is < k, vanishing
    against N(N+1)), H = 3S/(N(N+1)) - 3(N+1) (the factor 3 not 12
    because r2 carries 2R), and the tie correction divides by
    1 - sum(t^3-t)/(N^3-N) — both frozen to milli from ONE pinned
    double expression over exact integers.  Output: one row per group
    (its n, doubled rank sum, mean rank) with the group-invariant H
    columns repeated, so the oracle checks the per-group rank table AND
    the statistic.

    Scale shape: per-(group,bin) counts via map-side-combined groupBy,
    a <={KS_N_BINS}-row ordered window, a (groups x bins)-bounded
    equi-join, 1-row totals broadcast — constant post-aggregate work at
    any corpus size.

    Reference analog: none (SURVEY §2.2 stats surface).
    """
    pts = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.least(
            F.lit(KS_N_BINS - 1),
            F.floor(F.col("value") / KS_BIN_WIDTH).cast("int"),
        ).alias("bin"),
    )
    gb = pts.groupBy("grp", "bin").agg(F.count("*").alias("c_gb"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    bins = (
        gb.groupBy("bin")
        .agg(F.sum("c_gb").alias("c_t"))
        .select(
            "bin",
            "c_t",
            (F.sum("c_t").over(w) - F.col("c_t")).alias("cum_prev"),
        )
    )
    grps = (
        gb.join(bins, "bin")
        .groupBy("grp")
        .agg(
            F.sum("c_gb").cast("long").alias("n_g"),
            F.sum(
                F.col("c_gb").cast("decimal(38,0)")
                * (2 * F.col("cum_prev") + F.col("c_t") + 1)
            ).alias("r2_g"),
        )
    )
    tot = bins.agg(
        F.sum("c_t").cast("long").alias("n"),
        F.sum(
            F.col("c_t").cast("decimal(38,0)") * F.col("c_t") * F.col("c_t")
            - F.col("c_t")
        ).alias("ties"),
    )
    # Floor division kept in PURE decimal: Spark's `div` returns BIGINT,
    # and the per-group term r2_g^2/n_g alone crosses 2^63 once
    # N*n_g ~ 2e18 (observed at the 32x probe) — (x - x%n)/n is exact
    # for non-negative integers and never leaves DECIMAL(38,_).
    s = grps.agg(
        F.sum(
            F.expr(
                "CAST((r2_g * r2_g"
                " - (r2_g * r2_g) % CAST(n_g AS DECIMAL(38,0)))"
                " / CAST(n_g AS DECIMAL(38,0)) AS DECIMAL(38,0))"
            )
        ).alias("s4h")
    )
    h = (
        "(3.0 * CAST(s4h AS DOUBLE) / (CAST(n AS DOUBLE) * (n + 1))"
        " - 3.0 * (n + 1))"
    )
    return (
        grps.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(s))
        .select(
            "grp",
            "n_g",
            F.col("r2_g").cast("long").alias("r2_g"),
            F.expr("CAST(CAST(r2_g AS BIGINT) * 500 div n_g AS BIGINT)").alias(
                "mean_rank_milli"
            ),
            F.count("*").over(Window.partitionBy()).cast("long").alias(
                "k_groups"
            ),
            F.col("n").alias("n_total"),
            F.col("ties").cast("long").alias("tie_cubes"),
            F.expr(f"CAST(round({h} * 1000) AS BIGINT)").alias("h_milli"),
            F.expr(
                f"CAST(round({h}"
                " * (CAST(n AS DOUBLE) * n * n - n)"
                " / (CAST(n AS DOUBLE) * n * n - n"
                "    - CAST(ties AS DOUBLE))"
                " * 1000) AS BIGINT)"
            ).alias("h_tie_milli"),
        )
    )


# --- Round 10b: Benjamini-Hochberg FDR over per-type drift tests ----------
#
# Multiple-testing control: one Welch z per event type (weekend vs
# weekday value), a conservative Chebyshev p bound (P(|Z|>=z) <= 1/z^2
# — distribution-free, no erf in either engine), and the BH step-up
# rule at FDR alpha.  The hypothesis table is |event types| rows, so
# the ordered window is bounded.
BH_ALPHA_PPM = 100_000  # FDR level 0.1


@register(
    "benjamini_hochberg_fdr",
    oracle_sql=f"""
    WITH pts AS (
      SELECT event_type,
             CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS is_a,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events
    ),
    stats AS (
      SELECT event_type,
             sum(is_a) AS n_a, sum(1 - is_a) AS n_b,
             CAST(sum(CASE WHEN is_a = 1 THEN v END) AS DECIMAL(38,0)) AS s_a,
             CAST(sum(CASE WHEN is_a = 0 THEN v END) AS DECIMAL(38,0)) AS s_b,
             CAST(sum(CASE WHEN is_a = 1
                           THEN CAST(v AS DECIMAL(38,0)) * v END)
                  AS DECIMAL(38,0)) AS q_a,
             CAST(sum(CASE WHEN is_a = 0
                           THEN CAST(v AS DECIMAL(38,0)) * v END)
                  AS DECIMAL(38,0)) AS q_b
      FROM pts GROUP BY event_type
    ),
    z AS (
      SELECT event_type,
             CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             CAST(round(abs(
               (CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
               / sqrt(
                   ((CAST(q_a AS DOUBLE)
                     - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / n_a)
                    / (n_a - 1)) / n_a
                   + ((CAST(q_b AS DOUBLE)
                       - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / n_b)
                      / (n_b - 1)) / n_b))
               * 1000) AS BIGINT) AS z_milli
      FROM stats
    ),
    p AS (
      SELECT event_type, n_a, n_b, z_milli,
             CAST(least(1000000,
                        1000000000000 // greatest(z_milli * z_milli, 1))
                  AS BIGINT) AS p_bound_ppm
      FROM z
    ),
    ranked AS (
      SELECT *,
             CAST(row_number() OVER (ORDER BY p_bound_ppm, event_type)
                  AS BIGINT) AS rank,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM p
    ),
    crit AS (
      SELECT *,
             CAST({BH_ALPHA_PPM} * rank // m AS BIGINT) AS crit_ppm,
             CASE WHEN p_bound_ppm <= {BH_ALPHA_PPM} * rank // m
                  THEN rank ELSE 0 END AS sat
      FROM ranked
    )
    SELECT event_type, n_a, n_b, z_milli, p_bound_ppm, rank, m, crit_ppm,
           CAST(CASE WHEN rank <= max(sat) OVER () THEN 1 ELSE 0 END
                AS BIGINT) AS rejected
    FROM crit
    """,
    tags=("stats", "hypothesis-test", "fdr", "drift"),
)
def benjamini_hochberg_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR step-up over one drift test per event
    type (weekend vs weekday value, Welch z from exact integer-cent
    moments) — the multiple-testing control a monitoring pipeline MUST
    apply when it runs [[welch_t_test_pairs]]-style tests on every
    source/type each day, or a 5% per-test alpha fires constantly at
    hundreds of tests.

    The p values are conservative Chebyshev bounds p = min(1, 1/z^2) —
    distribution-free, monotone in |z|, and exact integer ppm (no erf
    in either engine); BH's step-up needs only the ORDER of p and the
    i/m critical line, both of which the bound preserves.  rejected=1
    marks ranks <= k* = max{{i : p_(i) <= alpha*i/m}} (the step-up rule
    — everything below the largest satisfied rank is rejected, even
    rows above their own critical value).

    Exactness: integer-cent moments in DECIMAL(38,0) (the
    [[welch_t_test_pairs]] rule), ONE pinned double per type frozen to
    z milli, then pure integer ppm arithmetic for p, crit, and the
    step-up.

    Scale shape: one map-side-combined aggregate to type grain; the
    hypothesis table is |types| rows, so the ordered BH window is
    bounded — at 10^4 monitored slices it is still one tiny task.

    Reference analog: none (SURVEY §2.2 stats surface).
    """
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    pts = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("is_a"),
        cents.alias("v"),
    )
    stats = pts.groupBy("event_type").agg(
        F.sum("is_a").alias("n_a"),
        F.sum(F.lit(1) - F.col("is_a")).alias("n_b"),
        F.sum(F.when(F.col("is_a") == 1, F.col("v")))
        .cast("decimal(38,0)")
        .alias("s_a"),
        F.sum(F.when(F.col("is_a") == 0, F.col("v")))
        .cast("decimal(38,0)")
        .alias("s_b"),
        F.sum(
            F.when(
                F.col("is_a") == 1,
                F.col("v").cast("decimal(38,0)") * F.col("v"),
            )
        )
        .cast("decimal(38,0)")
        .alias("q_a"),
        F.sum(
            F.when(
                F.col("is_a") == 0,
                F.col("v").cast("decimal(38,0)") * F.col("v"),
            )
        )
        .cast("decimal(38,0)")
        .alias("q_b"),
    )
    z = stats.select(
        "event_type",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.expr(
            "CAST(round(abs("
            " (CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)"
            " / sqrt("
            "   ((CAST(q_a AS DOUBLE)"
            "     - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / n_a)"
            "    / (n_a - 1)) / n_a"
            "   + ((CAST(q_b AS DOUBLE)"
            "       - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / n_b)"
            "      / (n_b - 1)) / n_b))"
            " * 1000) AS BIGINT)"
        ).alias("z_milli"),
    )
    p = z.select(
        "*",
        F.expr(
            "CAST(least(1000000,"
            " 1000000000000 div greatest(z_milli * z_milli, 1)) AS BIGINT)"
        ).alias("p_bound_ppm"),
    )
    wr = Window.orderBy("p_bound_ppm", "event_type")
    ranked = p.select(
        "*",
        F.row_number().over(wr).cast("long").alias("rank"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("m"),
    )
    crit = ranked.select(
        "*",
        F.expr(f"CAST({BH_ALPHA_PPM} * rank div m AS BIGINT)").alias(
            "crit_ppm"
        ),
        F.expr(
            f"CASE WHEN p_bound_ppm <= {BH_ALPHA_PPM} * rank div m"
            " THEN rank ELSE 0 END"
        ).alias("sat"),
    )
    return crit.select(
        "event_type",
        "n_a",
        "n_b",
        "z_milli",
        "p_bound_ppm",
        "rank",
        "m",
        "crit_ppm",
        F.when(
            F.col("rank") <= F.max("sat").over(Window.partitionBy()), 1
        )
        .otherwise(0)
        .cast("long")
        .alias("rejected"),
    )


# --- Round 10b: median-of-means robust estimator ---------------------------
#
# The heavy-tail-robust mean: split each group's values into B
# deterministic hash buckets, average within buckets, take the MEDIAN
# of the bucket means.  One adversarial/outlier bucket can no longer
# move the estimate — the estimator behind robust mean estimation at
# scale (and the reason it maps perfectly onto map-side partial
# aggregation: bucket means ARE the combiner output).
MOM_BUCKETS = 16


@register(
    "median_of_means_value",
    oracle_sql=f"""
    WITH pts AS (
      SELECT event_type,
             CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4)
                  AS BIGINT) % {MOM_BUCKETS} AS bucket,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events
    ),
    bm AS (
      SELECT event_type, bucket,
             count(*) AS n_b,
             CAST(CAST(sum(v) AS BIGINT) * 10 // count(*) AS BIGINT) AS mean_milli_b
      FROM pts GROUP BY event_type, bucket
    ),
    med AS (
      SELECT event_type, mean_milli_b,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY mean_milli_b, bucket) AS rn,
             count(*) OVER (PARTITION BY event_type) AS nb
      FROM bm
    ),
    g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(v) AS BIGINT) * 10 // count(*) AS BIGINT)
               AS mean_milli
      FROM pts GROUP BY event_type
    )
    SELECT g.event_type, g.n, CAST(m.nb AS BIGINT) AS n_buckets,
           g.mean_milli,
           CAST(m.mean_milli_b AS BIGINT) AS mom_milli
    FROM g JOIN med m ON g.event_type = m.event_type
                      AND m.rn = (m.nb + 1) // 2
    """,
    tags=("stats", "robust", "estimator"),
)
def median_of_means_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-of-means robust mean per event type: values hash into
    {MOM_BUCKETS} deterministic md5 buckets, each bucket averages, and
    the estimate is the (lower) MEDIAN of the bucket means — the
    estimator with sub-Gaussian deviation under heavy tails where the
    plain mean has none, i.e. what [[winsorized_group_stats]] and
    [[group_mad_outliers]] screen for, as a single robust point
    estimate.  Output keeps the plain mean beside it: the GAP between
    the two is itself a tail-weight diagnostic.

    Exactness: integer cents summed in DECIMAL(38,0); bucket means are
    floor-divided milli (deterministic both engines); the median is
    percentile-disc (lower-median row_number rule, ties broken by
    bucket id) over the bounded bucket table — no float anywhere.

    Scale shape: the (type, bucket) grain IS the map-side combiner
    output — one aggregate pass, then a |types|x{MOM_BUCKETS}-row
    window.  B stays fixed as data grows (each bucket mean just gets
    tighter), so post-aggregate work is constant.

    Reference analog: the combiner discipline of
    /root/reference/src/mapreduce.c:142-168, repurposed: partial
    (bucket) aggregates ARE the estimator's input.
    """
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    pts = load_table(spark, sf_dir, "events").select(
        "event_type",
        (
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 4),
                16,
                10,
            ).cast("long")
            % MOM_BUCKETS
        ).alias("bucket"),
        cents.alias("v"),
    )
    bm = pts.groupBy("event_type", "bucket").agg(
        F.count("*").alias("n_b"),
        F.expr(
            "CAST(CAST(sum(CAST(v AS DECIMAL(38,0))) AS BIGINT) * 10"
            " div count(*) AS BIGINT)"
        ).alias("mean_milli_b"),
    )
    wm = Window.partitionBy("event_type").orderBy("mean_milli_b", "bucket")
    med = bm.select(
        "event_type",
        "mean_milli_b",
        F.row_number().over(wm).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("nb"),
    ).filter(F.expr("rn = (nb + 1) div 2"))
    g = pts.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.expr(
            "CAST(CAST(sum(CAST(v AS DECIMAL(38,0))) AS BIGINT) * 10"
            " div count(*) AS BIGINT)"
        ).alias("mean_milli"),
    )
    return g.join(med, "event_type").select(
        "event_type",
        "n",
        F.col("nb").cast("long").alias("n_buckets"),
        "mean_milli",
        F.col("mean_milli_b").cast("long").alias("mom_milli"),
    )


# --- Round 10b: Wilcoxon signed-rank test (paired daily series) ------------
#
# The PAIRED nonparametric location test: purchase vs view daily value
# totals on the same calendar day.  Zero differences drop (Wilcoxon's
# rule), |d| ranks use midranks over ties (doubled-rank integers, the
# mann_whitney_u_binned formulation), and the normal approximation
# carries the tie correction sum(t^3-t)/48.


@register(
    "wilcoxon_signed_rank_daily",
    oracle_sql="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                      ELSE 0 END) AS a,
             sum(CASE WHEN event_type = 'view'
                      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                      ELSE 0 END) AS b
      FROM events GROUP BY 1
    ),
    diffs AS (
      SELECT d, a - b AS dv, abs(a - b) AS ad,
             CASE WHEN a - b > 0 THEN 1 ELSE 0 END AS pos
      FROM daily WHERE a - b <> 0
    ),
    grps AS (
      SELECT ad, count(*) AS c_t, sum(pos) AS c_p,
             sum(count(*)) OVER (ORDER BY ad) - count(*) AS cum_prev
      FROM diffs GROUP BY ad
    ),
    terms AS (
      SELECT CAST(sum(CAST(c_p AS DECIMAL(38,0))
                      * (2 * cum_prev + c_t + 1)) AS BIGINT) AS w2p,
             CAST(sum(CAST(c_t AS DECIMAL(38,0)) * c_t * c_t - c_t)
                  AS BIGINT) AS ties,
             CAST(sum(c_t) AS BIGINT) AS n,
             CAST(sum(c_p) AS BIGINT) AS n_pos
      FROM grps
    )
    SELECT n AS n_pairs, n_pos, w2p AS w2_plus, ties AS tie_cubes,
           CAST(round(
             (CAST(w2p AS DOUBLE) / 2 - CAST(n AS DOUBLE) * (n + 1) / 4)
             / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24
                    - CAST(ties AS DOUBLE) / 48)
             * 1000) AS BIGINT) AS z_milli
    FROM terms
    """,
    tags=("stats", "hypothesis-test", "rank", "paired"),
)
def wilcoxon_signed_rank_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED daily value totals (purchase
    vs view, same calendar day): zero differences drop, |difference|
    midranks over ties stay integer as DOUBLED ranks (2*cum_prev +
    c_t + 1, the [[mann_whitney_u_binned]] formulation), W+ is the
    positive-difference rank sum, and z is the tie-corrected normal
    approximation — the PAIRED complement to Mann-Whitney's
    independent-samples test, for before/after and A-vs-B-on-the-same-
    slice monitoring where pairing removes the shared daily level.

    Exactness: integer cents, exact doubled-rank integers in
    DECIMAL(38,0), ONE pinned double frozen to z milli.

    Scale shape: one map-side-combined aggregate to day grain; every
    window after runs on the CALENDAR-bounded day table (the
    [[theil_sen_daily_trend]] rule).  Corpus size only fattens the
    first aggregate.

    Reference analog: none (SURVEY §2.2 stats surface).
    """
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("d"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", cents).otherwise(0)
            ).alias("a"),
            F.sum(
                F.when(F.col("event_type") == "view", cents).otherwise(0)
            ).alias("b"),
        )
    )
    diffs = daily.filter(F.col("a") != F.col("b")).select(
        F.abs(F.col("a") - F.col("b")).alias("ad"),
        F.when(F.col("a") - F.col("b") > 0, 1).otherwise(0).alias("pos"),
    )
    wg = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, 0)
    grps = (
        diffs.groupBy("ad")
        .agg(F.count("*").alias("c_t"), F.sum("pos").alias("c_p"))
        .select(
            "ad",
            "c_t",
            "c_p",
            (F.sum("c_t").over(wg) - F.col("c_t")).alias("cum_prev"),
        )
    )
    terms = grps.agg(
        F.sum(
            F.col("c_p").cast("decimal(38,0)")
            * (2 * F.col("cum_prev") + F.col("c_t") + 1)
        )
        .cast("long")
        .alias("w2p"),
        F.sum(
            F.col("c_t").cast("decimal(38,0)") * F.col("c_t") * F.col("c_t")
            - F.col("c_t")
        )
        .cast("long")
        .alias("ties"),
        F.sum("c_t").cast("long").alias("n"),
        F.sum("c_p").cast("long").alias("n_pos"),
    )
    return terms.select(
        F.col("n").alias("n_pairs"),
        "n_pos",
        F.col("w2p").alias("w2_plus"),
        F.col("ties").alias("tie_cubes"),
        F.expr(
            "CAST(round("
            " (CAST(w2p AS DOUBLE) / 2 - CAST(n AS DOUBLE) * (n + 1) / 4)"
            " / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24"
            "        - CAST(ties AS DOUBLE) / 48)"
            " * 1000) AS BIGINT)"
        ).alias("z_milli"),
    )


# --- Round 10b: one-way ANOVA F (parametric omnibus) -----------------------
#
# The parametric companion to kruskal_wallis_binned: between-group vs
# within-group variance of event value across ALL types at once, from
# exact integer-cent moments — the omnibus screen run before pairwise
# welch_t_test_pairs drill-down.


@register(
    "anova_one_way_value",
    oracle_sql="""
    WITH stats AS (
      SELECT event_type AS grp, count(*) AS n_g,
             CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS DECIMAL(38,0)) AS s_g,
             CAST(sum(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                           AS DECIMAL(38,0))
                      * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS DECIMAL(38,0)) AS q_g
      FROM events GROUP BY event_type
    ),
    tot AS (
      SELECT count(*) AS k,
             CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(s_g) AS DECIMAL(38,0)) AS s,
             CAST(sum(q_g) AS DECIMAL(38,0)) AS q,
             CAST(sum(CAST(s_g AS HUGEINT) * CAST(s_g AS HUGEINT)
                      // CAST(n_g AS HUGEINT)) AS DECIMAL(38,0)) AS sbr
      FROM stats
    )
    SELECT CAST(k AS BIGINT) AS k_groups, n AS n_total,
           CAST(sbr - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)
                      // CAST(n AS HUGEINT) AS BIGINT) AS ss_between_sq_cents,
           CAST(q - sbr AS BIGINT) AS ss_within_sq_cents,
           CAST(round(
             (CAST(sbr AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (k - 1)
             / ((CAST(q AS DOUBLE) - CAST(sbr AS DOUBLE)) / (n - k))
             * 1000) AS BIGINT) AS f_milli
    FROM tot
    """,
    tags=("stats", "hypothesis-test", "anova"),
)
def anova_one_way_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic across ALL event types on value — the
    parametric omnibus "do any groups differ in mean?" screen that
    fronts [[welch_t_test_pairs]] drill-down, and the mean-based
    complement to [[kruskal_wallis_binned]]'s rank omnibus.

    Exactness: per-group exact integer-cent moments (n, sum,
    sum-of-squares in DECIMAL(38,0)); the between-group term
    sum_g floor(S_g^2/n_g) floor-divides in HUGEINT per group
    (== Spark decimal-safe division, the [[kruskal_wallis_binned]]
    2^63 rule), SS decompositions stay exact integers, and F is ONE
    pinned double frozen to milli.

    Scale shape: one map-side-combined aggregate to group grain, one
    |groups|-row rollup.  The corpus is touched once.

    Reference analog: none (SURVEY §2.2 stats surface).
    """
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    stats = (
        load_table(spark, sf_dir, "events")
        .select(F.col("event_type").alias("grp"), cents.alias("v"))
        .groupBy("grp")
        .agg(
            F.count("*").alias("n_g"),
            F.sum("v").cast("decimal(38,0)").alias("s_g"),
            F.sum(F.col("v").cast("decimal(38,0)") * F.col("v"))
            .cast("decimal(38,0)")
            .alias("q_g"),
        )
    )
    tot = stats.agg(
        F.count("*").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("decimal(38,0)").alias("s"),
        F.sum("q_g").cast("decimal(38,0)").alias("q"),
        F.sum(
            F.expr(
                "CAST((s_g * s_g - (s_g * s_g) % CAST(n_g AS DECIMAL(38,0)))"
                " / CAST(n_g AS DECIMAL(38,0)) AS DECIMAL(38,0))"
            )
        ).alias("sbr"),
    )
    return tot.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("n").alias("n_total"),
        F.expr(
            "CAST(sbr - CAST((s * s - (s * s) % CAST(n AS DECIMAL(38,0)))"
            " / CAST(n AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("ss_between_sq_cents"),
        F.expr("CAST(q - sbr AS BIGINT)").alias("ss_within_sq_cents"),
        F.expr(
            "CAST(round("
            " (CAST(sbr AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)"
            " / (k - 1)"
            " / ((CAST(q AS DOUBLE) - CAST(sbr AS DOUBLE)) / (n - k))"
            " * 1000) AS BIGINT)"
        ).alias("f_milli"),
    )


# --- Round 10b: Brown-Forsythe (median-based Levene) variance test ---------
#
# Homogeneity-of-variance screen: ANOVA on |value - group MEDIAN|
# (Brown-Forsythe's robust Levene variant — median centering keeps the
# test honest under skew).  The variance-equality check that decides
# whether pooled-variance tests are even admissible.


@register(
    "brown_forsythe_levene",
    oracle_sql="""
    WITH pts AS (
      SELECT event_type AS grp,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events
    ),
    med AS (
      SELECT grp, CAST(med AS BIGINT) AS med
      FROM (SELECT grp,
                   percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS med
            FROM pts GROUP BY grp)
    ),
    dev AS (
      SELECT p.grp, abs(p.v - m.med) AS z
      FROM pts p JOIN med m ON m.grp = p.grp
    ),
    stats AS (
      SELECT grp, count(*) AS n_g,
             CAST(sum(z) AS DECIMAL(38,0)) AS s_g,
             CAST(sum(CAST(z AS DECIMAL(38,0)) * z) AS DECIMAL(38,0)) AS q_g
      FROM dev GROUP BY grp
    ),
    tot AS (
      SELECT count(*) AS k, CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(s_g) AS DECIMAL(38,0)) AS s,
             CAST(sum(q_g) AS DECIMAL(38,0)) AS q,
             CAST(sum(CAST(s_g AS HUGEINT) * CAST(s_g AS HUGEINT)
                      // CAST(n_g AS HUGEINT)) AS DECIMAL(38,0)) AS sbr
      FROM stats
    )
    SELECT CAST(k AS BIGINT) AS k_groups, n AS n_total,
           CAST(round(
             (CAST(sbr AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (k - 1)
             / ((CAST(q AS DOUBLE) - CAST(sbr AS DOUBLE)) / (n - k))
             * 1000) AS BIGINT) AS w_milli
    FROM tot
    """,
    tags=("stats", "hypothesis-test", "variance", "robust"),
)
def brown_forsythe_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (median-based Levene) for variance
    homogeneity across event types: one-way ANOVA on the absolute
    deviations |value - group median| — the robust check that decides
    whether equal-variance machinery is admissible before
    [[anova_one_way_value]] / pooled tests, and the spread-focused
    sibling of [[group_mad_outliers]].

    Exactness: medians are exact integer-cent order statistics
    (percentile_disc == the lower-median row both engines agree on for
    integer data); deviations are exact integers; the ANOVA-on-z
    moments follow the [[anova_one_way_value]] decimal/HUGEINT rules;
    W is ONE pinned double frozen to milli.

    Scale shape: per-group exact median via the sort-based aggregate
    (group-partitioned), one centering join on the |groups|-row median
    table (broadcast), then the same two-aggregate ANOVA shape.  Two
    corpus passes (median, then moments) — the price of EXACT medians;
    the documented approximation swaps pass one for
    [[quantile_sketch_mergeable]].

    Reference analog: none (SURVEY §2.2 stats surface).
    """
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    pts = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"), cents.alias("v")
    )
    med = pts.groupBy("grp").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)")
        .cast("long")
        .alias("med")
    )
    dev = pts.join(F.broadcast(med), "grp").select(
        "grp", F.abs(F.col("v") - F.col("med")).alias("z")
    )
    stats = dev.groupBy("grp").agg(
        F.count("*").alias("n_g"),
        F.sum("z").cast("decimal(38,0)").alias("s_g"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z"))
        .cast("decimal(38,0)")
        .alias("q_g"),
    )
    tot = stats.agg(
        F.count("*").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("decimal(38,0)").alias("s"),
        F.sum("q_g").cast("decimal(38,0)").alias("q"),
        F.sum(
            F.expr(
                "CAST((s_g * s_g - (s_g * s_g) % CAST(n_g AS DECIMAL(38,0)))"
                " / CAST(n_g AS DECIMAL(38,0)) AS DECIMAL(38,0))"
            )
        ).alias("sbr"),
    )
    return tot.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("n").alias("n_total"),
        F.expr(
            "CAST(round("
            " (CAST(sbr AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)"
            " / (k - 1)"
            " / ((CAST(q AS DOUBLE) - CAST(sbr AS DOUBLE)) / (n - k))"
            " * 1000) AS BIGINT)"
        ).alias("w_milli"),
    )


# --- Round 11: Friedman test on daily treatment totals -------------------
#
# Blocks = calendar days, treatments = the K event types, observation =
# the day's value total per type in integer cents (no division, no
# floats anywhere).  Complete-design rule: only days where ALL K types
# appear enter the test.

FRIEDMAN_K = 5  # event types in the fixture: click/error/purchase/signup/view


@register(
    "friedman_test_daily",
    oracle_sql=f"""
    WITH cells AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type,
             CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS tot
      FROM events GROUP BY 1, 2
    ),
    full_days AS (
      SELECT d FROM cells GROUP BY d
      HAVING count(DISTINCT event_type) = {FRIEDMAN_K}
    ),
    ranked AS (
      SELECT c.d, c.event_type,
             2 * rank() OVER (PARTITION BY c.d ORDER BY c.tot)
               + count(*) OVER (PARTITION BY c.d, c.tot) - 1 AS rank2
      FROM cells c JOIN full_days USING (d)
    ),
    sums AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(rank2) AS BIGINT) AS rank2_sum
      FROM ranked GROUP BY event_type
    ),
    stat AS (
      SELECT CAST(
               3000000 * sum(rank2_sum * rank2_sum)
                 // (any_value(n_days) * {FRIEDMAN_K} * {FRIEDMAN_K + 1})
               - 3000000 * any_value(n_days) * {FRIEDMAN_K + 1}
             AS BIGINT) AS chi2_ppm
      FROM sums
    )
    SELECT s.event_type, s.n_days, s.rank2_sum, st.chi2_ppm
    FROM sums s CROSS JOIN stat st
    """,
    tags=("stats", "nonparametric", "friedman"),
)
def friedman_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman's rank test across the {FRIEDMAN_K} event types with
    calendar days as blocks — the nonparametric repeated-measures
    ANOVA: does any event type's daily value total systematically rank
    above the others, with each day's shared level ranked away?  The
    within-block complement of [[kruskal_wallis_binned]] (which pools
    all observations into one ranking) and the k-treatment extension
    of [[wilcoxon_signed_rank_daily]]'s paired two-sample form.

    Exactness: observations are integer cents (no division); midranks
    over ties stay integer as DOUBLED ranks (2*rank + ties - 1, the
    [[mann_whitney_u_binned]] device), so chi2 = 12/(nk(k+1)) sum R_j^2
    - 3n(k+1) becomes 3e6*sum(R2_j^2)//(nk(k+1)) - 3e6*n(k+1) — pure
    integer arithmetic, ppm-floored once.  Days missing a type drop
    (complete-design rule), keeping every block's rank set identical.

    Scale shape: one map-side-combined aggregate to the (day, type)
    grain; all windows after run on that CALENDAR-BOUNDED table
    (days x {FRIEDMAN_K} rows at any corpus size — the
    [[theil_sen_daily_trend]] rule).

    Reference analog: none (SURVEY §2.2 stats surface).
    """
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    cells = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
            "event_type",
        )
        .agg(F.sum(cents).alias("tot"))
    )
    full_days = (
        cells.groupBy("d")
        .agg(F.count_distinct("event_type").alias("nt"))
        .filter(F.col("nt") == FRIEDMAN_K)
        .select("d")
    )
    w_rank = Window.partitionBy("d").orderBy("tot")
    w_tie = Window.partitionBy("d", "tot")
    ranked = cells.join(full_days, "d").select(
        "event_type",
        (2 * F.rank().over(w_rank) + F.count("*").over(w_tie) - 1).alias(
            "rank2"
        ),
    )
    sums = ranked.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("rank2").cast("long").alias("rank2_sum"),
    )
    stat = sums.agg(
        F.expr(
            f"CAST(3000000 * sum(rank2_sum * rank2_sum)"
            f" div (any_value(n_days) * {FRIEDMAN_K} * {FRIEDMAN_K + 1})"
            f" - 3000000 * any_value(n_days) * {FRIEDMAN_K + 1} AS BIGINT)"
        ).alias("chi2_ppm")
    )
    return sums.crossJoin(F.broadcast(stat)).select(
        "event_type", "n_days", "rank2_sum", "chi2_ppm"
    )


# --- Round 11: Kendall tau over the two sources' top-K term ranks --------

KT_SRC_A = "src0"
KT_SRC_B = "src1"
KT_TOPK = 100


@register(
    "kendall_tau_topk_terms",
    oracle_sql=f"""
    WITH toks AS (
      SELECT source, unnest({{tok}}) AS term FROM documents
      WHERE source IN ('{KT_SRC_A}', '{KT_SRC_B}')
    ),
    counts AS (
      SELECT term,
             CAST(sum(CASE WHEN source = '{KT_SRC_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(sum(CASE WHEN source = '{KT_SRC_B}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS b
      FROM toks GROUP BY term
    ),
    topk AS (
      SELECT term, a, b FROM counts
      ORDER BY a + b DESC, term LIMIT {KT_TOPK}
    ),
    pairs AS (
      SELECT CASE WHEN (x.a - y.a) * (x.b - y.b) > 0 THEN 1 ELSE 0 END AS con,
             CASE WHEN (x.a - y.a) * (x.b - y.b) < 0 THEN 1 ELSE 0 END AS dis,
             CASE WHEN x.a = y.a AND x.b <> y.b THEN 1 ELSE 0 END AS tie_a,
             CASE WHEN x.b = y.b AND x.a <> y.a THEN 1 ELSE 0 END AS tie_b,
             CASE WHEN x.a = y.a AND x.b = y.b THEN 1 ELSE 0 END AS tie_ab
      FROM topk x JOIN topk y ON x.term < y.term
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(con) AS BIGINT) AS concordant,
             CAST(sum(dis) AS BIGINT) AS discordant,
             CAST(sum(tie_a) AS BIGINT) AS ties_a,
             CAST(sum(tie_b) AS BIGINT) AS ties_b,
             CAST(sum(tie_ab) AS BIGINT) AS ties_both
      FROM pairs
    )
    SELECT n_pairs, concordant, discordant, ties_a, ties_b, ties_both,
           CAST(CASE WHEN concordant >= discordant THEN 1 ELSE -1 END
                * (abs(concordant - discordant) * 1000000 // n_pairs)
                AS BIGINT) AS tau_a_ppm
    FROM agg
    """.format(tok=DUCKDB_TOKENIZE.format(col="text")),
    tags=("stats", "rank-correlation", "drift"),
)
def kendall_tau_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-a between two sources' term-frequency rankings over
    their joint top-{KT_TOPK} vocabulary — the CONCORDANCE view of
    cross-source drift: [[spearman_rank_correlation]] compares rank
    DISPLACEMENTS, tau counts pairwise order INVERSIONS, which is the
    number a reviewer can audit ("in how many term pairs do the two
    sources disagree about which is more frequent?").  Tie pairs are
    reported in all three margins so tau-b is one downstream formula
    (it needs a sqrt, kept out of the exact stage).

    Exactness: counts are integers; concordance signs come from integer
    products; tau-a's single ppm division splits sign and magnitude so
    Spark's truncating div and DuckDB's flooring // cannot diverge on
    the negative side.

    Scale shape: one (source, term) map-side-combined count, a
    deterministic top-K head (total DESC, term ASC — the TakeOrdered
    pattern, never a global sort), then the K x K pair grid on a
    broadcast {KT_TOPK}-row table — bounded at any corpus size.

    Reference analog: none (SURVEY §2.2 stats surface).
    """
    d = compute_scan(spark, sf_dir, "documents").filter(
        F.col("source").isin(KT_SRC_A, KT_SRC_B)
    )
    counts = (
        d.select("source", F.explode(tokenize(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(
            F.sum(F.when(F.col("source") == KT_SRC_A, 1).otherwise(0))
            .cast("long")
            .alias("a"),
            F.sum(F.when(F.col("source") == KT_SRC_B, 1).otherwise(0))
            .cast("long")
            .alias("b"),
        )
    )
    topk = counts.orderBy(
        F.desc(F.col("a") + F.col("b")), F.asc("term")
    ).limit(KT_TOPK)
    x, y = topk.alias("x"), topk.alias("y")
    prod = (F.col("x.a") - F.col("y.a")) * (F.col("x.b") - F.col("y.b"))
    pairs = x.join(
        F.broadcast(y), F.col("x.term") < F.col("y.term")
    ).select(
        F.when(prod > 0, 1).otherwise(0).alias("con"),
        F.when(prod < 0, 1).otherwise(0).alias("dis"),
        F.when(
            (F.col("x.a") == F.col("y.a")) & (F.col("x.b") != F.col("y.b")), 1
        )
        .otherwise(0)
        .alias("tie_a"),
        F.when(
            (F.col("x.b") == F.col("y.b")) & (F.col("x.a") != F.col("y.a")), 1
        )
        .otherwise(0)
        .alias("tie_b"),
        F.when(
            (F.col("x.a") == F.col("y.a")) & (F.col("x.b") == F.col("y.b")), 1
        )
        .otherwise(0)
        .alias("tie_ab"),
    )
    agg = pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("con").cast("long").alias("concordant"),
        F.sum("dis").cast("long").alias("discordant"),
        F.sum("tie_a").cast("long").alias("ties_a"),
        F.sum("tie_b").cast("long").alias("ties_b"),
        F.sum("tie_ab").cast("long").alias("ties_both"),
    )
    return agg.select(
        "n_pairs",
        "concordant",
        "discordant",
        "ties_a",
        "ties_b",
        "ties_both",
        F.expr(
            "CAST(CASE WHEN concordant >= discordant THEN 1 ELSE -1 END"
            " * (abs(concordant - discordant) * 1000000 div n_pairs)"
            " AS BIGINT)"
        ).alias("tau_a_ppm"),
    )

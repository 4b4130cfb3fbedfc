"""Composite analytics: multi-table TPC-H-shape queries, pivot/unpivot,
skew-safe salted aggregation, and TF-IDF — the depth layer on top of the
per-family operators.

Scale notes per op in the docstrings; the common thread: joins order
small->large with dims broadcast, aggregations stay partial-final, skew
is handled by salting + AQE, and nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_c_implementation_spark.functions.exactagg import dec, exact_sum, sql_exact_sum
from mapreduce_c_implementation_spark.functions.prefix import range_id, running_by_bucket
from mapreduce_c_implementation_spark.functions.text import (
    DUCKDB_TOKENIZE,
    duckdb_ngrams,
    ngrams,
    tokenize,
)
from mapreduce_c_implementation_spark.registry import register
from mapreduce_c_implementation_spark.sources import load_table
from mapreduce_c_implementation_spark.sources.tables import parallel_scan

_TOK = DUCKDB_TOKENIZE.format(col="text")

_REV_SQL = (
    "sum(CAST(l_extendedprice AS DECIMAL(18,6)) * "
    "(CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))"
)


def _rev_col():
    one = F.lit(1).cast("decimal(18,6)")
    return F.sum(dec("l_extendedprice") * (one - dec("l_discount")))


@register(
    "tpch_q3_shipping_priority",
    oracle_sql=f"""
    SELECT l.l_orderkey,
           CAST(CAST({_REV_SQL} AS DECIMAL(30,6)) AS DOUBLE) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
    tags=("analytics", "join", "topk", "headline"),
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-table join, filtered both sides, grouped
    revenue, top-10.  customer (filtered, small) broadcasts into orders;
    orders⋈lineitem shuffles on the order key; the limit compiles to
    TakeOrderedAndProject."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_rev_col().cast("decimal(30,6)").cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier",
    oracle_sql=f"""
    SELECT n.n_name,
           CAST(CAST({_REV_SQL} AS DECIMAL(30,6)) AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = (SELECT min(r_name) FROM region)
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY n.n_name
    """,
    tags=("analytics", "join", "headline"),
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table join with the local-supplier condition
    (supplier nation == customer nation).  All four dims broadcast; only
    orders⋈lineitem exchanges.  The region filter uses min(r_name) so
    the query is fixture-agnostic."""
    r = load_table(spark, sf_dir, "region")
    # Fixture-agnostic region pick with NO driver-side action: the 1-row
    # min(r_name) aggregate broadcasts into a semi join (the DataFrame
    # analog of the oracle's scalar subquery), keeping the plan
    # self-contained — one job, no collect.
    min_r = r.agg(F.min("r_name").alias("r_name_min"))
    r = r.join(F.broadcast(min_r), r.r_name == min_r.r_name_min, "semi")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_rev_col().cast("decimal(30,6)").cast("double").alias("revenue"))
    )


@register(
    "pivot_status_by_flag",
    oracle_sql=f"""
    SELECT l_returnflag,
           CAST(CAST(sum(CASE WHEN l_linestatus = 'F'
                     THEN CAST(l_quantity AS DECIMAL(18,6)) END)
                AS DECIMAL(30,6)) AS DOUBLE) AS F,
           CAST(CAST(sum(CASE WHEN l_linestatus = 'O'
                     THEN CAST(l_quantity AS DECIMAL(18,6)) END)
                AS DECIMAL(30,6)) AS DOUBLE) AS O
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("analytics", "pivot"),
)
def pivot_status_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: linestatus values become columns.  Pivot values are given
    EXPLICITLY — at scale, value discovery is an extra job over the full
    data and nondeterministic column order."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(exact_sum("l_quantity"))
    )


@register(
    "unpivot_measures",
    oracle_sql="""
    SELECT l_orderkey, l_linenumber, 'qty' AS metric, l_quantity AS metric_value
    FROM lineitem WHERE l_orderkey % 100 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'price', l_extendedprice
    FROM lineitem WHERE l_orderkey % 100 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'disc', l_discount
    FROM lineitem WHERE l_orderkey % 100 = 0
    """,
    tags=("analytics", "unpivot"),
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) three measure columns into (metric, value) rows
    via ``stack`` — a narrow 1->3 row transform, no shuffle."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'qty', l_quantity, 'price', l_extendedprice, "
            "'disc', l_discount) AS (metric, metric_value)"
        ),
    )


@register(
    "salted_aggregation",
    oracle_sql=f"""
    SELECT l_returnflag,
           count(*) AS n,
           {sql_exact_sum("l_extendedprice")} AS sum_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("analytics", "skew"),
)
def salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation: l_returnflag has only 3 values
    (the fixture's hot-key analog — FIXTURES.md §2), so a naive final
    agg funnels everything into 3 reducer partitions.  Stage 1 groups by
    (key, salt = orderkey % 8) spreading each hot key over 8 partitions;
    stage 2 merges the 24 partials.  Result is identical to the plain
    aggregation (the oracle), which is the whole point.  This is the
    manual form of what AQE skew-join splitting does for joins."""
    li = load_table(spark, sf_dir, "lineitem")
    stage1 = (
        li.withColumn("salt", (F.col("l_orderkey") % 8).cast("int"))
        .groupBy("l_returnflag", "salt")
        .agg(
            F.count("*").alias("pn"),
            F.sum(dec("l_extendedprice")).alias("psum"),
        )
    )
    return stage1.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n"),
        F.sum("psum").cast("decimal(30,6)").cast("double").alias("sum_price"),
    )


@register(
    "tfidf_top_terms",
    oracle_sql=f"""
    WITH tf AS (
      SELECT doc_id, word, count(*) AS tf
      FROM (SELECT doc_id, unnest({_TOK}) AS word FROM documents)
      GROUP BY doc_id, word
    ),
    df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT t.doc_id, t.word,
           t.tf,
           round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf
    FROM tf t, df d, n
    WHERE d.word = t.word AND t.doc_id % 50 = 0
    """,
    tags=("analytics", "text", "tfidf"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, term): tf from one grouped count, document
    frequency from a second, idf = ln(N/df).

    Scale shape: the df table is VOCABULARY-sized (billions of terms at
    100 TB), so it must never broadcast — it shuffle-joins back to tf on
    ``word``.  N (the corpus document count) is a 1-row aggregate folded
    into the plan as a broadcast cross join — no driver-side ``.count()``
    action, the whole query is one job.  The subset filter keeps the
    oracle diff small; the plan is identical without it."""
    toks = (
        parallel_scan(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokenize(F.col("text"))).alias("word"))
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    # N as a true scalar subquery: Catalyst runs the 1-row count as a
    # subquery stage and injects the value — no join node, no driver
    # action (a crossJoin here would compile to BroadcastNestedLoopJoin
    # and trip the repo-wide nested-loop gate).
    from mapreduce_c_implementation_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    n_docs = F.expr("(SELECT count(*) FROM documents)")
    return (
        tf.filter(F.col("doc_id") % 50 == 0)
        .join(dfreq, "word")
        .select(
            "doc_id",
            "word",
            "tf",
            F.round(
                F.col("tf") * F.log(n_docs.cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )


@register(
    "sql_subquery_surface",
    oracle_sql="""
    SELECT o_orderkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.8 FROM orders)
      AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    """,
    tags=("analytics", "sql", "subquery"),
)
def sql_subquery_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front-end with scalar, IN, and correlated-EXISTS
    subqueries — Catalyst rewrites them into the same broadcast/semi
    joins the DataFrame API produces (same plan either way; this op
    pins the SQL surface itself).  avg() in the scalar subquery is
    order-dependent in the 16th digit; multiplying by 1.8 and comparing
    against prices far from the threshold keeps the predicate stable.
    """
    from mapreduce_c_implementation_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders o
        WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.8 FROM orders)
          AND o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'BUILDING')
          AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
        """
    )


@register(
    "tpch_q4_order_priority",
    oracle_sql="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("analytics", "semi-join", "headline"),
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: priority counts for orders with at least one
    late-shipping lineitem (EXISTS -> LEFT SEMI join).  The fixture has
    no commit/receipt dates, so the late predicate is l_shipdate >
    o_orderdate — same correlated-EXISTS structure as spec Q4.

    Scale: the semi join ships only (l_orderkey, l_shipdate); the date
    filter prunes orders at the scan; the 5-row result sorts for free in
    the final single-partition agg.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# Per-stratum cap for the balanced downsampler.
STRATUM_N = 200


@register(
    "stratified_sample",
    oracle_sql=f"""
    WITH ranked AS (
      SELECT event_type, event_id,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
             ) AS rnk
      FROM events
    )
    SELECT event_type,
           count(*) AS n_sampled,
           CAST(sum(event_id) AS BIGINT) AS id_checksum
    FROM ranked WHERE rnk <= {STRATUM_N}
    GROUP BY event_type
    """,
    tags=("sampling", "pipeline"),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-stratum downsample: at most {STRATUM_N} events per
    event_type, chosen by ranking md5(event_id) within the stratum — the
    content-hash analogue of `ORDER BY random() LIMIT N` that is
    reproducible across engines, runs, and partitionings.  Class
    rebalancing for training data is exactly this shape.

    The id_checksum column makes the oracle verify MEMBERSHIP (which
    rows were picked), not just counts.  Cost: one shuffle on the
    stratum key + in-partition sort — same profile as any window.  At
    100 TB with few strata the window partitions are huge; the scale
    variant pre-filters with an approximate per-stratum hash threshold
    (keep md5 < adaptive cutoff) before the exact rank, so the sort
    sees ~{STRATUM_N} rows per stratum instead of all of them.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    return (
        e.select("event_type", "event_id", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= STRATUM_N)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("event_id").cast("long").alias("id_checksum"),
        )
    )


# Columns profiled by table_profile: (name, numeric?) — numeric min/max
# are exported as DOUBLE (int64 keys are < 2^53, lossless), strings via
# min/max on the raw value. o_orderdate is excluded: timestamp->string
# formatting is engine-specific.
_PROFILE_COLS = [
    ("o_orderkey", True),
    ("o_custkey", True),
    ("o_totalprice", True),
    ("o_orderstatus", False),
    ("o_orderpriority", False),
]


@register(
    "table_profile",
    oracle_sql="""
    WITH agg AS (
      SELECT count(*) AS n_rows,
    """
    + ",\n".join(
        f"""        count({c}) AS nn_{c},
        count(DISTINCT {c}) AS nd_{c},
        {f"CAST(min({c}) AS DOUBLE)" if num else "NULL"} AS mnn_{c},
        {f"CAST(max({c}) AS DOUBLE)" if num else "NULL"} AS mxn_{c},
        {f"min({c})" if not num else "NULL"} AS mns_{c},
        {f"max({c})" if not num else "NULL"} AS mxs_{c}"""
        for c, num in _PROFILE_COLS
    )
    + """
      FROM orders
    )
    """
    + " UNION ALL ".join(
        f"""SELECT '{c}' AS col_name, n_rows,
               CAST(n_rows - nn_{c} AS BIGINT) AS n_nulls,
               CAST(nd_{c} AS BIGINT) AS n_distinct,
               CAST(mnn_{c} AS DOUBLE) AS min_num,
               CAST(mxn_{c} AS DOUBLE) AS max_num,
               CAST(mns_{c} AS VARCHAR) AS min_str,
               CAST(mxs_{c} AS VARCHAR) AS max_str
        FROM agg"""
        for c, _num in _PROFILE_COLS
    ),
    tags=("profiling", "pipeline"),
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of `orders`: one output row per column with
    row/null/distinct counts and min/max (numeric as double, categorical
    as string).  This is the pre-flight check a 100 TB ingest runs
    before joining anything — null-rate and cardinality drift is how
    upstream breakage shows up.

    Shape: ALL metrics for ALL columns come from ONE aggregate pass over
    the table (count/count-distinct/min/max fused into a single
    partial+final agg), then a constant-width unpivot of that single
    row — the table is scanned once, never once-per-column.
    """
    o = load_table(spark, sf_dir, "orders")
    aggs: list = [F.count(F.lit(1)).alias("n_rows")]
    for c, num in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
        if num:
            aggs.append(F.min(F.col(c).cast("double")).alias(f"mnn_{c}"))
            aggs.append(F.max(F.col(c).cast("double")).alias(f"mxn_{c}"))
        else:
            aggs.append(F.min(c).alias(f"mns_{c}"))
            aggs.append(F.max(c).alias(f"mxs_{c}"))
    one = o.agg(*aggs)
    # stack() unpivots the single metrics row inside ONE plan — a
    # union-of-selects over `one` would graft the aggregate subtree
    # once per column instead.
    tuples = []
    for c, num in _PROFILE_COLS:
        tuples.append(
            f"'{c}', n_rows, CAST(n_rows - nn_{c} AS BIGINT), "
            f"CAST(nd_{c} AS BIGINT), "
            + (
                f"CAST(mnn_{c} AS DOUBLE), CAST(mxn_{c} AS DOUBLE), "
                "CAST(NULL AS STRING), CAST(NULL AS STRING)"
                if num
                else "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
                f"CAST(mns_{c} AS STRING), CAST(mxs_{c} AS STRING)"
            )
        )
    return one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {', '.join(tuples)}) AS "
        "(col_name, n_rows, n_nulls, n_distinct, min_num, max_num, min_str, max_str)"
    )


@register(
    "time_rollup_multigrain",
    oracle_sql="""
    WITH cents AS (
      SELECT date_trunc('day', ts) AS day,
             date_trunc('hour', ts) AS hour,
             CAST(floor(value * 100) AS BIGINT) AS v_cents
      FROM events
    )
    SELECT CASE WHEN GROUPING(day) = 1 THEN 'total'
                WHEN GROUPING(hour) = 1 THEN 'day' ELSE 'hour' END AS grain,
           day, hour,
           count(*) AS n_events,
           CAST(sum(v_cents) AS BIGINT) AS sum_cents
    FROM cents
    GROUP BY ROLLUP (day, hour)
    """,
    tags=("rollup", "timeseries", "pipeline"),
)
def time_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate shape: ONE pass over the
    event stream produces hourly, daily, and grand-total rollups via
    ROLLUP(day, hour) — the batch analogue of a timeseries store's
    multi-granularity materialized views.  Catalyst expands the
    grouping sets map-side, so the cost is one widened partial
    aggregate + one shuffle, not three scans.  Values aggregate as
    integer cents (floor(value*100)) so every grain's sum is exact
    int64 at any parallelism.  At 100 TB the day/hour keys are
    low-cardinality and uniform — rollup keys never skew hot the way
    raw user ids do.
    """
    e = load_table(spark, sf_dir, "events")
    cents = e.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.floor(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    grain = (
        F.when(F.col("g_day") == 1, F.lit("total"))
        .when(F.col("g_hour") == 1, F.lit("day"))
        .otherwise(F.lit("hour"))
    )
    return (
        cents.rollup("day", "hour")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("v_cents").cast("long").alias("sum_cents"),
            # grouping() is only defined inside the rollup aggregate;
            # materialize the flags here, derive the label after.
            F.grouping("day").alias("g_day"),
            F.grouping("hour").alias("g_hour"),
        )
        .select(
            grain.alias("grain"),
            "day",
            "hour",
            "n_events",
            "sum_cents",
        )
    )


# Funnel step names, in order. Completion = a 'view' later followed by
# a 'click' later followed by a 'purchase' within the same user.
_FUNNEL_STEPS = ("view", "click", "purchase")


@register(
    "event_funnel",
    oracle_sql="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events
      GROUP BY user_id
    ),
    staged AS (
      SELECT user_id,
             CASE WHEN t_view IS NULL THEN 0
                  WHEN t_click IS NULL OR t_click <= t_view THEN 1
                  WHEN t_purchase IS NULL OR t_purchase <= t_click THEN 2
                  ELSE 3 END AS stage
      FROM firsts
    )
    SELECT stage, count(*) AS n_users
    FROM staged GROUP BY stage
    """,
    tags=("analytics", "funnel", "timeseries"),
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis: how far each user progresses through
    view -> click -> purchase, where each step must STRICTLY FOLLOW the
    previous user's step in event time (first qualifying timestamp per
    step).  Product analytics' bread-and-butter sequence query.

    Shape: ONE conditional-min aggregate per user (3 mins fused in a
    single partial+final agg — no joins, no window sort), then a
    constant-width stage classification and a tiny recount.  At 100 TB
    this is a single shuffle on user_id; the conditional mins do the
    sequence work that a naive self-join-per-step (k-way fact join)
    would pay k shuffles for.
    """
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t_{s}")
            for s in _FUNNEL_STEPS
        ]
    )
    stage = (
        F.when(F.col("t_view").isNull(), 0)
        .when(
            F.col("t_click").isNull() | (F.col("t_click") <= F.col("t_view")), 1
        )
        .when(
            F.col("t_purchase").isNull()
            | (F.col("t_purchase") <= F.col("t_click")),
            2,
        )
        .otherwise(3)
    )
    return (
        firsts.select(stage.cast("int").alias("stage"))
        .groupBy("stage")
        .agg(F.count("*").alias("n_users"))
    )


@register(
    "group_median_disc",
    oracle_sql="""
    WITH cents AS (
      SELECT event_type, event_id,
             CAST(floor(value * 100) AS BIGINT) AS v_cents
      FROM events
    ),
    ranked AS (
      SELECT event_type, v_cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY v_cents, event_id) AS rnk,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM cents
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_events,
           v_cents AS median_cents
    FROM ranked
    WHERE rnk = CAST(ceil(n / 2.0) AS BIGINT)
    """,
    tags=("analytics", "percentile"),
)
def group_median_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete median (percentile_disc 0.5) per event_type over
    integer cents: the rank-ceil(n/2) element by (value, event_id)
    order — fully deterministic, no interpolation, no float averaging,
    so the oracle is bit-exact.  One shuffle on the group key; the
    event_id tiebreak pins which of equal values is picked.  At 100 TB
    exact per-group percentiles are one window sort per group — use
    approx_percentile when the group fits poorly in a partition (that
    op exists as approx_quantile_check).
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    cents = e.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    wr = Window.partitionBy("event_type").orderBy("v_cents", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = cents.select(
        "event_type",
        "v_cents",
        F.row_number().over(wr).alias("rnk"),
        F.count("*").over(wn).alias("n"),
    )
    return ranked.filter(
        F.col("rnk") == F.ceil(F.col("n") / 2.0).cast("long")
    ).select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.col("v_cents").alias("median_cents"),
    )


ZORDER_BITS = 16
ZORDER_BUCKETS = 16
# Top bits of zval used as the deterministic range bucket for the
# two-pass distributed rank (2^8 = 256 buckets; raise at larger SF).
ZORDER_RB_BITS = 8


def _z_interleave(x: str, y: str, shift_fn) -> str:
    """Morton/Z-value: interleave the low ZORDER_BITS of x (even bit
    positions) and y (odd).  shift_fn(expr, j) renders a right-shift in
    the target dialect; masks/multiplies are shared syntax."""
    terms = []
    for j in range(ZORDER_BITS):
        terms.append(f"(({shift_fn(x, j)}) & 1) * {1 << (2 * j)}")
        terms.append(f"(({shift_fn(y, j)}) & 1) * {1 << (2 * j + 1)}")
    return " + ".join(terms)


_Z_SPARK = _z_interleave("xk", "yd", lambda e, j: f"shiftright({e}, {j})")
_Z_DUCK = _z_interleave("xk", "yd", lambda e, j: f"({e} >> {j})")


@register(
    "zorder_layout",
    oracle_sql=f"""
    WITH dims AS (
      SELECT o_orderkey,
             o_custkey % {1 << ZORDER_BITS} AS xk,
             CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) % {1 << ZORDER_BITS} AS yd,
             o_custkey, o_orderdate
      FROM orders
    ),
    zvals AS (
      SELECT *, CAST({_Z_DUCK} AS BIGINT) AS zval FROM dims
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY zval, o_orderkey) AS rn,
             count(*) OVER () AS n
      FROM zvals
    )
    SELECT CAST(((rn - 1) * {ZORDER_BUCKETS}) // n AS BIGINT) AS bucket,
           count(*) AS n_rows,
           min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
           min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
    FROM ranked
    GROUP BY 1
    """,
    tags=("layout", "zorder", "pipeline"),
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) data layout: orders sorted by the bit-
    interleave of (custkey, order day) and cut into {ZORDER_BUCKETS}
    equal file buckets; the output row per bucket is its (min,max)
    envelope on BOTH dimensions — exactly the file-skipping statistics
    a lakehouse OPTIMIZE ZORDER BY (custkey, date) produces, letting
    point/range predicates on EITHER column prune most files, which a
    single-column sort only gives for its leading column.

    The Z-value is pure integer bit arithmetic (identical in both
    engines); bucket = floor((rank-1)*B/n) with an orderkey tiebreak,
    so the layout is fully deterministic.

    The global rank is ``functions/prefix.py``'s two-pass
    ``running_by_bucket``, bucketed on zval's top {ZORDER_RB_BITS} bits
    (≤2^{ZORDER_RB_BITS}-row prefix table); a plan gate pins the fact
    stream to hash partitioning.
    """
    o = load_table(spark, sf_dir, "orders")
    dims = o.selectExpr(
        "o_orderkey",
        f"o_custkey % {1 << ZORDER_BITS} AS xk",
        f"CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT) "
        f"% {1 << ZORDER_BITS} AS yd",
        "o_custkey",
        "o_orderdate",
    )
    zvals = dims.selectExpr(
        "o_orderkey", "o_custkey", "o_orderdate", f"CAST({_Z_SPARK} AS BIGINT) AS zval"
    ).withColumn("rb", F.shiftright(F.col("zval"), 2 * ZORDER_BITS - ZORDER_RB_BITS))
    return (
        running_by_bucket(zvals, "rb", ["zval", "o_orderkey"], rn=None)
        .selectExpr(
            # `div`/`//` = integer floor division in Spark/DuckDB — plain
            # `/` is float division whose CAST-back rounds differently
            # (truncate vs nearest) between the engines.
            f"((rn - 1) * {ZORDER_BUCKETS}) div rn_total AS bucket",
            "o_custkey",
            "o_orderdate",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.min("o_orderdate").alias("min_date"),
            F.max("o_orderdate").alias("max_date"),
        )
    )


@register(
    "tpch_q14_promo_effect",
    oracle_sql=f"""
    WITH j AS (
      SELECT p.p_type,
             CAST(l.l_extendedprice AS DECIMAL(18,6))
               * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6)))
               AS rev
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT CAST(CAST(sum(CASE WHEN p_type = 'ECONOMY' THEN rev END)
                     AS DECIMAL(30,6)) AS DOUBLE) AS promo_revenue,
           CAST(CAST(sum(rev) AS DECIMAL(30,6)) AS DOUBLE) AS total_revenue,
           round(100.0 * CAST(CAST(sum(CASE WHEN p_type = 'ECONOMY' THEN rev END)
                                   AS DECIMAL(30,6)) AS DOUBLE)
                 / CAST(CAST(sum(rev) AS DECIMAL(30,6)) AS DOUBLE), 6)
             AS promo_pct
    FROM j
    """,
    tags=("analytics", "join", "tpch"),
)
def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: what fraction of revenue comes from one part
    class (the fixture's p_type is a plain category, so 'ECONOMY'
    stands in for PROMO%).  part joins lineitem on partkey — part is
    dim-SIZED relative to lineitem but grows with SF, so it gets a
    plain shuffle equi-join, NOT a broadcast (at 100 TB the part table
    is tens of GB; broadcasting it is the classic OOM).  Both revenue
    sums ride one aggregate; the percentage divides two exactly-summed
    doubles, rounded at 6.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    one = F.lit(1).cast("decimal(18,6)")
    rev = dec("l_extendedprice") * (one - dec("l_discount"))
    j = li.join(p, li.l_partkey == p.p_partkey).select(
        "p_type", rev.alias("rev")
    )
    promo = (
        F.sum(F.when(F.col("p_type") == "ECONOMY", F.col("rev")))
        .cast("decimal(30,6)")
        .cast("double")
    )
    total = F.sum("rev").cast("decimal(30,6)").cast("double")
    return j.agg(
        promo.alias("promo_revenue"),
        total.alias("total_revenue"),
        F.round(100.0 * promo / total, 6).alias("promo_pct"),
    )


@register(
    "fk_integrity_check",
    oracle_sql="""
    SELECT 'orders->customer' AS fk,
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS n_orphans,
           (SELECT count(*) FROM orders) AS n_rows
    UNION ALL
    SELECT 'lineitem->orders',
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)),
           (SELECT count(*) FROM lineitem)
    UNION ALL
    SELECT 'customer->nation',
           (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey)),
           (SELECT count(*) FROM customer)
    """,
    tags=("profiling", "integrity", "pipeline"),
)
def fk_integrity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: orphan
    counts for three foreign keys via LEFT ANTI joins — the check an
    ingest pipeline runs before publishing a snapshot, because parquet
    enforces no constraints and silent orphans skew every downstream
    join.

    Scale shape: each anti join is a key-only shuffle (or broadcast
    when the parent is dim-sized — Catalyst picks); the fact side
    projects just the FK column, so bytes shuffled are keys, not rows.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")

    def orphans(fact, fk, parent, pk, label):
        # LEFT join against the (unique) PK, then ONE aggregate yields
        # both totals — no separate count job, no scalar cross join.
        joined = fact.select(F.col(fk)).join(
            parent.select(F.col(pk)), fact[fk] == parent[pk], "left"
        )
        return joined.agg(
            F.lit(label).alias("fk"),
            F.count(F.when(F.col(pk).isNull(), 1)).cast("long").alias("n_orphans"),
            F.count("*").alias("n_rows"),
        ).select("fk", "n_orphans", "n_rows")

    return (
        orphans(o, "o_custkey", c, "c_custkey", "orders->customer")
        .union(orphans(li, "l_orderkey", o, "o_orderkey", "lineitem->orders"))
        .union(orphans(c, "c_nationkey", n, "n_nationkey", "customer->nation"))
    )


@register(
    "scd2_history",
    oracle_sql="""
    WITH ordered AS (
      SELECT o_custkey, o_orderstatus, o_orderdate,
             lag(o_orderstatus) OVER w AS prev_status
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    changes AS (
      SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from
      FROM ordered
      WHERE prev_status IS NULL OR prev_status <> o_orderstatus
    )
    SELECT o_custkey, o_orderstatus, valid_from,
           lead(valid_from) OVER w2 AS valid_to,
           CASE WHEN lead(valid_from) OVER w2 IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM changes
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY valid_from, o_orderstatus)
    """,
    tags=("analytics", "scd", "cdc"),
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 from an event log: collapse each
    customer's order-status stream into validity intervals — a row per
    status RUN with [valid_from, valid_to) and an is_current flag.  The
    companion to ``merge_upsert_scd1`` (which keeps only latest state);
    SCD2 keeps the full history, the warehouse-standard dimension shape.

    Two windows over the same (o_custkey, date) partitioning: change
    detection via lag, interval close via lead on the filtered change
    rows.  Catalyst reuses ONE exchange + sort for both (same keys), so
    at 100 TB this is a single customer-keyed shuffle; ties broken by
    o_orderkey make the row set partitioning-invariant.
    """
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ordered = o.select(
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        F.lag("o_orderstatus").over(w).alias("prev_status"),
    )
    changes = ordered.filter(
        F.col("prev_status").isNull()
        | (F.col("prev_status") != F.col("o_orderstatus"))
    ).select("o_custkey", "o_orderstatus", F.col("o_orderdate").alias("valid_from"))
    # tie-break by status: two changes can land on the same date, and the
    # interval chain must not depend on partition layout
    w2 = Window.partitionBy("o_custkey").orderBy("valid_from", "o_orderstatus")
    lead_from = F.lead("valid_from").over(w2)
    return changes.select(
        "o_custkey",
        "o_orderstatus",
        "valid_from",
        lead_from.alias("valid_to"),
        F.when(lead_from.isNull(), 1).otherwise(0).alias("is_current"),
    )


@register(
    "tpch_q10_returned_items",
    oracle_sql=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(CAST({_REV_SQL} AS DECIMAL(30,6)) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    tags=("analytics", "tpch", "topk"),
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): which customers
    returned the most revenue.  Returns-filtered lineitem joins orders
    on the order key (the one fact-fact shuffle), customer and nation
    broadcast, top-20 compiles to TakeOrderedAndProject.  Revenue sums
    in fixed-point decimal so the top-20 cut cannot straddle engines.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _rev_col().cast("decimal(30,6)").cast("double").alias("revenue"),
            F.count("*").cast("long").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q18_QTY_THRESHOLD = 150


@register(
    "tpch_q18_large_orders",
    oracle_sql=f"""
    SELECT c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,6))) AS DECIMAL(30,6))
                AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > {Q18_QTY_THRESHOLD}
    )
    GROUP BY c.c_custkey, o.o_orderkey, o.o_orderdate
    """,
    tags=("analytics", "tpch", "subquery"),
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): orders whose total line
    quantity exceeds a threshold, with customer attribution — the
    aggregate-HAVING-IN-subquery pattern.  The subquery compiles to a
    semi-join of lineitem against its own aggregate; both sides key on
    the order key so the aggregate, the semi-join, and the final
    groupBy share one exchange lineage.  Quantities sum in fixed-point
    so the threshold cut is engine-exact.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("q"))
        .filter(F.col("q") > Q18_QTY_THRESHOLD)
        .select("l_orderkey")
    )
    return (
        li.join(big.withColumnRenamed("l_orderkey", "b_orderkey"),
                F.col("l_orderkey") == F.col("b_orderkey"), "leftsemi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "o_orderkey", "o_orderdate")
        .agg(
            F.sum(dec("l_quantity"))
            .cast("decimal(30,6)")
            .cast("double")
            .alias("total_qty")
        )
    )


@register(
    "tpch_q7_nation_volume",
    oracle_sql=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(CAST({_REV_SQL} AS DECIMAL(30,6)) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    WHERE sn.n_name <> cn.n_name
    GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
    """,
    tags=("analytics", "tpch", "join"),
)
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): cross-border revenue by
    (supplier nation, customer nation, ship year).  The join diamond —
    lineitem reaches nation through BOTH supplier and customer paths —
    is the classic test that the same dim table can broadcast twice
    under different aliases.  One fact-fact shuffle
    (lineitem⋈orders); supplier, customer, and both nation aliases
    broadcast; the cross-border filter is a post-join predicate on the
    two broadcast columns.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(_rev_col().cast("decimal(30,6)").cast("double").alias("revenue"))
    )


@register(
    "event_transition_matrix",
    oracle_sql="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM pairs
    """,
    tags=("analytics", "markov", "events"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream: count consecutive (prev -> next) event-type pairs and
    normalize per source state — the behavioral-model companion to
    ``event_funnel`` (the funnel fixes one path; this measures all of
    them).

    Shape: one user-keyed window (lag, tie-broken by event_id so the
    sequence is partitioning-invariant), a tiny (types x types) partial
    aggregate, and a per-row normalizing window over the type-pair
    table — the post-aggregate table is |event_types|^2 rows, so the
    second window is negligible at any scale.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    pairs = (
        seq.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    norm = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n").cast("double") / F.sum("n").over(norm), 6).alias("p"),
    )


# PMI pair mining: bigram-adjacent token pairs scored by pointwise
# mutual information against corpus unigram frequencies.
PMI_MIN_PAIR_COUNT = 5
PMI_TOPK = 50


@register(
    "token_pmi_pairs",
    oracle_sql=f"""
    WITH tok AS (
      SELECT doc_id, unnest({DUCKDB_TOKENIZE.format(col="text")}) AS t
      FROM documents
    ),
    uni AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
    tot AS (SELECT sum(c) AS n FROM uni),
    toks AS (
      SELECT doc_id, {DUCKDB_TOKENIZE.format(col="text")} AS tokens
      FROM documents
    ),
    big AS (
      SELECT unnest({duckdb_ngrams("tokens", 2)}) AS g
      FROM toks
    ),
    pairs AS (
      SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
             count(*) AS pc
      FROM big GROUP BY g HAVING count(*) >= {PMI_MIN_PAIR_COUNT}
    ),
    scored AS (
      SELECT w1, w2, CAST(pc AS BIGINT) AS pair_count,
             round(ln((CAST(pc AS DOUBLE) / bt.nb)
                      / ((CAST(u1.c AS DOUBLE) / tot.n)
                         * (CAST(u2.c AS DOUBLE) / tot.n))), 6) AS pmi
      FROM pairs
      JOIN uni u1 ON u1.t = w1
      JOIN uni u2 ON u2.t = w2
      CROSS JOIN tot
      CROSS JOIN (SELECT count(*) AS nb FROM big) bt
    )
    SELECT w1, w2, pair_count, pmi, rank FROM (
      SELECT *, row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rank
      FROM scored)
    WHERE rank <= {PMI_TOPK}
    """,
    tags=("analytics", "pmi", "text"),
)
def token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: adjacent token pairs scored by pointwise
    mutual information — ln(P(pair) / (P(w1)P(w2))) — against corpus
    unigram statistics, top-{PMI_TOPK}.  High-PMI pairs are the
    multiword expressions a tokenizer-vocabulary builder promotes.

    P(pair) is normalized by the TOTAL bigram occurrence count (not the
    post-threshold mass — that would shift every score by a corpus-
    dependent constant and break absolute-threshold consumers).

    Scale shape: unigram and bigram tables are vocabulary-sized and
    SHUFFLE-join on the token (the tfidf de-weak rule — never broadcast
    an unbounded vocabulary); the two corpus totals are 1-row broadcast
    aggregates; the top-{PMI_TOPK} cut is orderBy().limit() — a
    TakeOrderedAndProject, with rank assigned afterwards over just the
    {PMI_TOPK} survivors, never a single-partition sort of the full
    scored table.  Pair counts below {PMI_MIN_PAIR_COUNT} are cut
    before the joins, which keeps the scored table sparse at scale.
    """
    from pyspark.sql.window import Window

    d = parallel_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("tokens"))
    tok = toks.select(F.explode("tokens").alias("t"))
    uni = tok.groupBy("t").agg(F.count("*").alias("c"))
    tot = uni.agg(F.sum("c").alias("n"))
    big = toks.select(F.explode(ngrams(F.col("tokens"), 2)).alias("g"))
    pairs = (
        big.groupBy("g")
        .agg(F.count("*").alias("pc"))
        .filter(F.col("pc") >= PMI_MIN_PAIR_COUNT)
        .select(
            F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("g"), F.lit(" "), F.lit(2)).alias("w2"),
            "pc",
        )
    )
    bt = big.agg(F.count("*").alias("nb"))
    scored = (
        pairs.join(uni.select(F.col("t").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("t").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(bt))
        .select(
            "w1",
            "w2",
            F.col("pc").cast("long").alias("pair_count"),
            F.round(
                F.log(
                    (F.col("pc").cast("double") / F.col("nb"))
                    / (
                        (F.col("c1").cast("double") / F.col("n"))
                        * (F.col("c2").cast("double") / F.col("n"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    # top-k as TakeOrderedAndProject (orderBy+limit), then rank over the
    # k survivors only — never a single-partition sort of all pairs
    top = scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")).limit(PMI_TOPK)
    w = Window.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return top.select("*", F.row_number().over(w).cast("long").alias("rank"))


# Measure columns for the single-pass correlation matrix.
_CORR_MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _corr_pairs():
    ms = _CORR_MEASURES
    return [(ms[i], ms[j]) for i in range(len(ms)) for j in range(i + 1, len(ms))]


def _corr_oracle_sql() -> str:
    # Every moment is an exact decimal sum rounded to scale 6 and cast
    # to double AT THE AGGREGATE; the identity arithmetic then runs in
    # double with the same expression shape both engines (decimal
    # multiplication of two 38-precision sums overflows DuckDB's
    # decimal, and determinism only needs identical IEEE ops on
    # identical inputs).
    sums = ", ".join(
        f"CAST(CAST(sum(CAST({m} AS DECIMAL(18,6))) AS DECIMAL(38,6))"
        f" AS DOUBLE) AS s_{m}"
        for m in _CORR_MEASURES
    )
    sqs = ", ".join(
        # DECIMAL(19,6) terms: width 19 forces DuckDB's int128 multiply
        # path (an 18-wide operand pair multiplies in int64 and
        # overflows on large prices); 19+19 = 38 stays inside the cap.
        f"CAST(CAST(sum(CAST({a} AS DECIMAL(19,6)) * CAST({b} AS DECIMAL(19,6)))"
        f" AS DECIMAL(38,6)) AS DOUBLE) AS s_{a}_{b}"
        for a in _CORR_MEASURES
        for b in _CORR_MEASURES
        if a <= b
    )
    selects = []
    for a, b in _corr_pairs():
        pa, pb = (a, b) if a <= b else (b, a)
        num = f"(nd * s_{pa}_{pb} - s_{a} * s_{b})"
        da = f"(nd * s_{a}_{a} - s_{a} * s_{a})"
        db = f"(nd * s_{b}_{b} - s_{b} * s_{b})"
        selects.append(
            f"SELECT '{a}' AS m_x, '{b}' AS m_y, "
            f"round({num} / sqrt({da} * {db}), 6) AS corr FROM agg"
        )
    return (
        "WITH agg AS (SELECT CAST(count(*) AS DOUBLE) AS nd, " + sums + ", "
        + sqs + " FROM lineitem) " + " UNION ALL ".join(selects)
        + " ORDER BY m_x, m_y"
    )


@register(
    "correlation_matrix",
    oracle_sql=_corr_oracle_sql(),
    tags=("analytics", "stats", "single-pass"),
)
def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation over the lineitem measures in ONE
    pass: every moment the algebraic identity needs — n, Σx per column,
    Σx² and Σxy per pair — lands in a single groupBy-free aggregate (14
    sums + a count), and corr = (nΣxy−ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²))
    assembles from the 1-row result.  The built-in ``corr`` aggregate
    would need a pass per pair and sums doubles in partition order; this
    form is one scan, map-side partial, and order-independent.

    Exactness: all moments accumulate in fixed-point decimal, rounded
    to scale 6, and cast to double AT THE AGGREGATE; the identity
    arithmetic then runs in double with the same expression shape in
    both engines — identical IEEE ops on bit-identical inputs, so the
    result is deterministic across engines and partitionings.  Scale: a full-table aggregate with d² state, one
    1-row exchange; the pair explosion happens on ONE row.
    """
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count("*").cast("double").alias("nd")]
    aggs += [
        F.sum(dec(m)).cast("decimal(38,6)").cast("double").alias(f"s_{m}")
        for m in _CORR_MEASURES
    ]
    aggs += [
        F.sum(dec(a) * dec(b)).cast("decimal(38,6)").cast("double")
        .alias(f"s_{a}_{b}")
        for a in _CORR_MEASURES
        for b in _CORR_MEASURES
        if a <= b
    ]
    agg = li.agg(*aggs)
    pair_structs = []
    for a, b in _corr_pairs():
        pa_, pb_ = (a, b) if a <= b else (b, a)
        n = F.col("nd")
        num = n * F.col(f"s_{pa_}_{pb_}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        da = n * F.col(f"s_{a}_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
        db = n * F.col(f"s_{b}_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
        pair_structs.append(
            F.struct(
                F.lit(a).alias("m_x"),
                F.lit(b).alias("m_y"),
                F.round(num / F.sqrt(da * db), 6).alias("corr"),
            )
        )
    return (
        agg.select(F.explode(F.array(*pair_structs)).alias("p"))
        .select("p.m_x", "p.m_y", "p.corr")
        .orderBy("m_x", "m_y")
    )


@register(
    "time_weighted_avg",
    oracle_sql="""
    WITH seq AS (
      SELECT user_id, value, epoch_us(ts) AS t_us,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS t_next
      FROM events
    ),
    iv AS (
      SELECT user_id, value, t_next - t_us AS dt_us
      FROM seq WHERE t_next IS NOT NULL
    )
    SELECT user_id, n_intervals, total_us, twa_micros,
           CAST(twa_micros AS DOUBLE) / 1000000.0 AS twa_value
    FROM (
      SELECT user_id,
             count(*) AS n_intervals,
             CAST(sum(dt_us) AS BIGINT) AS total_us,
             CAST(sum(CAST(CAST(CAST(value AS DECIMAL(18,6)) * 1000000
                            AS BIGINT) AS HUGEINT) * dt_us)
                  // sum(dt_us) AS BIGINT) AS twa_micros
      FROM iv
      GROUP BY user_id
      HAVING CAST(sum(dt_us) AS BIGINT) > 0
    )
    """,
    tags=("timeseries", "window", "aggregate"),
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TIME-weighted average of the event value — the metric a
    sampled/irregular time series needs where a plain avg over-weights
    bursts (the tsdb "TWA" primitive): each reading holds until the next
    one, so it contributes value x hold-duration, and the average
    divides by covered time, not by reading count.

    Exactness across engines: durations are integer microseconds
    (lead over (ts, event_id) — the id tiebreak pins simultaneous
    events), each value becomes an exact 1e-6 fixed-point integer, the
    product sum and the division by covered time are pure integer ops
    (values are non-negative, so floor and trunc division coincide),
    and the reported double derives from ONE identical integer in both
    engines.  (A first cut cast the decimal(38,6) product sum straight
    to double; at ~21 significant digits DuckDB's decimal->double isn't
    correctly rounded and 30%% of groups differed by 1 ulp — the
    integer-resolution contract removes the cast from the hot path.)

    Scale shape: one window shuffle on user_id (the same partitioning
    the sessionizer uses — at 100 TB the events table would be written
    bucketed by user so this and every other per-user op reads
    co-located), then a keyed aggregate that map-side combines.  Zero
    retained intervals (a user's events all share one timestamp) drop
    via HAVING rather than dividing by zero.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value", F.unix_micros("ts").alias("t_us"), "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = (
        e.select(
            "user_id",
            "value",
            "t_us",
            F.lead("t_us").over(w).alias("t_next"),
        )
        .filter(F.col("t_next").isNotNull())
        .select("user_id", "value", (F.col("t_next") - F.col("t_us")).alias("dt_us"))
    )
    v6 = (dec("value") * 1_000_000).cast("long")
    return (
        iv.select("user_id", "dt_us", v6.alias("v6"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum("dt_us").cast("long").alias("total_us"),
            F.expr(
                "CAST(sum(CAST(v6 AS DECIMAL(38,0)) * dt_us)"
                " div sum(dt_us) AS BIGINT)"
            ).alias("twa_micros"),
        )
        .filter(F.col("total_us") > 0)
        .select(
            "user_id",
            "n_intervals",
            "total_us",
            "twa_micros",
            (F.col("twa_micros").cast("double") / 1_000_000.0).alias("twa_value"),
        )
    )


# Cohort-retention matrix over `events`: cohort = ISO week of a user's
# FIRST event; retention = distinct users active k weeks later.  Weeks
# are integer counts of days since a fixed Monday epoch, floor-divided
# by 7 — pure integer date math, identical in both engines (datediff is
# exact; operands non-negative for any post-1970 timestamp, so `div`
# == `//`).
RETENTION_EPOCH = "1970-01-05"  # a Monday
RETENTION_MAX_OFFSET = 8


@register(
    "event_retention_cohorts",
    oracle_sql=f"""
    WITH activity AS (
      SELECT DISTINCT user_id,
             CAST(datediff('day', DATE '{RETENTION_EPOCH}', CAST(ts AS DATE)) // 7
                  AS BIGINT) AS week
      FROM events
    ),
    cohorts AS (
      SELECT user_id, CAST(min(week) AS BIGINT) AS cohort_week
      FROM activity GROUP BY user_id
    ),
    sizes AS (
      SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
      FROM cohorts GROUP BY cohort_week
    ),
    cells AS (
      SELECT c.cohort_week,
             CAST(a.week - c.cohort_week AS BIGINT) AS week_offset,
             CAST(count(*) AS BIGINT) AS n_users
      FROM activity a JOIN cohorts c ON c.user_id = a.user_id
      WHERE a.week - c.cohort_week <= {RETENTION_MAX_OFFSET}
      GROUP BY c.cohort_week, a.week - c.cohort_week
    )
    SELECT x.cohort_week, x.week_offset, x.n_users, s.cohort_size,
           CAST((x.n_users * 10000) // s.cohort_size AS BIGINT) AS retention_bp
    FROM cells x JOIN sizes s ON s.cohort_week = x.cohort_week
    ORDER BY x.cohort_week, x.week_offset
    """,
    tags=("analytics", "retention", "cohorts"),
)
def event_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix — the canonical product-analytics
    triangle: users grouped by first-active week, each later week's
    cell = how many of them came back (count + share of cohort in
    basis points).  `(user, week)` activity is DISTINCT first, so a
    user's many events in one week count once.

    All-integer: weeks are `datediff(day, epoch_monday, ts::date) div
    7` (exact integer date math — no engine-specific week-of-year
    rules, which disagree across engines on year boundaries), counts
    and basis points are int64.

    Scale shape: the corpus-sized work is the (user, week) DISTINCT —
    one user-keyed shuffle, map-side combined; `cohorts` is a user-
    cardinality aggregate on the SAME user key (Catalyst reuses the
    partitioning: no second corpus shuffle), and the activity⋈cohorts
    join is user-keyed too, so the whole triangle derives from one
    partitioning.  The matrix itself is weeks x offsets — dashboard-
    sized.  The offset cap keeps output bounded however long the log.
    """
    e = parallel_scan(spark, sf_dir, "events")
    week = F.expr(
        f"datediff(cast(ts as date), date'{RETENTION_EPOCH}') div 7"
    ).cast("long")
    activity = e.select("user_id", week.alias("week")).distinct()
    cohorts = activity.groupBy("user_id").agg(
        F.min("week").cast("long").alias("cohort_week")
    )
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count("*").cast("long").alias("cohort_size")
    )
    cells = (
        activity.join(cohorts, "user_id")
        .select("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .filter(F.col("week_offset") <= RETENTION_MAX_OFFSET)
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").cast("long").alias("n_users"))
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            F.col("week_offset").cast("long").alias("week_offset"),
            "n_users",
            "cohort_size",
            F.expr("n_users * 10000 div cohort_size").cast("long").alias("retention_bp"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# Last-touch marketing attribution: purchases credit the most recent
# preceding touchpoint (view/click/signup — errors are not channels)
# by the same user within the lookback window.
ATTR_TOUCH_TYPES = ("click", "signup", "view")
ATTR_LOOKBACK_US = 24 * 3600 * 1_000_000  # 24 h in integer microseconds


@register(
    "event_attribution_last_touch",
    oracle_sql=f"""
    WITH ev AS (
      SELECT event_id, ts, user_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS val_cents
      FROM events
    ),
    touched AS (
      SELECT *,
             last_value(CASE WHEN event_type IN
                 ({", ".join(f"'{t}'" for t in ATTR_TOUCH_TYPES)})
               THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_type,
             last_value(CASE WHEN event_type IN
                 ({", ".join(f"'{t}'" for t in ATTR_TOUCH_TYPES)})
               THEN epoch_us(ts) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_us
      FROM ev
    )
    SELECT CASE WHEN touch_us IS NOT NULL
                 AND epoch_us(ts) - touch_us <= {ATTR_LOOKBACK_US}
                THEN touch_type ELSE 'unattributed' END AS channel,
           CAST(count(*) AS BIGINT) AS n_conversions,
           CAST(sum(val_cents) AS BIGINT) AS revenue_cents
    FROM touched
    WHERE event_type = 'purchase'
    GROUP BY 1
    ORDER BY channel
    """,
    tags=("analytics", "attribution", "window"),
)
def event_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution — the canonical marketing-analytics
    window query: each purchase credits the most recent PRECEDING
    touchpoint ({", ".join(ATTR_TOUCH_TYPES)}) by the same user within
    a 24 h lookback; purchases with no in-window touch report as
    'unattributed'.  Revenue is integer cents (``round(value*100)`` —
    exact for 2-decimal money) so channel sums are order-free.

    The carry-forward is ``last(..., ignorenulls=True)`` over a
    ``ROWS UNBOUNDED PRECEDING .. 1 PRECEDING`` frame with a
    (ts, event_id) total order — the same deterministic-frame
    discipline as [[time_gap_fill_ffill]] — and the lookback compares
    integer MICROSECONDS (epoch_us in both engines), never interval
    arithmetic, so the window edge cannot drift between engines.

    Scale shape: one user-keyed shuffle for the window (users are
    independent — parallelism = user cardinality), then a channel-
    cardinality aggregate.  The event log is touched once; at 100 TB
    this is the shape attribution jobs actually run (sessionized
    variants bound the frame by session instead of user history).
    """
    from pyspark.sql.window import Window

    ev = parallel_scan(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("val_cents"),
    )
    is_touch = F.col("event_type").isin(*ATTR_TOUCH_TYPES)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = ev.select(
        "*",
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(is_touch, F.unix_micros("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_us"),
    )
    channel = F.when(
        F.col("touch_us").isNotNull()
        & (F.unix_micros("ts") - F.col("touch_us") <= ATTR_LOOKBACK_US),
        F.col("touch_type"),
    ).otherwise(F.lit("unattributed"))
    return (
        touched.filter(F.col("event_type") == "purchase")
        .select(channel.alias("channel"), "val_cents")
        .groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_conversions"),
            F.sum("val_cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("channel")
    )


# RFM quintile scoring: rank-derived bucket = rank0 * 5 // n (0-based
# rank), giving scores 1..5 — exact integer arithmetic, no ntile
# (whose uneven-bucket placement is easy to mis-mirror across engines).
RFM_BUCKETS = 5
# Value-domain ranges for the two-pass distributed rank (the
# feature_quantile_bins recipe); raise at larger SF.
RFM_RANK_PARTS = 32


@register(
    "customer_rfm_segmentation",
    oracle_sql=f"""
    WITH per_cust AS (
      SELECT o_custkey AS custkey,
             max(o_orderdate) AS last_order,
             count(*) AS frequency,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS BIGINT) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT p.custkey,
             CAST(date_diff('day', CAST(p.last_order AS DATE),
                            CAST(m.ref AS DATE)) AS BIGINT) AS recency_days,
             p.frequency, p.monetary_cents,
             (row_number() OVER (ORDER BY p.last_order DESC, p.custkey) - 1)
               AS r_rank,
             (row_number() OVER (ORDER BY p.frequency DESC, p.custkey) - 1)
               AS f_rank,
             (row_number() OVER (ORDER BY p.monetary_cents DESC, p.custkey) - 1)
               AS m_rank,
             count(*) OVER () AS n
      FROM per_cust p, (SELECT max(o_orderdate) AS ref FROM orders) m
    )
    SELECT custkey, recency_days,
           CAST(frequency AS BIGINT) AS frequency, monetary_cents,
           CAST({RFM_BUCKETS} - (r_rank * {RFM_BUCKETS} // n) AS BIGINT) AS r_score,
           CAST({RFM_BUCKETS} - (f_rank * {RFM_BUCKETS} // n) AS BIGINT) AS f_score,
           CAST({RFM_BUCKETS} - (m_rank * {RFM_BUCKETS} // n) AS BIGINT) AS m_score
    FROM scored
    ORDER BY custkey
    """,
    tags=("analytics", "rfm", "segmentation"),
)
def customer_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency / frequency / monetary
    quintile scores (5 = best), the classic CRM scoring every
    retention pipeline starts from.

    Exactness: scores derive from row_number ranks as
    ``{RFM_BUCKETS} - rank0 * {RFM_BUCKETS} // n`` with pinned
    (metric, custkey) tie-breaks — never ``ntile``, whose remainder
    placement is an easy cross-engine off-by-one; monetary is exact
    cents, recency exact days from the corpus max order date.

    Scale shape: one keyed aggregate to customer grain, then three
    GLOBAL ranks over the CUSTOMER table (not the order stream).  Each
    rank is ``functions/prefix.py``'s two-pass ``running_by_bucket``
    over {RFM_RANK_PARTS} approxQuantile ranges (``range_id``) — no
    Exchange SinglePartition ever sees customer-grain data (a plan
    gate pins it).  The three rank tables rejoin on custkey (hash
    joins, co-partitioned after the first).
    """
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        )
        .cast("long")
        .alias("monetary_cents"),
    )
    ref = o.agg(F.max("o_orderdate").alias("ref"))
    # Negated metrics turn the DESC ranks into ASC ranks so one helper
    # serves all three; last_order ranks via its epoch-day number
    # (monotonic with the date, so identical order to the oracle's
    # last_order DESC).
    pc = (
        per_cust.crossJoin(F.broadcast(ref))
        .withColumn(
            "recency_days",
            F.datediff(
                F.col("ref").cast("date"), F.col("last_order").cast("date")
            ).cast("long"),
        )
        .withColumn(
            "neg_r",
            -F.datediff(
                F.col("last_order").cast("date"), F.lit("1970-01-01").cast("date")
            ).cast("long"),
        )
        .withColumn("neg_f", -F.col("frequency").cast("long"))
        .withColumn("neg_m", -F.col("monetary_cents"))
        .cache()
    )
    probs = [i / RFM_RANK_PARTS for i in range(1, RFM_RANK_PARTS)]
    cuts_r, cuts_f, cuts_m = pc.approxQuantile(
        ["neg_r", "neg_f", "neg_m"], probs, 0.01
    )

    def rank0(colname: str, cuts: list[float], out: str, with_n: bool):
        keyed = pc.select(
            "custkey",
            F.col(colname).alias("v"),
            range_id(F.col(colname), cuts).alias("pid"),
        )
        ranked = running_by_bucket(keyed, "pid", ["v", "custkey"], rk=None)
        cols = ["custkey", (F.col("rk") - 1).alias(out)]
        if with_n:
            cols.append(F.col("rk_total").alias("n"))
        return ranked.select(*cols)

    scored = (
        pc.join(rank0("neg_r", cuts_r, "r_rank", with_n=True), "custkey")
        .join(rank0("neg_f", cuts_f, "f_rank", with_n=False), "custkey")
        .join(rank0("neg_m", cuts_m, "m_rank", with_n=False), "custkey")
    )
    score = lambda c: F.expr(  # noqa: E731
        f"CAST({RFM_BUCKETS} - ({c} * {RFM_BUCKETS} div n) AS BIGINT)"
    )
    return scored.select(
        "custkey",
        "recency_days",
        F.col("frequency").cast("long").alias("frequency"),
        "monetary_cents",
        score("r_rank").alias("r_score"),
        score("f_rank").alias("f_score"),
        score("m_rank").alias("m_score"),
    ).orderBy("custkey")


# ABC classification thresholds in basis points of cumulative revenue.
ABC_A_BP = 8_000
ABC_B_BP = 9_500
# Revenue-domain ranges for the two-pass distributed cumulative sum.
ABC_RANK_PARTS = 32


@register(
    "part_abc_classification",
    oracle_sql=f"""
    WITH rev AS (
      SELECT l_partkey AS partkey,
             CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT partkey, revenue_cents,
             sum(revenue_cents) OVER (ORDER BY revenue_cents DESC, partkey
                                      ROWS UNBOUNDED PRECEDING) AS cum_cents,
             sum(revenue_cents) OVER () AS total_cents
      FROM rev
    ),
    classed AS (
      SELECT partkey, revenue_cents,
             CASE WHEN cum_cents * 10000 <= total_cents * {ABC_A_BP} THEN 'A'
                  WHEN cum_cents * 10000 <= total_cents * {ABC_B_BP} THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM ranked
    )
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(revenue_cents) AS BIGINT) AS class_revenue_cents
    FROM classed
    GROUP BY abc_class
    ORDER BY abc_class
    """,
    tags=("analytics", "pareto", "abc"),
)
def part_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification: parts ranked by revenue,
    class A = the head covering the first {ABC_A_BP} bp of cumulative
    revenue, B to {ABC_B_BP} bp, C the tail — the 80/15/5 rule every
    inventory and storage-tiering policy runs on.

    Exactness: revenue is exact cents; the class boundary compares
    ``cum * 10000 <= total * threshold_bp`` in integers (never a float
    cumulative share), and the cumulative order pins ties by partkey.

    Scale shape: the order stream reduces to PART grain first (keyed
    aggregate, map-side combined); only the part-sized table enters
    the cumulative sum, and THAT is ``functions/prefix.py``'s two-pass
    ``running_by_bucket`` over {ABC_RANK_PARTS} approxQuantile revenue
    ranges — part-grain data never crosses a SinglePartition exchange
    (plan-gated).  The boundary compare runs in DECIMAL(38,0):
    cum_cents * 10000 wraps int64 once corpus revenue passes ~9.2e14
    cents (~sf40), while the DuckDB oracle auto-promotes to HUGEINT —
    decimals keep both engines exact.
    """
    rev = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("revenue_cents")
        )
        .withColumn("neg", -F.col("revenue_cents"))
        .cache()
    )
    cuts = rev.approxQuantile(
        "neg", [i / ABC_RANK_PARTS for i in range(1, ABC_RANK_PARTS)], 0.01
    )
    keyed = rev.select(
        "partkey",
        "revenue_cents",
        "neg",
        range_id(F.col("neg"), cuts).alias("pid"),
    )
    ranked = running_by_bucket(
        keyed, "pid", ["neg", "partkey"], cum_cents=F.col("revenue_cents")
    )
    cum_d = F.col("cum_cents").cast("decimal(38,0)") * 10000
    tot_d = F.col("cum_cents_total").cast("decimal(38,0)")
    classed = ranked.withColumn(
        "abc_class",
        F.when(cum_d <= tot_d * ABC_A_BP, "A")
        .when(cum_d <= tot_d * ABC_B_BP, "B")
        .otherwise("C"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("revenue_cents").cast("long").alias("class_revenue_cents"),
        )
        .orderBy("abc_class")
    )


# ClickHouse-windowFunnel-style timeout funnel: the whole chain must
# complete within FUNNEL_WINDOW_US of its ANCHOR view event.
FUNNEL_WINDOW_US = 24 * 3600 * 1_000_000  # 1 day


@register(
    "window_funnel_timeout",
    oracle_sql=f"""
    WITH per_user AS (
      SELECT user_id,
             list_sort(list(CASE WHEN event_type = 'view'
                                 THEN epoch_us(ts) END)) AS vs,
             list_sort(list(CASE WHEN event_type = 'click'
                                 THEN epoch_us(ts) END)) AS cs,
             list_sort(list(CASE WHEN event_type = 'purchase'
                                 THEN epoch_us(ts) END)) AS ps
      FROM events GROUP BY user_id
    ),
    levels AS (
      SELECT user_id,
             coalesce(list_max(list_transform(
               list_filter(vs, v -> v IS NOT NULL), v ->
                 CASE WHEN len(list_filter(cs, c -> c IS NOT NULL
                               AND c > v AND c <= v + {FUNNEL_WINDOW_US})) = 0
                      THEN 1
                      WHEN len(list_filter(ps, p -> p IS NOT NULL
                               AND p > list_min(list_filter(cs,
                                   c -> c IS NOT NULL AND c > v
                                        AND c <= v + {FUNNEL_WINDOW_US}))
                               AND p <= v + {FUNNEL_WINDOW_US})) = 0
                      THEN 2
                      ELSE 3 END)), 0) AS funnel_level
      FROM per_user
    )
    SELECT funnel_level,
           CAST(count(*) AS BIGINT) AS n_users
    FROM levels
    GROUP BY funnel_level
    ORDER BY funnel_level
    """,
    tags=("analytics", "funnel", "timeseries"),
)
def window_funnel_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timeout-constrained funnel (the windowFunnel shape): the deepest
    view -> click -> purchase chain where the click strictly follows
    its ANCHOR view, the purchase strictly follows that click, and the
    whole chain completes within 24 hours (FUNNEL_WINDOW_US) of the
    anchor — every anchor
    view is tried, so a user converts if ANY window does.
    [[event_funnel]] is the unconstrained first-qualifying variant;
    the timeout is what product funnels actually measure.

    Shape: one user-keyed aggregate collects each user's per-step
    timestamp arrays (bounded by the user's own activity — the
    [[document_chunking]] bound applied to events), then the chain
    search is pure in-row array arithmetic over epoch-microsecond
    integers: no self-join per step, no window sort, ONE shuffle at
    100 TB.  The earliest qualifying click per anchor is provably
    optimal (it maximizes the remaining purchase window), so the
    in-row scan is exact, not greedy-approximate.
    """
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        *[
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("event_type") == s, F.unix_micros(F.col("ts"))
                    )
                )
            ).alias(k)
            for s, k in (("view", "vs"), ("click", "cs"), ("purchase", "ps"))
        ]
    )
    W = FUNNEL_WINDOW_US
    first_click = (
        f"array_min(filter(cs, c -> c > v AND c <= v + {W}L))"
    )
    level_expr = f"""
      coalesce(array_max(transform(vs, v ->
        CASE WHEN size(filter(cs, c -> c > v AND c <= v + {W}L)) = 0 THEN 1
             WHEN size(filter(ps, p -> p > {first_click}
                              AND p <= v + {W}L)) = 0 THEN 2
             ELSE 3 END)), 0)
    """
    return (
        per_user.select(F.expr(level_expr).alias("funnel_level"))
        .groupBy("funnel_level")
        .agg(F.count("*").cast("long").alias("n_users"))
        .orderBy("funnel_level")
    )


# --- Round 9: market-basket association rules ---------------------------
#
# Apriori with the ONLY prune that matters at scale: items below the
# support floor never reach the pair join (the anti-monotone property —
# a pair can't be frequent if either item isn't), so within-basket pair
# fan-out runs on the pruned basket.  Per-basket pair count is bounded
# by basket size squared (TPC-H orders carry <= 7 lines), never by
# catalog size.
ARULE_MIN_ITEM_ORDERS = 3  # item support floor (distinct baskets)
ARULE_MIN_PAIR_ORDERS = 2  # pair support floor


@register(
    "association_rules_parts",
    oracle_sql=f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    items AS (
      SELECT p, count(*) AS n_item FROM baskets
      GROUP BY p HAVING count(*) >= {ARULE_MIN_ITEM_ORDERS}
    ),
    freq AS (
      SELECT b.o, b.p, i.n_item FROM baskets b JOIN items i USING (p)
    ),
    pairs AS (
      SELECT a.p AS pa, b.p AS pb,
             max(a.n_item) AS n_a, max(b.n_item) AS n_b,
             count(*) AS n_pair
      FROM freq a JOIN freq b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p HAVING count(*) >= {ARULE_MIN_PAIR_ORDERS}
    ),
    directed AS (
      SELECT pa AS antecedent, pb AS consequent, n_a AS n_ante,
             n_b AS n_cons, n_pair FROM pairs
      UNION ALL
      SELECT pb, pa, n_b, n_a, n_pair FROM pairs
    ),
    total AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM lineitem)
    SELECT antecedent, consequent,
           CAST(n_ante AS BIGINT) AS n_ante,
           CAST(n_cons AS BIGINT) AS n_cons,
           CAST(n_pair AS BIGINT) AS n_pair,
           CAST(n_pair * 1000000 // n_ante AS BIGINT) AS confidence_ppm,
           CAST(CAST(n_pair AS HUGEINT) * n_baskets * 1000000
                // (CAST(n_ante AS HUGEINT) * n_cons) AS BIGINT)
             AS lift_ppm
    FROM directed, total
    """,
    tags=("analytics", "basket", "apriori", "rules"),
)
def association_rules_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: parts
    co-ordered in >= {ARULE_MIN_PAIR_ORDERS} orders, reported in both
    rule directions with integer-exact support, confidence, and lift
    (ppm floors; the pair*N product routes through DECIMAL(38,0) — at
    100 TB basket counts it passes int64).

    Scale shape: the Apriori anti-monotone prune runs FIRST — one
    part-keyed aggregate drops infrequent items before any pair is
    formed (the reference's shrink-before-the-expensive-stage combiner
    discipline, /root/reference/src/main.c:62-81) — then the pair stage
    is a basket-keyed equi self-join whose per-basket fan-out is
    bounded by basket size squared (<= 7 lines per TPC-H order), never
    by catalog size; pair support is one more keyed aggregate.  The
    1-row basket total broadcasts.  No candidate generation loop is
    needed at the 2-itemset grain; k-itemsets would iterate this same
    prune-join-count round.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    # consumed three times (item counts, both pair sides) plus the
    # basket total below — cache so the scan+distinct runs once
    baskets = li.distinct().cache()
    items = (
        baskets.groupBy("p")
        .agg(F.count("*").alias("n_item"))
        .filter(F.col("n_item") >= ARULE_MIN_ITEM_ORDERS)
    )
    # items is catalog-bounded after the Apriori prune (part keys +
    # counts) — broadcast it so the basket-sized side is NOT shuffled by
    # part key first; each pair side then pays only its basket-key
    # exchange.
    freq = baskets.join(F.broadcast(items), "p").select("o", "p", "n_item")
    a = freq.select(
        F.col("o"), F.col("p").alias("pa"), F.col("n_item").alias("na")
    )
    b = freq.select(
        F.col("o"), F.col("p").alias("pb"), F.col("n_item").alias("nb")
    )
    pairs = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.count("*").alias("n_pair"),
        )
        .filter(F.col("n_pair") >= ARULE_MIN_PAIR_ORDERS)
    )
    directed = pairs.select(
        F.col("pa").alias("antecedent"),
        F.col("pb").alias("consequent"),
        F.col("n_a").alias("n_ante"),
        F.col("n_b").alias("n_cons"),
        "n_pair",
    ).unionAll(
        pairs.select(
            F.col("pb").alias("antecedent"),
            F.col("pa").alias("consequent"),
            F.col("n_b").alias("n_ante"),
            F.col("n_a").alias("n_cons"),
            "n_pair",
        )
    )
    total = baskets.agg(F.count_distinct("o").alias("n_baskets"))
    return directed.crossJoin(F.broadcast(total)).select(
        "antecedent",
        "consequent",
        F.col("n_ante").cast("long").alias("n_ante"),
        F.col("n_cons").cast("long").alias("n_cons"),
        F.col("n_pair").cast("long").alias("n_pair"),
        F.expr("n_pair * 1000000 div n_ante").cast("long").alias("confidence_ppm"),
        F.expr(
            "CAST(CAST(n_pair AS DECIMAL(38,0)) * n_baskets * 1000000"
            " div (CAST(n_ante AS DECIMAL(38,0)) * n_cons) AS BIGINT)"
        ).alias("lift_ppm"),
    )


# --- Round 10: sequential pattern mining (ordered pairs) -----------------
#
# Sequential-pattern support at the "a happens before b" grain
# (AprioriAll / GSP's length-2 patterns, Agrawal & Srikant 1995-96):
# a user SUPPORTS pattern a->b iff some occurrence of a precedes some
# occurrence of b in their event stream — equivalently iff the user's
# FIRST a precedes their LAST b.  That reduction is what keeps the op
# linear: per-(user, type) extremes, never position pairs.  Unlike
# [[event_transition_matrix]] (adjacent steps only), this counts
# long-range order.
SEQPAT_MIN_SUP = 3  # Apriori: prune event types under this user support


@register(
    "sequential_pattern_mining",
    oracle_sql=f"""
    WITH occ AS (
      SELECT user_id, event_type,
             min({{'ts': ts, 'e': event_id}}) AS first_occ,
             max({{'ts': ts, 'e': event_id}}) AS last_occ
      FROM events GROUP BY user_id, event_type
    ),
    sup1 AS (
      SELECT event_type, count(*) AS n_users_item FROM occ
      GROUP BY event_type HAVING count(*) >= {SEQPAT_MIN_SUP}
    ),
    focc AS (
      SELECT o.* FROM occ o JOIN sup1 USING (event_type)
    ),
    pairs AS (
      SELECT a.event_type AS antecedent, b.event_type AS consequent,
             count(*) AS n_users_both
      FROM focc a JOIN focc b
        ON a.user_id = b.user_id AND a.event_type <> b.event_type
      WHERE a.first_occ < b.last_occ
      GROUP BY 1, 2
    ),
    n AS (SELECT count(DISTINCT user_id) AS n_users FROM events)
    SELECT p.antecedent, p.consequent,
           CAST(p.n_users_both AS BIGINT) AS n_users_both,
           CAST(sa.n_users_item AS BIGINT) AS n_users_a,
           CAST(sb.n_users_item AS BIGINT) AS n_users_b,
           CAST(p.n_users_both * 1000000 // n.n_users AS BIGINT)
             AS support_ppm,
           CAST(p.n_users_both * 1000000 // sa.n_users_item AS BIGINT)
             AS confidence_ppm,
           CAST(p.n_users_both * n.n_users * 1000 //
                (sa.n_users_item * sb.n_users_item) AS BIGINT)
             AS lift_milli
    FROM pairs p
    JOIN sup1 sa ON sa.event_type = p.antecedent
    JOIN sup1 sb ON sb.event_type = p.consequent
    CROSS JOIN n
    """,
    tags=("analytics", "sequence", "patterns", "pipeline"),
)
def sequential_pattern_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-2 sequential patterns over user event streams: for every
    ordered type pair (a -> b), the number of users whose first a
    precedes their last b, with support/confidence (ppm) and lift
    (milli) — the GSP/AprioriAll building block, counting LONG-RANGE
    order that [[event_transition_matrix]]'s adjacent-step grain
    cannot see ([[event_funnel]] fixes one pattern; this mines all).

    Exactness: occurrence order is the total (ts, event_id) struct
    order, so ts ties cannot diverge between engines.

    Scale shape: the corpus-sized stage is ONE map-side-combined
    aggregate to the (user, type) grain with struct min/max; the
    Apriori 1-item prune ([[association_rules_parts]]' combiner
    discipline) cuts infrequent types BEFORE the pair stage; the pair
    stage is a user-keyed self-join bounded by (types-per-user)^2 —
    type-catalog grain, never events^2.  Support rollup is keyed on
    the bounded (a, b) pair grain.

    Reference analog: none (SURVEY §2.2 analytics surface).
    """
    e = load_table(spark, sf_dir, "events")
    occ = e.groupBy("user_id", "event_type").agg(
        F.min(F.struct(F.col("ts"), F.col("event_id"))).alias("first_occ"),
        F.max(F.struct(F.col("ts"), F.col("event_id"))).alias("last_occ"),
    ).cache()  # (user, type)-grain extremes: feed the prune + both sides
    sup1 = (
        occ.groupBy("event_type")
        .agg(F.count("*").alias("n_users_item"))
        .filter(F.col("n_users_item") >= SEQPAT_MIN_SUP)
        # type-catalog grain: broadcast into the prune and the rollup
        .cache()
    )
    focc = occ.join(F.broadcast(sup1.select("event_type")), "event_type")
    a = focc.select(
        "user_id",
        F.col("event_type").alias("antecedent"),
        F.col("first_occ").alias("fa"),
    )
    b = focc.select(
        "user_id",
        F.col("event_type").alias("consequent"),
        F.col("last_occ").alias("lb"),
    )
    pairs = (
        a.join(b, "user_id")
        .filter(
            (F.col("antecedent") != F.col("consequent"))
            & (F.col("fa") < F.col("lb"))
        )
        .groupBy("antecedent", "consequent")
        .agg(F.count("*").alias("n_users_both"))
    )
    n = e.agg(F.count_distinct("user_id").alias("n_users"))
    sa = sup1.select(
        F.col("event_type").alias("antecedent"),
        F.col("n_users_item").alias("n_users_a"),
    )
    sb = sup1.select(
        F.col("event_type").alias("consequent"),
        F.col("n_users_item").alias("n_users_b"),
    )
    return (
        pairs.join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sb), "consequent")
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("n_users_both").cast("long").alias("n_users_both"),
            F.col("n_users_a").cast("long").alias("n_users_a"),
            F.col("n_users_b").cast("long").alias("n_users_b"),
            F.expr(
                "CAST(n_users_both * 1000000 div n_users AS BIGINT)"
            ).alias("support_ppm"),
            F.expr(
                "CAST(n_users_both * 1000000 div n_users_a AS BIGINT)"
            ).alias("confidence_ppm"),
            F.expr(
                "CAST(n_users_both * n_users * 1000"
                " div (n_users_a * n_users_b) AS BIGINT)"
            ).alias("lift_milli"),
        )
    )


# --- Round 10: Gini concentration of the key-frequency distribution ------
#
# Lorenz/Gini skew diagnostic over token frequencies: with counts
# c_1 <= ... <= c_n (ascending rank i) and T = sum c_i, Gini =
# 2*sum(i*c_i)/(n*T) - (n+1)/n — 0 for a uniform vocabulary, -> 1 for
# one dominant key.  The single number that tells a shuffle planner
# (and [[key_skew_profile]]'s per-key view, [[zipf_rank_frequency]]'s
# fit) HOW skewed the whole key domain is.  The global ascending rank
# is the two-pass bucketed form (log2-count range buckets).


@register(
    "key_gini_concentration",
    oracle_sql=f"""
    WITH counts AS (
      SELECT t AS token, count(*) AS cnt
      FROM (SELECT unnest({DUCKDB_TOKENIZE.format(col="text")}) AS t
            FROM documents)
      GROUP BY t
    ),
    ranked AS (
      SELECT cnt,
             row_number() OVER (ORDER BY cnt, token) AS rk
      FROM counts
    ),
    tot AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(cnt) AS HUGEINT) AS t,
             sum(CAST(rk AS HUGEINT) * cnt) AS s
      FROM ranked
    ),
    shares AS (
      SELECT sum(CASE WHEN r.rk > x.n - 10 THEN r.cnt ELSE 0 END) AS top10,
             sum(CASE WHEN r.rk > x.n - greatest(x.n // 100, 1)
                      THEN r.cnt ELSE 0 END) AS top1pct
      FROM ranked r CROSS JOIN tot x
    )
    SELECT CAST(n AS BIGINT) AS n_keys,
           CAST(t AS BIGINT) AS total_count,
           CAST((2 * s - (n + 1) * t) * 1000000 // (n * t) AS BIGINT)
             AS gini_ppm,
           CAST(CAST(top10 AS HUGEINT) * 1000000 // t AS BIGINT)
             AS top10_share_ppm,
           CAST(CAST(top1pct AS HUGEINT) * 1000000 // t AS BIGINT)
             AS top1pct_share_ppm
    FROM tot CROSS JOIN shares
    """,
    tags=("analytics", "skew", "gini", "profile"),
)
def key_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient (+ top-10 and top-1% Lorenz shares) of the
    token-frequency distribution — the corpus-level skew summary that
    prices salting/AQE decisions before a key-heavy shuffle: Gini near
    0 means uniform keys (hash partitioning is fine), near 1 means a
    handful of whales ([[skew_join_salted]] territory).  All ratios
    ppm-frozen; the wide sum runs in DECIMAL(38,0)/HUGEINT (rank*count
    reaches ~1e18 at web-corpus vocabulary sizes — BIGINT would wrap).

    Scale shape: one map-side-combined token count (the word_count
    shuffle), then the global ascending rank is ``functions/prefix.py``'s
    two-pass ``running_by_bucket`` over log2(count) range buckets (~40
    at any corpus size) — never an unpartitioned vocabulary window.
    The final rollup is a 1-row partial/final aggregate.

    Reference analog: none (SURVEY §2.2 analytics surface).
    """
    d = parallel_scan(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .withColumn("bk", F.expr("length(bin(cnt)) - 1"))
    )
    ranked = running_by_bucket(counts, "bk", ["cnt", "token"], rk=None).select(
        "cnt", "rk"
    ).cache()  # vocab-grain rank table, consumed by totals AND shares
    agg = ranked.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("cnt").cast("decimal(38,0)").alias("t"),
        F.sum(F.expr("CAST(rk AS DECIMAL(38,0)) * cnt")).alias("s"),
    )
    # top-share sums need n first: broadcast the 1-row totals back
    shares = ranked.crossJoin(F.broadcast(agg)).agg(
        F.sum(
            F.when(F.expr("rk > n - 10"), F.col("cnt")).otherwise(0)
        ).alias("top10"),
        F.sum(
            F.when(
                F.expr("rk > n - greatest(CAST(n AS BIGINT) div 100, 1)"),
                F.col("cnt"),
            ).otherwise(0)
        ).alias("top1pct"),
    )
    return (
        agg.crossJoin(F.broadcast(shares))
        .select(
            F.col("n").cast("long").alias("n_keys"),
            F.col("t").cast("long").alias("total_count"),
            F.expr(
                "CAST((2 * s - (n + 1) * t) * 1000000 div (n * t)"
                " AS BIGINT)"
            ).alias("gini_ppm"),
            F.expr(
                "CAST(CAST(top10 AS DECIMAL(38,0)) * 1000000 div t"
                " AS BIGINT)"
            ).alias("top10_share_ppm"),
            F.expr(
                "CAST(CAST(top1pct AS DECIMAL(38,0)) * 1000000 div t"
                " AS BIGINT)"
            ).alias("top1pct_share_ppm"),
        )
    )


# --- Round 10: Hilbert-curve layout (z-order's better-locality sibling) --
#
# Hilbert index via the classic xy2d bit loop (Wikipedia "Hilbert
# curve", the Butz/Lawder construction), unrolled to HB_ORDER chained
# projections of pure integer arithmetic in BOTH engines — one Project
# (Spark) / CTE (DuckDB) per bit level, because single-SELECT lateral
# aliases inline x/y twice per level (2^HB_ORDER expression blowup,
# measured as a hang in both engines).  The quadrant term (3*rx) XOR
# ry is rewritten arithmetically as 3*rx + ry - 2*rx*ry (identical on
# {0,1} inputs) because ^ means power in DuckDB.
HB_ORDER = 8  # bits per dimension -> 16-bit Hilbert key, 256x256 cells
HB_N = 1 << HB_ORDER
HB_BUCKETS = 16
HB_RB_BITS = 8  # range buckets for the two-pass global rank


def _hilbert_duck_ctes() -> str:
    """The same bit loop as chained CTEs for the DuckDB oracle — one
    CTE per bit level.  DuckDB expands LATERAL column aliases by
    textual substitution, so a single 40-alias SELECT would double the
    x/y expressions per level (2^HB_ORDER blowup, measured: minutes vs
    10 ms); CTE boundaries bind by column reference instead.  Emits
    h{HB_ORDER - 1} .. h0; h0 carries hd."""
    ctes = []
    px, py, pd, prev = "xk", "yd", "0", "hdims"
    for k in range(HB_ORDER - 1, -1, -1):
        s = 1 << k
        rx, ry = f"rx{k}", f"ry{k}"
        ctes.append(f"""h{k} AS (
      SELECT o_orderkey, o_custkey, o_orderdate,
             (({px}) // {s}) % 2 AS {rx},
             (({py}) // {s}) % 2 AS {ry},
             {pd} + {s * s} * (3 * ((({px}) // {s}) % 2)
                              + (({py}) // {s}) % 2
                              - 2 * (((({px}) // {s}) % 2)
                                     * ((({py}) // {s}) % 2))) AS d{k},
             CASE WHEN (({py}) // {s}) % 2 = 0
                  THEN (CASE WHEN (({px}) // {s}) % 2 = 1
                        THEN {HB_N - 1} - ({py}) ELSE ({py}) END)
                  ELSE ({px}) END AS x{k},
             CASE WHEN (({py}) // {s}) % 2 = 0
                  THEN (CASE WHEN (({px}) // {s}) % 2 = 1
                        THEN {HB_N - 1} - ({px}) ELSE ({px}) END)
                  ELSE ({py}) END AS y{k}
      FROM {prev})""")
        px, py, pd, prev = f"x{k}", f"y{k}", f"d{k}", f"h{k}"
    return ",\n    ".join(ctes)


@register(
    "hilbert_curve_layout",
    oracle_sql=f"""
    WITH hdims AS (
      SELECT o_orderkey,
             o_custkey % {HB_N} AS xk,
             CAST(date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT)
               % {HB_N} AS yd,
             o_custkey, o_orderdate
      FROM orders
    ),
    {_hilbert_duck_ctes()},
    hvals AS (
      SELECT o_orderkey, o_custkey, o_orderdate, d0 AS hd FROM h0
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY hd, o_orderkey) AS rn,
             count(*) OVER () AS n
      FROM hvals
    )
    SELECT CAST(((rn - 1) * {HB_BUCKETS}) // n AS BIGINT) AS bucket,
           count(*) AS n_rows,
           min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
           min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
    FROM ranked
    GROUP BY 1
    """,
    tags=("layout", "hilbert", "pipeline"),
)
def hilbert_curve_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve data layout: orders keyed by (customer, order-day)
    map onto the {HB_ORDER}-order Hilbert curve and split into
    {HB_BUCKETS} equal-count files, each reporting its min/max on both
    dimensions — [[zorder_layout]] with the curve that never jumps
    (Hilbert neighbors are always grid neighbors, so per-file min/max
    envelopes are tighter and data-skipping prunes more; the layout
    Delta/Iceberg clustering offers above Z-order).  The index is the
    classic xy2d bit loop as pure integer column arithmetic — an
    aggregate() fold on the Spark side, per-level CTEs in the oracle —
    no UDF; both avoid the lateral-alias unroll whose per-level x/y
    inlining is exponential in HB_ORDER.

    Scale shape: the Hilbert index is in-row whole-stage-codegen
    arithmetic; the global equal-count split is the TWO-PASS bucketed
    rank of ``functions/prefix.py`` over hd range buckets; the rollup
    shares the bucket exchange.  No unpartitioned corpus window
    anywhere.

    Reference analog: none (SURVEY §2.2 layout surface).
    """
    o = load_table(spark, sf_dir, "orders")
    dims = o.selectExpr(
        "o_orderkey",
        f"o_custkey % {HB_N} AS xk",
        f"CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
        f" AS BIGINT) % {HB_N} AS yd",
        "o_custkey",
        "o_orderdate",
    )
    # The bit loop as ONE aggregate() fold over the bit indices — a
    # RUNTIME loop in a linear-size expression.  Never unroll it into a
    # lateral-alias SELECT or a withColumn chain: analysis inlines each
    # level's x/y into the next (both referenced twice), a
    # 2^{HB_ORDER} expression blowup measured as a multi-minute hang in
    # both engines.  (DuckDB's reduce() lacks struct accumulators, so
    # the oracle unrolls per-CTE instead — CTE boundaries bind by
    # reference, no inlining.)
    fold = f"""
    aggregate(
      sequence({HB_ORDER - 1}, 0, -1),
      named_struct('x', CAST(xk AS BIGINT), 'y', CAST(yd AS BIGINT),
                   'd', CAST(0 AS BIGINT)),
      (acc, k) -> named_struct(
        'x', CASE WHEN (acc.y div shiftleft(1, k)) % 2 = 0
                  THEN (CASE WHEN (acc.x div shiftleft(1, k)) % 2 = 1
                        THEN {HB_N - 1} - acc.y ELSE acc.y END)
                  ELSE acc.x END,
        'y', CASE WHEN (acc.y div shiftleft(1, k)) % 2 = 0
                  THEN (CASE WHEN (acc.x div shiftleft(1, k)) % 2 = 1
                        THEN {HB_N - 1} - acc.x ELSE acc.x END)
                  ELSE acc.y END,
        'd', acc.d + CAST(shiftleft(1, 2 * k) AS BIGINT) * (
               3 * ((acc.x div shiftleft(1, k)) % 2)
               + (acc.y div shiftleft(1, k)) % 2
               - 2 * ((acc.x div shiftleft(1, k)) % 2)
                   * ((acc.y div shiftleft(1, k)) % 2))),
      acc -> acc.d) AS hd
    """
    # The fold lambda is interpreted per row (HOF bodies don't codegen),
    # and hvals feeds BOTH the in-bucket rank window and the bucket
    # totals — localCheckpoint pins the narrow (key, hd, rb) result so
    # the fold runs ONCE instead of once per consumer.
    hvals = (
        dims.selectExpr("o_orderkey", "o_custkey", "o_orderdate", fold)
        .withColumn("rb", F.expr(f"hd div {1 << (2 * HB_ORDER - HB_RB_BITS)}"))
        .localCheckpoint()
    )
    return (
        running_by_bucket(hvals, "rb", ["hd", "o_orderkey"], rn=None)
        .selectExpr(
            f"((rn - 1) * {HB_BUCKETS}) div rn_total AS bucket",
            "o_custkey",
            "o_orderdate",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.min("o_orderdate").alias("min_date"),
            F.max("o_orderdate").alias("max_date"),
        )
    )


# --- Round 10: difference-in-differences ----------------------------------
#
# The canonical quasi-experimental estimator (Card & Krueger 1994
# design): outcome change in a TREATED group minus the change in a
# CONTROL group across a cutoff, cancelling shared time trends.
# Treatment here is data-derived (users whose pre-cutoff error count
# exceeds the floor-average across erroring users — the split stays
# two-sided at any fixture scale), outcome is mean purchase value;
# means are floor-frozen milli-cents, pure integer arithmetic.
DID_CUTOFF = "2024-01-16"


@register(
    "diff_in_differences_events",
    oracle_sql=f"""
    WITH errs AS (
      SELECT user_id, count(*) AS c FROM events
      WHERE event_type = 'error' AND ts < TIMESTAMP '{DID_CUTOFF}'
      GROUP BY user_id
    ),
    avgc AS (SELECT sum(c) // count(*) AS a FROM errs),
    treated AS (
      SELECT user_id FROM errs CROSS JOIN avgc WHERE c > a
    ),
    outcomes AS (
      SELECT CASE WHEN t.user_id IS NOT NULL THEN 1 ELSE 0 END AS grp,
             CASE WHEN e.ts >= TIMESTAMP '{DID_CUTOFF}' THEN 1 ELSE 0 END
               AS post,
             CAST(floor(e.value * 100) AS BIGINT) AS cents
      FROM events e LEFT JOIN treated t USING (user_id)
      WHERE e.event_type = 'purchase'
    ),
    cells AS (
      SELECT grp, post, count(*) AS n,
             sum(cents) * 1000 // count(*) AS mean_milli
      FROM outcomes GROUP BY grp, post
    )
    SELECT
      CAST(max(CASE WHEN grp = 1 AND post = 0 THEN n END) AS BIGINT)
        AS n_treated_pre,
      CAST(max(CASE WHEN grp = 1 AND post = 1 THEN n END) AS BIGINT)
        AS n_treated_post,
      CAST(max(CASE WHEN grp = 0 AND post = 0 THEN n END) AS BIGINT)
        AS n_control_pre,
      CAST(max(CASE WHEN grp = 0 AND post = 1 THEN n END) AS BIGINT)
        AS n_control_post,
      CAST(max(CASE WHEN grp = 1 AND post = 0 THEN mean_milli END)
           AS BIGINT) AS treated_pre_milli,
      CAST(max(CASE WHEN grp = 1 AND post = 1 THEN mean_milli END)
           AS BIGINT) AS treated_post_milli,
      CAST(max(CASE WHEN grp = 0 AND post = 0 THEN mean_milli END)
           AS BIGINT) AS control_pre_milli,
      CAST(max(CASE WHEN grp = 0 AND post = 1 THEN mean_milli END)
           AS BIGINT) AS control_post_milli,
      CAST(max(CASE WHEN grp = 1 AND post = 1 THEN mean_milli END)
           - max(CASE WHEN grp = 1 AND post = 0 THEN mean_milli END)
           - max(CASE WHEN grp = 0 AND post = 1 THEN mean_milli END)
           + max(CASE WHEN grp = 0 AND post = 0 THEN mean_milli END)
           AS BIGINT) AS did_milli
    FROM cells
    """,
    tags=("analytics", "causal", "did", "pipeline"),
)
def diff_in_differences_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: mean purchase value (floor-frozen
    milli-cents) in the 2x2 (treated x pre/post-{DID_CUTOFF}) design,
    where treatment = the user's pre-cutoff error count exceeds the
    floor-average across erroring users;
    did_milli = (T_post - T_pre) - (C_post - C_pre) cancels the shared
    time trend — the causal-read companion to
    [[event_attribution_last_touch]]'s correlational view and the
    analysis [[welch_t_test_pairs]] would significance-test.

    Scale shape: the treated set is a user-grain aggregate (ids only)
    left-joined onto the purchase stream user-keyed; cells collapse via
    one map-side-combined 4-cell aggregate; the estimate is a 1-row
    pivot.  Nothing wider than the events scan.

    Reference analog: none (SURVEY §2.2 analytics surface).
    """
    e = load_table(spark, sf_dir, "events")
    errs = (
        e.filter(
            (F.col("event_type") == "error")
            & (F.col("ts") < F.lit(DID_CUTOFF).cast("timestamp"))
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("c"))
    )
    avgc = errs.agg(F.expr("sum(c) div count(*)").alias("a"))
    treated = (
        errs.crossJoin(F.broadcast(avgc))
        .filter(F.col("c") > F.col("a"))
        .select("user_id")
        .withColumn("is_treated", F.lit(1))
    )
    outcomes = (
        e.filter(F.col("event_type") == "purchase")
        .join(treated, "user_id", "left")
        .select(
            F.coalesce("is_treated", F.lit(0)).alias("grp"),
            F.when(
                F.col("ts") >= F.lit(DID_CUTOFF).cast("timestamp"), 1
            )
            .otherwise(0)
            .alias("post"),
            F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
        )
    )
    cells = outcomes.groupBy("grp", "post").agg(
        F.count("*").alias("n"),
        F.expr("sum(cents) * 1000 div count(*)").alias("mean_milli"),
    )
    cell = lambda g, p, col: F.max(  # noqa: E731
        F.when((F.col("grp") == g) & (F.col("post") == p), F.col(col))
    )
    return cells.agg(
        cell(1, 0, "n").cast("long").alias("n_treated_pre"),
        cell(1, 1, "n").cast("long").alias("n_treated_post"),
        cell(0, 0, "n").cast("long").alias("n_control_pre"),
        cell(0, 1, "n").cast("long").alias("n_control_post"),
        cell(1, 0, "mean_milli").cast("long").alias("treated_pre_milli"),
        cell(1, 1, "mean_milli").cast("long").alias("treated_post_milli"),
        cell(0, 0, "mean_milli").cast("long").alias("control_pre_milli"),
        cell(0, 1, "mean_milli").cast("long").alias("control_post_milli"),
        (
            cell(1, 1, "mean_milli")
            - cell(1, 0, "mean_milli")
            - cell(0, 1, "mean_milli")
            + cell(0, 0, "mean_milli")
        )
        .cast("long")
        .alias("did_milli"),
    )


# --- Round 10b: quantile treatment effects ---------------------------------
#
# The distributional companion to diff_in_differences_events: the
# treated-vs-control gap at FIXED QUANTILES of post-cutoff purchase
# value, not just at the mean — a treatment that helps the median user
# but hurts the tail is invisible to DiD's single number.  Exact
# integer-cent order statistics at five canonical percentiles.
QTE_PCTS = (10, 25, 50, 75, 90)


@register(
    "quantile_treatment_effects",
    oracle_sql=f"""
    WITH treated AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'error' AND ts < TIMESTAMP '{DID_CUTOFF}'
    ),
    outcomes AS (
      SELECT CASE WHEN t.user_id IS NOT NULL THEN 1 ELSE 0 END AS treated,
             CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events e LEFT JOIN treated t ON t.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= TIMESTAMP '{DID_CUTOFF}'
    ),
    qs AS (
      SELECT treated, count(*) AS n,
             {", ".join(f"CAST(percentile_disc({p / 100.0}) WITHIN GROUP (ORDER BY v) AS BIGINT) AS q{p}" for p in QTE_PCTS)}
      FROM outcomes GROUP BY treated
    ),
    wide AS (
      SELECT p.pct,
             max(CASE WHEN treated = 1 THEN n END) AS n_treated,
             max(CASE WHEN treated = 0 THEN n END) AS n_control,
             {" ".join(f"max(CASE WHEN treated = 1 AND p.pct = {p} THEN q{p} END) AS tq{p}, max(CASE WHEN treated = 0 AND p.pct = {p} THEN q{p} END) AS cq{p}," for p in QTE_PCTS)[:-1]}
      FROM qs CROSS JOIN (SELECT unnest([{", ".join(str(p) for p in QTE_PCTS)}]) AS pct) p
      GROUP BY p.pct
    )
    SELECT CAST(pct AS BIGINT) AS percentile,
           CAST(n_treated AS BIGINT) AS n_treated,
           CAST(n_control AS BIGINT) AS n_control,
           CAST(COALESCE({", ".join(f"CASE WHEN pct = {p} THEN tq{p} END" for p in QTE_PCTS)}) AS BIGINT) AS treated_q_cents,
           CAST(COALESCE({", ".join(f"CASE WHEN pct = {p} THEN cq{p} END" for p in QTE_PCTS)}) AS BIGINT) AS control_q_cents,
           CAST(COALESCE({", ".join(f"CASE WHEN pct = {p} THEN tq{p} - cq{p} END" for p in QTE_PCTS)}) AS BIGINT) AS qte_cents
    FROM wide
    """,
    tags=("analytics", "causal", "quantile", "pipeline"),
)
def quantile_treatment_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the treated-vs-control gap in
    post-cutoff purchase value at the {QTE_PCTS} percentiles (exact
    integer-cent percentile_disc order statistics; treatment = the
    [[diff_in_differences_events]] rule, user hit an 'error' before
    {DID_CUTOFF}) — the DISTRIBUTIONAL causal read: a treatment that
    shifts the median but crushes the p90 tail nets out to zero in
    DiD's single mean, and shows up here.

    Exactness: percentile_disc on integer cents is an exact order
    statistic both engines agree on; differences are exact integers.

    Scale shape: the treated set is a distinct user aggregate
    (broadcast); outcomes reduce per treated-flag group through the
    sort-based percentile aggregate (2 groups — each group's sort is
    distributed by the aggregation, and the documented approximation
    swaps in [[quantile_sketch_mergeable]] when exactness can yield);
    the percentile unpivot runs on a 2-row table.

    Reference analog: none (SURVEY §2.2 analytics surface).
    """
    e = load_table(spark, sf_dir, "events")
    treated = (
        e.filter(
            (F.col("event_type") == "error")
            & (F.col("ts") < F.lit(DID_CUTOFF).cast("timestamp"))
        )
        .select("user_id")
        .distinct()
        .withColumn("tr", F.lit(1))
    )
    outcomes = (
        e.filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.lit(DID_CUTOFF).cast("timestamp"))
        )
        .join(F.broadcast(treated), "user_id", "left")
        .select(
            F.coalesce("tr", F.lit(0)).alias("treated"),
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("v"),
        )
    )
    qs = outcomes.groupBy("treated").agg(
        F.count("*").alias("n"),
        *[
            F.expr(
                f"CAST(percentile_disc({p / 100.0}) WITHIN GROUP (ORDER BY v)"
                " AS BIGINT)"
            ).alias(f"q{p}")
            for p in QTE_PCTS
        ],
    )
    stack = ", ".join(f"{p}, q{p}" for p in QTE_PCTS)
    long = qs.select(
        "treated",
        "n",
        F.expr(f"stack({len(QTE_PCTS)}, {stack}) AS (percentile, q)"),
    )
    return long.groupBy("percentile").agg(
        F.max(F.when(F.col("treated") == 1, F.col("n")))
        .cast("long")
        .alias("n_treated"),
        F.max(F.when(F.col("treated") == 0, F.col("n")))
        .cast("long")
        .alias("n_control"),
        F.max(F.when(F.col("treated") == 1, F.col("q")))
        .cast("long")
        .alias("treated_q_cents"),
        F.max(F.when(F.col("treated") == 0, F.col("q")))
        .cast("long")
        .alias("control_q_cents"),
        (
            F.max(F.when(F.col("treated") == 1, F.col("q")))
            - F.max(F.when(F.col("treated") == 0, F.col("q")))
        )
        .cast("long")
        .alias("qte_cents"),
    ).select(
        F.col("percentile").cast("long").alias("percentile"),
        "n_treated",
        "n_control",
        "treated_q_cents",
        "control_q_cents",
        "qte_cents",
    )


# --- Round 11: FK-candidate discovery by value containment ----------------
#
# The profiling pass run before trusting a schema: for each candidate
# (child column, parent column) pair, what fraction of the child's
# DISTINCT values exist in the parent?  containment ~ 1e6 ppm means
# "referential integrity would hold if declared"; the pair list mixes
# true FKs, a reversed direction, and a cross-table non-key to show
# the measure separating them.
_FK_PAIRS = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("orders", "o_orderkey", "lineitem", "l_orderkey"),  # reversed
    ("events", "user_id", "customer", "c_custkey"),      # non-FK probe
]


def _fk_oracle() -> str:
    parts = []
    for ct, cc, pt, pc in _FK_PAIRS:
        parts.append(f"""
    SELECT '{ct}.{cc}' AS child_col, '{pt}.{pc}' AS parent_col,
           (SELECT CAST(count(DISTINCT {cc}) AS BIGINT) FROM {ct})
             AS n_child_distinct,
           (SELECT CAST(count(DISTINCT {pc}) AS BIGINT) FROM {pt})
             AS n_parent_distinct,
           (SELECT CAST(count(*) AS BIGINT) FROM
              (SELECT DISTINCT {cc} AS v FROM {ct}) c
              WHERE v IN (SELECT {pc} FROM {pt}))
             AS n_contained""")
    union = " UNION ALL ".join(parts)
    return f"""
    SELECT child_col, parent_col, n_child_distinct, n_parent_distinct,
           n_contained,
           CAST(n_contained * 1000000 // n_child_distinct AS BIGINT)
             AS containment_ppm
    FROM ({union})
    """


@register(
    "fk_candidate_discovery",
    oracle_sql=_fk_oracle(),
    tags=("profiling", "schema", "fk", "containment"),
)
def fk_candidate_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key CANDIDATE discovery by distinct-value containment —
    the schema-inference complement to [[fk_integrity_check]] (which
    verifies a DECLARED key, this ranks undeclared pairs): for each
    candidate (child, parent) column pair, |distinct(child) IN parent|
    / |distinct(child)| in ppm.  True FKs score 1e6; the reversed
    direction scores low (orders -> lineitem keys are a superset
    check); the events.user_id probe measures how much of the event
    traffic maps onto known customers.

    Scale shape: per pair, two map-side-combined DISTINCT aggregates
    and one semi-join between the two distinct-value tables (key-grain,
    never fact-grain); the six 1-row results union.  At 100 TB this is
    the exact plan a profiler runs per column pair — cost is bounded by
    the distinct-value cardinalities, not table sizes.

    Reference analog: none (SURVEY §2.2 profiling surface).
    """
    out = None
    for ct, cc, pt, pc in _FK_PAIRS:
        child = (
            load_table(spark, sf_dir, ct).select(F.col(cc).alias("v")).distinct()
        )
        parent = (
            load_table(spark, sf_dir, pt).select(F.col(pc).alias("v")).distinct()
        )
        # One FULL OUTER join of the two distinct-key tables yields all
        # three counts in a single aggregate — the former shape scanned
        # the parent TWICE (distinct for the left join + distinct again
        # for the count) and attached the count via a cross join; this
        # halves the parent passes and drops both extra plan arms per
        # pair (guide §2.4).  Distinct keys are unique per side, so the
        # full join is 1:1 and the sums count exactly the child set,
        # the parent set, and their intersection.
        # coalesce(sum(..), 0): with BOTH distinct-key sets empty the
        # join has zero rows and sum() would return NULL where the old
        # two-scan shape returned 0 (ADVICE r13) — unreachable on the
        # non-empty fixtures, pinned anyway so degenerate inputs stay
        # well-defined.
        row = (
            child.withColumn("_c", F.lit(1))
            .join(parent.withColumn("_p", F.lit(1)), "v", "full")
            .agg(
                F.coalesce(F.sum(F.coalesce("_c", F.lit(0))), F.lit(0))
                .cast("long")
                .alias("n_child_distinct"),
                F.coalesce(F.sum(F.coalesce("_p", F.lit(0))), F.lit(0))
                .cast("long")
                .alias("n_parent_distinct"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("_c").isNotNull() & F.col("_p").isNotNull(), 1
                        ).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("n_contained"),
            )
            .select(
                F.lit(f"{ct}.{cc}").alias("child_col"),
                F.lit(f"{pt}.{pc}").alias("parent_col"),
                "n_child_distinct",
                "n_parent_distinct",
                "n_contained",
                F.expr(
                    "CAST(n_contained * 1000000 div n_child_distinct"
                    " AS BIGINT)"
                ).alias("containment_ppm"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# --- Round 11: cohort LTV accumulation -------------------------------------


@register(
    "cohort_ltv_accumulation",
    oracle_sql="""
    WITH first_week AS (
      SELECT user_id,
             min(date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7)
               AS cohort_w
      FROM events GROUP BY user_id
    ),
    cohort_size AS (
      SELECT cohort_w, CAST(count(*) AS BIGINT) AS n_users
      FROM first_week GROUP BY cohort_w
    ),
    cells AS (
      SELECT f.cohort_w,
             date_diff('day', DATE '1970-01-05', CAST(e.ts AS DATE)) // 7
               - f.cohort_w AS age_w,
             CAST(sum(CASE WHEN e.event_type = 'purchase'
                      THEN CAST(round(e.value * 100) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS rev_cents
      FROM events e JOIN first_week f USING (user_id)
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort_w, age_w,
             CAST(sum(rev_cents) OVER (PARTITION BY cohort_w ORDER BY age_w
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
      FROM cells
    )
    SELECT c.cohort_w, c.age_w, s.n_users, c.cum_rev_cents,
           CAST(c.cum_rev_cents * 1000 // s.n_users AS BIGINT)
             AS ltv_per_user_milli
    FROM cum c JOIN cohort_size s USING (cohort_w)
    """,
    tags=("analytics", "cohort", "ltv"),
)
def cohort_ltv_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-active week,
    each (cohort, age-in-weeks) cell carrying the cohort's CUMULATIVE
    purchase revenue and per-user LTV — the dollar companion to
    [[event_retention_cohorts]]'s came-back counts (retention says who
    returned, LTV says what returning was worth), and the curve a
    payback-period decision reads directly.

    All-integer: weeks via the same epoch-Monday integer date math as
    the retention op (no engine week-of-year rules), revenue in cents,
    per-user LTV one milli-floored division.

    Scale shape: the corpus-sized work is two keyed aggregates (user
    grain for first-touch, then (cohort, age) grain for revenue) plus
    ONE user-keyed join attaching cohorts to events; the cumulative
    window runs on the CALENDAR-BOUNDED cohort x age triangle
    (weeks^2 / 2 rows at any corpus size).

    Reference analog: none (SURVEY §2.2 analytics surface).
    """
    from pyspark.sql.window import Window

    wk = F.expr(
        "datediff(CAST(ts AS DATE), DATE '1970-01-05') div 7"
    )
    e = load_table(spark, sf_dir, "events")
    first_week = e.groupBy("user_id").agg(F.min(wk).alias("cohort_w"))
    cohort_size = first_week.groupBy("cohort_w").agg(
        F.count("*").cast("long").alias("n_users")
    )
    cents = F.when(
        F.col("event_type") == "purchase",
        F.round(F.col("value") * 100).cast("long"),
    ).otherwise(0)
    cells = (
        e.join(first_week, "user_id")
        .groupBy(
            "cohort_w", (wk - F.col("cohort_w")).alias("age_w")
        )
        .agg(F.sum(cents).cast("long").alias("rev_cents"))
    )
    w_cum = (
        Window.partitionBy("cohort_w")
        .orderBy("age_w")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cells.select(
        "cohort_w",
        "age_w",
        F.sum("rev_cents").over(w_cum).cast("long").alias("cum_rev_cents"),
    )
    return cum.join(cohort_size, "cohort_w").select(
        "cohort_w",
        "age_w",
        "n_users",
        "cum_rev_cents",
        F.expr("CAST(cum_rev_cents * 1000 div n_users AS BIGINT)").alias(
            "ltv_per_user_milli"
        ),
    )

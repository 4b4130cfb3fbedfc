"""Joins across the star schema (absent in the reference — SURVEY.md §2.2:
"a MapReduce join is expressible in the model but not implemented").

Strategy selection is the scale-critical part:
- dims (region 5 / nation 25 / supplier rows) -> ``F.broadcast`` so the
  fact side never shuffles for the join;
- fact⋈fact (orders⋈lineitem) -> shuffle join on the key, where AQE
  handles skew splitting; both sides arrive pre-filtered/pruned;
- range/as-of joins -> bucketize to an equi-join (a raw non-equi join is
  a broadcast-nested-loop — O(n·m) — and a 100 TB anti-pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_c_implementation_spark.functions.exactagg import (
    dec,
    exact_sum,
    sql_exact_sum,
)
from mapreduce_c_implementation_spark.registry import register
from mapreduce_c_implementation_spark.sources import load_table
from mapreduce_c_implementation_spark.sources.tables import path_tag, save_bucketed


@register(
    "join_star_broadcast",
    oracle_sql=f"""
    SELECT r.r_name,
           count(*) AS n_customers,
           {sql_exact_sum("c.c_acctbal")} AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    tags=("join", "broadcast", "headline"),
)
def join_star_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ dim ⋈ dim with explicit broadcast of both dims: zero
    shuffle for the joins (only the final agg exchanges)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            exact_sum("c_acctbal").alias("sum_acctbal"),
        )
    )


@register(
    "join_orders_lineitem",
    oracle_sql=f"""
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           {sql_exact_sum("l.l_extendedprice")} AS sum_price
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY o.o_orderpriority
    """,
    tags=("join", "shuffle", "headline"),
)
def join_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The big fact⋈fact equi-join.  Both sides hash-exchange on the
    order key (sort-merge or shuffled-hash per Catalyst/AQE); the date
    predicate is pushed into the orders scan before the join."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_items"), exact_sum("l_extendedprice").alias("sum_price"))
    )


@register(
    "join_left_outer",
    oracle_sql="""
    SELECT n_items, count(*) AS n_orders
    FROM (
      SELECT o.o_orderkey, count(l.l_orderkey) AS n_items
      FROM orders o
      LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey
    )
    GROUP BY n_items
    """,
    tags=("join", "outer"),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving orders with zero lineitems (the fixture
    guarantees some — FIXTURES.md §2), then a distribution over match
    counts.  count(l.l_orderkey) counts non-NULL matches only."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = (
        o.join(li, li.l_orderkey == o.o_orderkey, "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").alias("n_items"))
    )
    return per_order.groupBy("n_items").agg(F.count("*").alias("n_orders"))


@register(
    "join_semi",
    oracle_sql="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    GROUP BY o_orderpriority
    """,
    tags=("join", "semi"),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join == EXISTS: orders having at least one high-quantity
    item.  Semi joins ship only the key column of the probe side."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "join_anti",
    oracle_sql="""
    SELECT o_orderstatus, count(*) AS n_orders
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    GROUP BY o_orderstatus
    """,
    tags=("join", "anti"),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join == NOT EXISTS: orders with no lineitems at all
    (the dangling-order rows the fixture plants)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "join_full_outer",
    oracle_sql="""
    SELECT COALESCE(a.o_custkey, b.c_custkey) AS custkey,
           COALESCE(a.n_orders, 0) AS n_orders,
           (b.c_custkey IS NOT NULL) AS known_customer
    FROM (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey) a
    FULL OUTER JOIN customer b ON a.o_custkey = b.c_custkey
    """,
    tags=("join", "outer"),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of per-customer order counts against the customer
    dim — rows survive from both unmatched sides."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per_cust = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    j = per_cust.join(c, per_cust.o_custkey == c.c_custkey, "full_outer")
    return j.select(
        F.coalesce(F.col("o_custkey"), F.col("c_custkey")).alias("custkey"),
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.col("c_custkey").isNotNull().alias("known_customer"),
    )


@register(
    "join_cross",
    oracle_sql="""
    SELECT r.r_name, n.n_name
    FROM region r
    CROSS JOIN nation n
    """,
    tags=("join", "cross"),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two (small!) dims.  Only ever sane when one
    side broadcasts; at scale a cross join against a fact table is the
    #1 plan bug to reject."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(F.broadcast(n)).select("r_name", "n_name")


@register(
    "join_range_bucketed",
    oracle_sql="""
    SELECT o.o_orderkey, count(e.event_id) AS n_events
    FROM orders o
    JOIN events e
      ON e.ts >= TIMESTAMP '2024-01-01' + INTERVAL (o.o_orderkey % 30) DAY
     AND e.ts <  TIMESTAMP '2024-01-01' + INTERVAL ((o.o_orderkey % 30) + 1) DAY
    WHERE o.o_orderkey % 200 = 0
    GROUP BY o.o_orderkey
    """,
    tags=("join", "range"),
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join, bucketized to an equi-join (SURVEY §2.2 "range/as-of").

    Each order maps to a 1-day window; rather than a non-equi condition
    (which Catalyst executes as a broadcast-nested-loop — quadratic),
    both sides compute the DAY BUCKET and equi-join on it.  Since each
    window is exactly one bucket wide no residual filter is needed; for
    general ranges you join on bucket then re-filter.  This is the
    linear-time 100 TB formulation of interval joins.
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 200 == 0)
        .select("o_orderkey", (F.col("o_orderkey") % 30).alias("day_bucket"))
    )
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("day_bucket"),
    )
    return (
        o.join(e, "day_bucket", "inner")
        .groupBy("o_orderkey")
        .agg(F.count("event_id").alias("n_events"))
    )


@register(
    "join_asof_nearest",
    oracle_sql="""
    SELECT e.event_id,
           (SELECT max(o.o_orderdate) FROM orders o
             WHERE o.o_orderdate <= e.day_anchor) AS asof_orderdate
    FROM (SELECT event_id,
                 TIMESTAMP '1996-01-01' + INTERVAL (user_id % 2000) DAY AS day_anchor
          FROM events WHERE event_id % 50 = 0) e
    """,
    tags=("join", "asof"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each probe timestamp, the latest order date <= it.

    Implemented as a composition of built-ins (SURVEY custom-operator
    rule (a)): the reference side collapses to its DISTINCT order dates
    (dim-sized — days, not orders), which broadcasts; the <= condition
    then runs as a broadcast nested loop over that tiny side and a
    per-probe max picks the as-of row.  At 100 TB the probe side stays
    fully distributed and never shuffles.  For fact-fact as-of (both
    sides huge), see join_asof_keyed below, which co-partitions by key
    and runs pandas.merge_asof per key group.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 50 == 0)
        .select(
            "event_id",
            F.timestamp_add(
                "DAY",
                (F.col("user_id") % 2000).cast("int"),
                F.lit("1996-01-01").cast("timestamp"),
            ).alias("day_anchor"),
        )
    )
    # Distinct order dates: dim-sized (days in range), broadcastable.
    dates = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderdate").alias("d"))
        .distinct()
    )
    j = e.join(F.broadcast(dates), dates.d <= e.day_anchor, "left")
    # Left join keeps probes with no matching date (d = NULL), so the
    # group-max yields NULL for them — no re-join with e needed.
    return j.groupBy("event_id").agg(F.max("d").alias("asof_orderdate"))


N_BUCKETS = 8


@register(
    "bucketed_join_colocated",
    oracle_sql=f"""
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           {sql_exact_sum("l.l_quantity")} AS sum_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("join", "bucketing", "colocated"),
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join with ZERO join-side shuffle via bucketing — the
    canonical 100 TB co-location move: both tables are written bucketed
    and sorted by the join key into {N_BUCKETS} buckets, so the
    sort-merge join reads matching buckets directly (no Exchange, no
    Sort under the join; asserted in tests/test_plans.py).  The only
    shuffle left in the query is the final 5-group aggregate.

    The reference's analog is its hash partitioner contract (keys
    co-located by partition, src/partition.c); bucketing is the storage-
    level version that SURVIVES across jobs — write once, join shuffle-
    free forever after.  The merge hint only matters at fixture scale,
    where orders would otherwise broadcast; at production scale the
    optimizer picks SMJ on its own.
    """
    tag = path_tag(sf_dir)
    b_orders, b_lineitem = f"b_orders_{tag}", f"b_lineitem_{tag}"
    for tbl, src, key in (
        (b_orders, "orders", "o_orderkey"),
        (b_lineitem, "lineitem", "l_orderkey"),
    ):
        if not spark.catalog.tableExists(tbl):
            save_bucketed(
                spark,
                # one file per bucket => sorted-scan optimization stays on
                load_table(spark, sf_dir, src).repartition(N_BUCKETS, F.col(key)),
                tbl,
                key,
                N_BUCKETS,
            )
    o = spark.table(b_orders).select("o_orderkey", "o_orderpriority")
    li = spark.table(b_lineitem).select("l_orderkey", "l_quantity")
    return (
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            exact_sum("l_quantity").alias("sum_qty"),
        )
    )


# Salt fan-out for the skew-mitigated join: the big side's hot keys are
# spread over this many sub-keys; the medium side is replicated this
# many times. Results are salt-invariant (salt only routes rows), so
# the oracle is the PLAIN join.
SALT_BUCKETS = 16


@register(
    "skew_join_salted",
    oracle_sql=f"""
    SELECT o.o_orderstatus,
           count(*) AS n_items,
           {sql_exact_sum("l.l_quantity")} AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
    tags=("join", "skew", "salted"),
)
def skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe fact join via explicit salting: the fact side gets a
    deterministic per-row salt in [0, {SALT_BUCKETS}); the other side is
    replicated across all salts; the join key becomes (orderkey, salt),
    so one hot orderkey lands on {SALT_BUCKETS} reducers instead of one.

    This is the manual form of what AQE skew-split does adaptively —
    kept as a first-class operator because at 100 TB you salt
    *proactively* when you KNOW the skew (power-law user ids, null-heavy
    foreign keys) rather than waiting for a straggler to finish.  Salt
    choice only routes rows — the result is provably salt-invariant —
    so the DuckDB oracle is the plain unsalted join.  The replicated
    side grows {SALT_BUCKETS}x, which is the explicit price: salt the
    MEDIUM side against the BIG side, never dim-vs-dim (broadcast) or
    the whole fact (AQE).
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    salted_fact = li.select(
        "l_orderkey",
        "l_quantity",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(SALT_BUCKETS)).alias(
            "salt"
        ),
    )
    replicated = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1))).alias("salt"),
    ).withColumn("salt", F.col("salt").cast("long"))
    joined = salted_fact.join(
        replicated,
        (salted_fact.l_orderkey == replicated.o_orderkey)
        & (salted_fact.salt == replicated.salt),
    )
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            exact_sum("l_quantity").alias("sum_qty"),
        )
    )


@register(
    "join_asof_keyed",
    # DuckDB's native ASOF JOIN is the oracle — per (event, user): the
    # latest order at-or-before the event timestamp.  The reference side
    # is pre-aggregated to one row per (custkey, date) so tie-breaking
    # cannot differ between engines.
    oracle_sql="""
    WITH ref AS (
      SELECT o_custkey, o_orderdate, max(o_totalprice) AS best_price
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts,
           r.o_orderdate AS asof_orderdate,
           r.best_price AS asof_totalprice
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_id % 20 = 0) e
    ASOF LEFT JOIN ref r
      ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    """,
    tags=("join", "asof", "cogroup", "pandas"),
)
def join_asof_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact KEYED as-of join — the feature-store join: for every
    event, the user's latest order state at-or-before the event time,
    with BOTH sides huge.  join_asof_nearest's broadcast-timeline trick
    dies here (the reference side is per-key, not a shared dim), so
    this is custom-operator rule (b): cogrouped ``applyInPandas``
    co-partitions both tables on the key and runs ``pandas.merge_asof``
    (backward) per key group — the per-key sorted-merge the reference's
    Reducer+Getter protocol would express, Arrow-batched.

    Determinism: the reference side collapses to one row per (key,
    date) first, so there is no tie for merge_asof or DuckDB's native
    ASOF JOIN (the oracle) to break differently.  Scale: one keyed
    shuffle per side (exactly a sort-merge join's movement), state
    bounded by the largest single key's history; the event subset
    bounds fixture Python time, the plan shape is scale-free.
    """
    import pandas as pd

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 20 == 0)
        .select("event_id", "user_id", "ts")
    )
    ref = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_totalprice").alias("best_price"))
    )

    def asof_merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return pd.DataFrame(
                columns=[
                    "event_id", "user_id", "ts",
                    "asof_orderdate", "asof_totalprice",
                ]
            )
        left = left.sort_values("ts")
        # Empty-right fallback derives the timestamp dtype from the LEFT
        # frame: merge_asof raises MergeError on datetime unit mismatch,
        # and Arrow-to-pandas may yield [us] or [ns] depending on
        # pandas/Spark config — never hardcode the unit (ADVICE r2).
        right = (
            right.sort_values("o_orderdate")
            if len(right)
            else pd.DataFrame({"o_orderdate": pd.Series([], dtype=left["ts"].dtype),
                               "best_price": pd.Series([], dtype="float64")})
        )
        merged = pd.merge_asof(
            left,
            right[["o_orderdate", "best_price"]],
            left_on="ts",
            right_on="o_orderdate",
            direction="backward",
        )
        return merged.rename(
            columns={"o_orderdate": "asof_orderdate", "best_price": "asof_totalprice"}
        )[["event_id", "user_id", "ts", "asof_orderdate", "asof_totalprice"]]

    return (
        e.groupBy("user_id")
        .cogroup(ref.groupBy("o_custkey"))
        .applyInPandas(
            lambda key, l, r: asof_merge(l, r),
            schema=(
                "event_id long, user_id long, ts timestamp, "
                "asof_orderdate timestamp, asof_totalprice double"
            ),
        )
    )


# Binned approximate AS-OF: bucket width (days) and the probe anchor
# that places events inside the orders date range.
ASOF_BIN_DAYS = 64
ASOF_BIN_ANCHOR = "1994-01-01"
ASOF_BIN_SPAN = 1600  # probe anchors span 1994-01-01 .. 1998-05-20


@register(
    "join_asof_binned",
    # Oracle: the as-of match RESTRICTED to the lookback horizon (the
    # previous bucket's start), plus the calibration flag marking rows
    # whose true match exists but precedes the horizon (key history
    # starts at-or-before the probe, yet nothing landed in-horizon).
    oracle_sql=f"""
    WITH ref AS (
      SELECT o_custkey, o_orderdate, max(o_totalprice) AS best_price
      FROM orders GROUP BY o_custkey, o_orderdate
    ),
    h AS (
      SELECT event_id, user_id,
             TIMESTAMP '{ASOF_BIN_ANCHOR}'
               + INTERVAL (event_id % {ASOF_BIN_SPAN}) DAY AS ts,
             CAST(date_diff('day', DATE '1970-01-01',
                            CAST(TIMESTAMP '{ASOF_BIN_ANCHOR}'
                                 + INTERVAL (event_id % {ASOF_BIN_SPAN}) DAY
                                 AS DATE)) AS BIGINT)
               // {ASOF_BIN_DAYS} AS pb
      FROM events WHERE event_id % 20 = 0
    ),
    cand AS (
      SELECT h.event_id, r.o_orderdate, r.best_price,
             row_number() OVER (PARTITION BY h.event_id
                                ORDER BY r.o_orderdate DESC) AS rn
      FROM h JOIN ref r ON r.o_custkey = h.user_id
       AND r.o_orderdate <= h.ts
       AND CAST(date_diff('day', DATE '1970-01-01',
                          CAST(r.o_orderdate AS DATE)) AS BIGINT)
             // {ASOF_BIN_DAYS} >= h.pb - 1
    ),
    best AS (
      SELECT event_id, o_orderdate, best_price FROM cand WHERE rn = 1
    ),
    hist AS (
      SELECT o_custkey, min(o_orderdate) AS first_date FROM ref GROUP BY 1
    )
    SELECT h.event_id, h.user_id, h.ts,
           b.o_orderdate AS asof_orderdate,
           b.best_price AS asof_totalprice,
           CAST(CASE WHEN b.event_id IS NULL AND hi.first_date <= h.ts
                     THEN 1 ELSE 0 END AS BIGINT) AS missed_earlier
    FROM h
    LEFT JOIN best b USING (event_id)
    LEFT JOIN hist hi ON hi.o_custkey = h.user_id
    """,
    tags=("join", "asof", "binned", "approximate"),
)
def join_asof_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned APPROXIMATE as-of join — the ultra-high-cardinality-key
    variant the round-9/10 verdicts asked for: when the key space is
    too large for [[join_asof_keyed]]'s per-key cogroup to be pleasant
    (billions of keys, tiny per-key history -> cogroup overhead
    dominates), time-bucket BOTH sides into {ASOF_BIN_DAYS}-day bins,
    make each reference row visible in its own bin and the next
    (explode to 2 rows — a constant factor), equi-join on (key, bin),
    and take the per-probe argmax of at-or-before reference dates.

    The approximation is a LOOKBACK HORIZON: a probe sees matches back
    to the start of the PREVIOUS bin (between {ASOF_BIN_DAYS} and
    2x{ASOF_BIN_DAYS} days, depending on probe position in its bin).
    A true as-of match older than that is missed — and the operator
    REPORTS its miss set instead of hiding it: ``missed_earlier`` = 1
    iff nothing matched in-horizon but the key's history starts
    at-or-before the probe (a key-grain MIN aggregate, one row per
    key), so the true match exists and precedes the horizon.  Tuning =
    widening the bin.

    Scale shape vs the exact keyed form: three ordinary equi-shuffles
    (candidate join on (key, bin), event-grain argmax, key-grain MIN)
    — no cogrouped Python stage, no per-key state; candidate fan-out
    per probe is the key's orders inside <= 2 bins, bounded by bin
    width not history length.  The reference side is pre-aggregated to
    one row per (key, date) so the argmax (max of (date, price)
    struct) cannot tie.

    Reference shape: operators/joins.py join_asof_keyed (exact twin);
    reference analog none (SURVEY §2.2 range/as-of surface).
    """
    ref = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_totalprice").alias("best_price"))
    )
    rb = F.expr(
        f"datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
        f" div {ASOF_BIN_DAYS}"
    )
    ref_vis = ref.select(
        "o_custkey",
        "o_orderdate",
        "best_price",
        F.explode(F.array(rb, rb + 1)).alias("pb"),
    )
    probe = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 20 == 0)
        .select(
            "event_id",
            "user_id",
            F.timestamp_add(
                "DAY",
                (F.col("event_id") % ASOF_BIN_SPAN).cast("int"),
                F.lit(ASOF_BIN_ANCHOR).cast("timestamp"),
            ).alias("ts"),
        )
        .withColumn(
            "pb",
            F.expr(
                f"datediff(CAST(ts AS DATE), DATE '1970-01-01')"
                f" div {ASOF_BIN_DAYS}"
            ),
        )
    )
    cand = probe.join(
        ref_vis,
        (probe.user_id == ref_vis.o_custkey) & (probe.pb == ref_vis.pb),
        "inner",
    ).filter(F.col("o_orderdate") <= F.col("ts"))
    best = cand.groupBy("event_id").agg(
        F.max(F.struct("o_orderdate", "best_price")).alias("m")
    )
    hist = ref.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_date"))
    return (
        probe.join(best, "event_id", "left")
        .join(hist, probe.user_id == hist.o_custkey, "left")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("m.o_orderdate").alias("asof_orderdate"),
            F.col("m.best_price").alias("asof_totalprice"),
            F.when(
                F.col("m").isNull() & (F.col("first_date") <= F.col("ts")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("missed_earlier"),
        )
    )


@register(
    "join_null_safe",
    oracle_sql="""
    WITH keyed AS (
      SELECT c_custkey,
             CASE WHEN c_acctbal < 0 THEN NULL
                  ELSE CAST(floor(c_acctbal / 1000) AS BIGINT) END AS kbal
      FROM customer
    ),
    dim AS (
      SELECT DISTINCT kbal,
             CASE WHEN kbal IS NULL THEN 'overdrawn'
                  ELSE 'tier_' || CAST(kbal AS VARCHAR) END AS tier
      FROM keyed
    )
    SELECT d.tier, CAST(count(*) AS BIGINT) AS n_customers
    FROM keyed k JOIN dim d ON k.kbal IS NOT DISTINCT FROM d.kbal
    GROUP BY d.tier
    ORDER BY tier
    """,
    tags=("join", "null-semantics", "sql-surface"),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): customers
    keyed by a NULLABLE balance tier (negative balances -> NULL) join
    a tier dim that carries a NULL row — under ordinary ``=`` the
    overdrawn customers silently vanish (NULL = NULL is NULL); the
    null-safe operator keeps them, which is exactly the semantics
    dimension lookups with an "unknown" member need.

    Plan note: ``eqNullSafe`` keys still hash-partition (NULL is just
    another key value), so this stays a real equi-join — broadcast
    here since the dim is tier-sized — rather than degenerating to a
    nested loop the way ``a = b OR (a IS NULL AND b IS NULL)`` does
    when written as a raw disjunction.
    """
    keyed = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit(None).cast("long"))
        .otherwise(F.floor(F.col("c_acctbal") / 1000).cast("long"))
        .alias("kbal"),
    )
    dim = keyed.select("kbal").distinct().select(
        "kbal",
        F.when(F.col("kbal").isNull(), F.lit("overdrawn"))
        .otherwise(F.concat(F.lit("tier_"), F.col("kbal").cast("string")))
        .alias("tier"),
    )
    return (
        keyed.join(
            F.broadcast(dim), keyed.kbal.eqNullSafe(dim.kbal)
        )
        .groupBy("tier")
        .agg(F.count("*").cast("long").alias("n_customers"))
        .orderBy("tier")
    )


# Interval-overlap join: half-open [start, end) windows.  Orders get a
# 7-day urgency window; lineitems a 3-day ship window.  The Spark side
# decomposes to a WEEK-bin equi-join (never a raw non-equi join); the
# DuckDB oracle states the naive overlap predicate directly — same rows.
IVL_A_DAYS = 7
IVL_B_DAYS = 3
IVL_BIN_DAYS = 7


@register(
    "interval_overlap_join",
    oracle_sql=f"""
    WITH a AS (
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) AS a_s,
             CAST(o_orderdate AS DATE) + {IVL_A_DAYS} AS a_e
      FROM orders
      WHERE o_orderpriority = '1-URGENT'
        AND o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1996-01-01'
    ),
    b AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_shipdate AS DATE) AS b_s,
             CAST(l_shipdate AS DATE) + {IVL_B_DAYS} AS b_e
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate < TIMESTAMP '1996-01-01'
    )
    SELECT a.o_orderkey,
           CAST(count(*) AS BIGINT) AS n_overlaps,
           CAST(min(b.b_s) AS VARCHAR) AS first_ship,
           CAST(max(b.b_s) AS VARCHAR) AS last_ship
    FROM a JOIN b ON a.a_s < b.b_e AND b.b_s < a.a_e
    GROUP BY a.o_orderkey
    ORDER BY a.o_orderkey
    """,
    tags=("join", "interval", "range"),
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: which lineitem ship windows ([ship,
    ship+{IVL_B_DAYS}) days) overlap each urgent order's
    [orderdate, orderdate+{IVL_A_DAYS}) window in 1995 — the temporal
    overlap shape behind sessions-vs-campaigns, outages-vs-deploys,
    and every "which events intersect this window" question.

    Spark plan: each interval explodes into the {IVL_BIN_DAYS}-day
    epoch bins it covers (≤ 2 bins per A row, ≤ 2 per B row — bounded
    in-row fan-out), the join runs as a BIN equi-join, survivors are
    re-checked with the exact overlap predicate, and each pair counts
    in exactly ONE bin — the bin holding the overlap start
    (max(a_s, b_s)) — so multi-bin spans never double-count and no
    pair-level DISTINCT is needed (source-row duplicates must survive,
    and the fixture's lineitem key is deliberately non-unique).
    That is the standard scalable decomposition of a range join — a
    raw non-equi join compiles to a broadcast-nested-loop, O(n*m) at
    100 TB.  The DuckDB oracle intentionally states the naive overlap
    predicate — same result, independently derived.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    a = (
        o.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1996-01-01")
        )
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("a_s"),
            F.date_add(F.col("o_orderdate").cast("date"), IVL_A_DAYS).alias("a_e"),
        )
    )
    b = (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_shipdate").cast("date").alias("b_s"),
            F.date_add(F.col("l_shipdate").cast("date"), IVL_B_DAYS).alias("b_e"),
        )
    )

    def bins(s, e):  # bins covering half-open [s, e), epoch-day // bin
        lo = F.floor(F.datediff(s, F.lit("1970-01-01")) / IVL_BIN_DAYS)
        hi = F.floor(
            F.datediff(F.date_sub(e, 1), F.lit("1970-01-01")) / IVL_BIN_DAYS
        )
        return F.sequence(lo, hi)

    a_b = a.withColumn("bin", F.explode(bins(F.col("a_s"), F.col("a_e"))))
    b_b = b.withColumn("bin", F.explode(bins(F.col("b_s"), F.col("b_e"))))
    start_bin = F.floor(
        F.datediff(F.greatest(F.col("a_s"), F.col("b_s")), F.lit("1970-01-01"))
        / IVL_BIN_DAYS
    )
    pairs = (
        a_b.join(b_b, "bin")
        .filter((F.col("a_s") < F.col("b_e")) & (F.col("b_s") < F.col("a_e")))
        .filter(F.col("bin") == start_bin)
        .select("o_orderkey", "b_s")
    )
    return (
        pairs.groupBy("o_orderkey")
        .agg(
            F.count("*").cast("long").alias("n_overlaps"),
            F.min("b_s").cast("string").alias("first_ship"),
            F.max("b_s").cast("string").alias("last_ship"),
        )
        .orderBy("o_orderkey")
    )


# Sampling-based join-cardinality estimation: per-key counts on both
# sides, a deterministic SAMPLE_PCT% md5 key sample estimates the join
# size, and the exact size comes from the count-product identity
# |A join B| = sum over keys of c_A(k) * c_B(k) — no join is executed.
CARD_SAMPLE_PCT = 10


@register(
    "join_cardinality_estimate",
    oracle_sql=f"""
    WITH ca AS (SELECT o_orderkey AS k, count(*) AS c1 FROM orders GROUP BY k),
    cb AS (SELECT l_orderkey AS k, count(*) AS c2 FROM lineitem GROUP BY k),
    j AS (
      SELECT ca.k, ca.c1 * cb.c2 AS prod,
             CASE WHEN CAST('0x' || substr(md5(CAST(ca.k AS VARCHAR)), 1, 4)
                        AS BIGINT) % 100 < {CARD_SAMPLE_PCT}
                  THEN 1 ELSE 0 END AS sampled
      FROM ca JOIN cb ON cb.k = ca.k
    )
    SELECT CAST(count(*) AS BIGINT) AS n_join_keys,
           CAST(sum(prod) AS BIGINT) AS exact_rows,
           CAST(sum(sampled) AS BIGINT) AS n_sampled_keys,
           CAST(sum(sampled * prod) * 100 // {CARD_SAMPLE_PCT} AS BIGINT)
             AS est_rows,
           CAST(abs(sum(sampled * prod) * 100 // {CARD_SAMPLE_PCT}
                    - sum(prod)) * 10000 // sum(prod) AS BIGINT)
             AS est_err_bp
    FROM j
    """,
    tags=("join", "cardinality", "planning"),
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation without running the join — the planner-side
    diagnostic behind "should this be broadcast / is this join about
    to explode?".  Exact size comes from the count-product identity
    |A⋈B| = Σ_k c_A(k)·c_B(k) over the per-key count tables; the
    estimate scales the same sum over a deterministic
    {CARD_SAMPLE_PCT}% md5 key sample, and the report includes the
    estimator's realized error in basis points.

    Scale shape: two keyed count aggregates (key-grain, map-side
    combined), one key-grain equi-join of the COUNT tables (never the
    facts), and a 1-row reduce.  At 100 TB this costs two shuffles of
    key-cardinality-sized tables — the cheap pre-flight before an
    irreversible fact-fact join.
    """
    ca = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderkey").alias("k"))
        .agg(F.count("*").alias("c1"))
    )
    cb = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count("*").alias("c2"))
    )
    sampled = (
        F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
        < CARD_SAMPLE_PCT
    ).cast("int")
    j = ca.join(cb, "k").select(
        (F.col("c1") * F.col("c2")).alias("prod"), sampled.alias("sampled")
    )
    return j.agg(
        F.count("*").cast("long").alias("n_join_keys"),
        F.sum("prod").cast("long").alias("exact_rows"),
        F.sum("sampled").cast("long").alias("n_sampled_keys"),
        F.expr(
            f"CAST(sum(sampled * prod) * 100 div {CARD_SAMPLE_PCT} AS BIGINT)"
        ).alias("est_rows"),
        F.expr(
            f"CAST(abs(sum(sampled * prod) * 100 div {CARD_SAMPLE_PCT}"
            f" - sum(prod)) * 10000 div sum(prod) AS BIGINT)"
        ).alias("est_err_bp"),
    )


# Fuzzy lookup: FUZZY_K probe names (derived: one char deleted from the
# first parts' names), matched against the whole part table by edit
# distance within a cheap block.
FUZZY_K = 20
FUZZY_MAX_DIST = 2


@register(
    "join_fuzzy_levenshtein",
    oracle_sql=f"""
    WITH probes AS (
      SELECT p_partkey AS probe_id,
             substr(p_name, 1, 3) || substr(p_name, 5) AS probe_name
      FROM part WHERE p_partkey < {FUZZY_K}
    ),
    cand AS (
      SELECT pr.probe_id, pr.probe_name, p.p_partkey, p.p_name,
             levenshtein(pr.probe_name, p.p_name) AS dist
      FROM probes pr
      JOIN part p ON substr(p.p_name, 1, 3) = substr(pr.probe_name, 1, 3)
      WHERE levenshtein(pr.probe_name, p.p_name) <= {FUZZY_MAX_DIST}
    ),
    best AS (
      SELECT probe_id, probe_name, p_partkey, p_name, dist,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY dist, p_partkey) AS rn
      FROM cand
    )
    SELECT probe_id, probe_name,
           CAST(p_partkey AS BIGINT) AS match_partkey,
           p_name AS match_name,
           CAST(dist AS BIGINT) AS dist
    FROM best WHERE rn = 1 ORDER BY probe_id
    """,
    tags=("join", "fuzzy", "levenshtein"),
)
def join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy-match lookup: {FUZZY_K} corrupted probe names (one
    character deleted from real part names — derived, so the op runs on
    fixture data alone) are resolved against the part table by
    Levenshtein distance ≤ {FUZZY_MAX_DIST}, best match per probe with
    a total-order tie-break (distance, then partkey).  The entity-
    resolution primitive [[record_linkage_blocked]] uses for name
    fields, surfaced as its own operator.

    Scale shape: the naive form is probes × parts — a nested loop.  The
    BLOCK (equi-join on the first 3 characters, which a single-char
    deletion at position ≥ 4 provably preserves) turns it into a
    BroadcastHashJoin on the block key with the edit distance as the
    join residual, so each probe scans only its block.  At dictionary
    scale the same plan holds with the probe side broadcast; blocks
    bound the candidate set the way LSH bands do for MinHash.
    Levenshtein is exact integer edit distance in both engines.
    """
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    probes = p.filter(F.col("p_partkey") < FUZZY_K).select(
        F.col("p_partkey").alias("probe_id"),
        F.concat(
            F.substring("p_name", 1, 3), F.expr("substring(p_name, 5)")
        ).alias("probe_name"),
    )
    cand = (
        p.join(
            F.broadcast(probes),
            F.substring(F.col("p_name"), 1, 3)
            == F.substring(F.col("probe_name"), 1, 3),
        )
        .withColumn("dist", F.levenshtein("probe_name", "p_name"))
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("probe_id").orderBy("dist", "p_partkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "probe_id",
            "probe_name",
            F.col("p_partkey").cast("long").alias("match_partkey"),
            F.col("p_name").alias("match_name"),
            F.col("dist").cast("long").alias("dist"),
        )
        .orderBy("probe_id")
    )

"""Modern SQL surface (Spark 4): recursive CTEs, LATERAL correlated
subqueries, GROUP BY ALL + named parameter binding + session variables,
and collation-aware grouping.

The reference has no SQL at all — this module is part of the §2.2
"beyond the reference" surface, covering the SQL features a user
migrating a 2020s warehouse workload expects.  Every op is plain
``spark.sql`` text (exercising the parser/analyzer path rather than the
DataFrame DSL) against the registered fixture views, and every oracle is
the same ANSI construct in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_c_implementation_spark.registry import register
from mapreduce_c_implementation_spark.sources.tables import local_frame, register_views

SPINE_START = "1995-01-01 00:00:00"
SPINE_END = "2001-08-01 00:00:00"


@register(
    "recursive_cte_month_spine",
    oracle_sql=f"""
    WITH RECURSIVE months(m) AS (
      SELECT TIMESTAMP '{SPINE_START}'
      UNION ALL
      SELECT m + INTERVAL 1 MONTH FROM months
      WHERE m < TIMESTAMP '{SPINE_END}'
    )
    SELECT m.m AS month, CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
    FROM months m
    LEFT JOIN orders o ON date_trunc('month', o.o_orderdate) = m.m
    GROUP BY m.m
    ORDER BY m.m
    """,
    tags=("sql", "recursive-cte"),
)
def recursive_cte_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (new in Spark 4): generate a gap-free month spine
    by recursion and left-join monthly order counts onto it — months
    with zero orders appear with 0, which a plain GROUP BY over orders
    can never produce.  The recursion is the SQL-standard form of the
    ``sequence()``-based gap fill (time_gap_fill_ffill); both engines
    run the IDENTICAL recursive query text.

    Scale: the spine is bounded by the recursion guard (~80 rows here);
    Spark plans recursion as iterative union steps, and the spine side
    broadcasts into the join.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH RECURSIVE months(m) AS (
          SELECT TIMESTAMP '{SPINE_START}'
          UNION ALL
          SELECT m + INTERVAL 1 MONTH FROM months
          WHERE m < TIMESTAMP '{SPINE_END}'
        )
        SELECT m.m AS month, CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
        FROM months m
        LEFT JOIN orders o ON date_trunc('month', o.o_orderdate) = m.m
        GROUP BY m.m
        ORDER BY m.m
        """
    )


@register(
    "lateral_topk_per_customer",
    oracle_sql="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey ASC
      LIMIT 2
    ) t
    WHERE c.c_custkey % 50 = 0
    ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
    """,
    tags=("sql", "lateral", "topk"),
)
def lateral_topk_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery with ORDER BY + LIMIT: each
    customer's two most expensive orders — the per-row-subquery form of
    per-group top-k (the window row_number form is window_topk_per_group;
    this one exercises the decorrelation of a correlated LIMIT).
    Deterministic under the (price DESC, key ASC) total order.

    Scale: Catalyst decorrelates the lateral into a join + per-key
    ranking rather than executing the subquery per row; the customer
    filter prunes at the scan.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC
          LIMIT 2
        ) t
        WHERE c.c_custkey % 50 = 0
        ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
        """
    )


PRIORITY_THRESHOLD = 50000.0


@register(
    "sql_params_group_by_all",
    oracle_sql=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(30,6))
                AS DOUBLE) AS total
    FROM orders
    WHERE o_totalprice > {PRIORITY_THRESHOLD}
    GROUP BY ALL
    ORDER BY o_orderstatus, o_orderpriority
    """,
    tags=("sql", "spark4"),
)
def sql_params_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL ergonomics in one query: a NAMED PARAMETER
    (``:threshold`` bound via ``spark.sql(..., args=...)`` — proper
    parameter binding, not string interpolation, so no injection and
    plan-cache-friendly) feeding a GROUP BY ALL (every non-aggregate
    select item groups implicitly).  The oracle runs the same GROUP BY
    ALL with the literal inlined — identical semantics by definition.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                    AS DECIMAL(30,6)) AS DOUBLE) AS total
        FROM orders
        WHERE o_totalprice > :threshold
        GROUP BY ALL
        ORDER BY o_orderstatus, o_orderpriority
        """,
        args={"threshold": PRIORITY_THRESHOLD},
    )


@register(
    "collation_insensitive_grouping",
    oracle_sql="""
    WITH cased AS (
      SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                  ELSE lower(c_mktsegment) END AS seg
      FROM customer
    )
    SELECT lower(seg) AS segment, CAST(count(*) AS BIGINT) AS n
    FROM cased
    GROUP BY lower(seg)
    ORDER BY segment
    """,
    tags=("sql", "collation", "spark4"),
)
def collation_insensitive_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (new in Spark 4): grouping on a column
    COLLATEd UTF8_LCASE merges case variants engine-side — no
    normalizing rewrite in the query.  The fixture's segments are
    single-case, so the query first mixes case deterministically
    (upper for even keys, lower for odd), then proves
    ``GROUP BY seg COLLATE UTF8_LCASE`` produces exactly the
    ``GROUP BY lower(seg)`` result the oracle computes.

    Scale: collation-aware grouping hashes the collation key directly —
    one aggregate exchange, same as any groupBy; the display value is
    pinned with lower() so both engines emit identical group labels.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH cased AS (
          SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                      ELSE lower(c_mktsegment) END AS seg
          FROM customer
        )
        SELECT lower(min(seg COLLATE UTF8_LCASE)) AS segment,
               CAST(count(*) AS BIGINT) AS n
        FROM cased
        GROUP BY seg COLLATE UTF8_LCASE
        ORDER BY segment
        """
    )


@register(
    "filtered_aggregates",
    oracle_sql="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_all,
           CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_bulk,
           CAST(count(*) FILTER (WHERE l_discount = 0) AS BIGINT)
             AS n_undiscounted,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
                     FILTER (WHERE l_tax > 0.04) AS DECIMAL(30,6)) AS DOUBLE)
             AS taxed_revenue
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("sql", "aggregate"),
)
def filtered_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-standard FILTER clause: several differently-conditioned
    aggregates in ONE grouped pass — the declarative form of the
    CASE-inside-SUM pattern (tpch_q12), and the single-scan form for what
    would otherwise be N self-joined subqueries.  Identical clause text
    in both engines; the decimal sum keeps the money column
    order-independent.

    Scale: one scan, one aggregate exchange, every FILTER evaluated
    map-side inside the partial aggregate.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_all,
               CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_bulk,
               CAST(count(*) FILTER (WHERE l_discount = 0) AS BIGINT)
                 AS n_undiscounted,
               CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
                         FILTER (WHERE l_tax > 0.04) AS DECIMAL(30,6)) AS DOUBLE)
                 AS taxed_revenue
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


WB_LO, WB_HI, WB_BINS = 0.0, 600000.0, 12


@register(
    "width_bucket_histogram",
    # DuckDB has no width_bucket; the oracle spells out the exact IEEE
    # arithmetic of Spark's WidthBucket expression — floor(v / ((hi-lo)/
    # n)) + 1 for in-range values, 0 / n+1 for underflow/overflow — so
    # edge assignment is the same double op in both engines.
    oracle_sql=f"""
    SELECT CASE WHEN o_totalprice < {WB_LO} THEN 0
                WHEN o_totalprice >= {WB_HI} THEN {WB_BINS + 1}
                ELSE CAST(floor((o_totalprice - {WB_LO})
                          / (({WB_HI} - {WB_LO}) / {WB_BINS})) AS BIGINT) + 1
           END AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi
    FROM orders
    GROUP BY bucket
    ORDER BY bucket
    """,
    tags=("sql", "histogram"),
)
def width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-WIDTH histogram via the SQL-standard ``width_bucket`` — the
    complement of feature_quantile_bins' equi-DEPTH ntile: bucket
    boundaries are fixed arithmetic on the value, so NO global sort and
    NO per-row window — bucketing is a codegen'd map and the histogram
    is one aggregate exchange, the shape that scales to any corpus.
    Bucket edges are exact IEEE arithmetic on identical literals, so
    assignment cannot straddle engines.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT width_bucket(o_totalprice, {WB_LO}, {WB_HI}, {WB_BINS}) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               min(o_totalprice) AS lo,
               max(o_totalprice) AS hi
        FROM orders
        GROUP BY bucket
        ORDER BY bucket
        """
    )


@register(
    "sql_scalar_udf_inline",
    # The oracle inlines the function bodies — which is EXACTLY what
    # Catalyst does with SQL UDFs (they analyze away; no eval boundary).
    oracle_sql="""
    SELECT l_returnflag,
           count(*) AS n,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_disc_price,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))
                 * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_charge
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("sql", "udf", "spark4", "modern-sql"),
)
def sql_scalar_udf_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar functions (Spark 4 ``CREATE FUNCTION ...
    RETURN <expr>``) — the UDF rung BELOW Python on the performance
    ladder ([[operators/udfs.py]]): the body is SQL, so the analyzer
    INLINES it and the query plans exactly as if the expression were
    written in place — whole-stage codegen, predicate pushdown and all;
    no serialization boundary, no Python worker.  This is the form a
    shared business-metric library ("discounted price", "charged
    amount") should take before anyone reaches for a real UDF.

    The oracle hand-inlines the same bodies, which is also the proof of
    the inlining claim: results agree bit-for-bit under the exact
    decimal-sum discipline of [[tpch_q1]].

    Scale shape: identical to the plain aggregate — one map-side-
    combined groupBy; the functions add ZERO runtime surface.
    """
    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE)"
        " RETURNS DECIMAL(20,4)"
        " RETURN CAST(p AS DECIMAL(18,2)) * (1 - CAST(d AS DECIMAL(18,2)))"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION charged(p DOUBLE, d DOUBLE,"
        " t DOUBLE) RETURNS DECIMAL(24,6)"
        " RETURN CAST(p AS DECIMAL(18,2)) * (1 - CAST(d AS DECIMAL(18,2)))"
        " * (1 + CAST(t AS DECIMAL(18,2)))"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n,
               CAST(CAST(sum(disc_price(l_extendedprice, l_discount))
                 AS DECIMAL(38,6)) AS DOUBLE) AS sum_disc_price,
               CAST(CAST(sum(charged(l_extendedprice, l_discount, l_tax))
                 AS DECIMAL(38,6)) AS DOUBLE) AS sum_charge
        FROM lineitem
        GROUP BY l_returnflag
        """
    )


@register(
    "sql_pipe_syntax_revenue",
    oracle_sql="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,6))
             AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("sql", "pipe-syntax", "spark4", "modern-sql"),
)
def sql_pipe_syntax_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 ``|>`` operators, the GoogleSQL
    FROM-first composition): the same shipped-1996 revenue rollup as a
    chain of ``WHERE |> AGGREGATE ... GROUP BY |> ORDER BY`` stages —
    each pipe stage reads top-to-bottom in execution order, the
    composability upgrade analysts get without leaving SQL.  The parser
    lowers pipes to the IDENTICAL logical plan as the nested form (the
    oracle), so filters still push to the scan and the aggregate still
    map-side-combines — syntax, not semantics.

    Scale shape: exactly [[tpch_q1]]'s — pushed scan filter + one
    combined aggregate + a 6-row sort.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1997-01-01'
        |> AGGREGATE count(*) AS n,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2))))
                 AS DECIMAL(38,6)) AS DOUBLE) AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n, revenue
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


@register(
    "observed_metrics_pipeline",
    oracle_sql="""
    SELECT CAST(count(*) AS BIGINT) AS n_in,
           CAST(sum(n_chars) AS BIGINT) AS chars_in,
           CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN n_chars >= 200 THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_kept,
           CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS kept_ppm
    FROM documents
    """,
    tags=("sql", "observe", "monitoring", "spark4"),
)
def observed_metrics_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via ``Dataset.observe`` + ``Observation``
    — the production pattern for recording row counts and byte totals
    AT ARBITRARY POINTS of a pipeline without extra passes: the
    metrics are accumulator-style aggregates computed DURING the one
    execution (here: input grain before a length filter, output grain
    after), not separate count() jobs that re-run the plan.  The
    operator attaches two observation points to a filter pipeline,
    forces it once with the noop sink, and returns the collected
    metrics as the result row — which the oracle recomputes as plain
    aggregates, proving the observed numbers are exact, not sampled.

    Scale shape: zero additional passes by construction — observe
    piggybacks on the single execution; the only cost is the
    accumulator merge at task completion.  This is how a 100 TB
    ingestion job reports its kept/dropped accounting for free.

    Reference analog: the metrics subsystem (SURVEY §2.1 row 19) made
    query-embedded.
    """
    from pyspark.sql import Observation

    from mapreduce_c_implementation_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    obs_in = Observation("input")
    obs_out = Observation("output")
    pipeline = (
        d.observe(
            obs_in,
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("chars"),
        )
        .filter(F.col("n_chars") >= 200)
        .observe(
            obs_out,
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("chars"),
        )
    )
    pipeline.write.format("noop").mode("overwrite").save()
    i, o = obs_in.get, obs_out.get
    return local_frame(
        spark,
        [
            (
                int(i["n"]),
                int(i["chars"]),
                int(o["n"]),
                int(o["chars"]),
                int(o["n"]) * 1_000_000 // int(i["n"]),
            )
        ],
        "n_in long, chars_in long, n_kept long, chars_kept long, kept_ppm long",
    )


# IDENTIFIER() targets: the parameterized table/column pairs a
# multi-tenant query template binds safely (no string-spliced SQL).
_IDENT_TARGETS = [("orders", "o_totalprice"), ("lineitem", "l_extendedprice")]


def _ident_oracle() -> str:
    parts = [
        f"""
    SELECT '{t}' AS table_name, '{c}' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST({c} AS DECIMAL(18,2)) * 100) AS BIGINT)
             AS sum_cents
    FROM {t}"""
        for t, c in _IDENT_TARGETS
    ]
    return " UNION ALL ".join(parts)


@register(
    "sql_identifier_dynamic_table",
    oracle_sql=_ident_oracle(),
    tags=("sql", "identifier", "spark4", "modern-sql"),
)
def sql_identifier_dynamic_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``IDENTIFIER()`` clause (SQL-injection-safe dynamic names):
    one query TEMPLATE profiled over a list of (table, column) targets
    with the names bound as parameters — the constant-folded, analyzer-
    checked alternative to string-splicing SQL that a multi-tenant
    profiler or dbt-style runner needs.  Each binding resolves at
    analysis time, so every instantiation plans exactly like the
    hand-written query (pushdown, pruning and all).

    Exactness: money sums in integer cents.  Scale shape: per target,
    one map-side-combined 1-row aggregate over a pruned single-column
    scan; results union.

    Reference analog: none (SURVEY §2.2 modern-SQL surface).
    """
    register_views(spark, sf_dir)
    out = None
    for t, c in _IDENT_TARGETS:
        row = spark.sql(
            """
            SELECT :tname AS table_name, :cname AS column_name,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(IDENTIFIER(:cname) AS DECIMAL(18,2)) * 100)
                        AS BIGINT) AS sum_cents
            FROM IDENTIFIER(:tname)
            """,
            args={"tname": t, "cname": c},
        )
        out = row if out is None else out.unionByName(row)
    return out

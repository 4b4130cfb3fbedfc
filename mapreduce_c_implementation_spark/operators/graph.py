"""Graph analytics over the TPC-H trade graph.

The reference's surface stops at per-key reduction, but its README
(/root/reference/README.md:319) frames the engine as a general
"aggregate a keyed edge list" machine — the natural next rung is graph
iteration, which in MapReduce terms is "join rank to edges, reduce by
destination" repeated N times.  We model the trade network: an edge
(customer nation -> supplier nation) weighted by how many lineitems
flowed across that pair, then run fixed-iteration PageRank over it.

Cross-engine exactness: PageRank is usually float math, which is
summation-order-dependent and would never hash-match a DuckDB oracle.
Instead ranks are fixed-point BIGINTs at scale 1e9 and every step is
integer multiply + integer division (`div` in Spark, `//` in DuckDB —
both truncate toward zero for non-negative operands), so the iteration
is bit-exact in BOTH engines by construction, not by rounding luck.
Overflow headroom: rank <= 1e9, edge weight w <= ~1e6 at sf10, so
r*w*85 <= 8.5e16 < 2^63 (Spark runs ANSI overflow checks; a larger
graph would rescale weights first).

Scale shape: the edge build is the TPC-H Q7 join diamond (one
fact-fact shuffle, dims broadcast); the aggregated edge list is
O(nations^2) rows, so each PageRank round is a tiny join+agg no matter
the corpus size.  For a billion-node graph the same loop holds with
ranks/edges hash-partitioned on node and each round's checkpoint on
reliable storage (see ``functions/iterate.py`` for the lineage
rationale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_c_implementation_spark.functions.iterate import (
    checkpoint_observed,
    fixed_rounds,
    propagate,
    record_rounds,
)
from mapreduce_c_implementation_spark.registry import register
from mapreduce_c_implementation_spark.sources import load_table

# Fixed-point scale for ranks; 6 rounds is enough for a 25-node graph to
# separate ranks decisively (the oracle runs the SAME count, so an
# unconverged choice still hash-matches — the count is semantics, not
# tuning).
PR_SCALE = 1_000_000_000
PR_ITERS = 6

# Shared edge-list CTEs (DuckDB side).  count(*) -> BIGINT natively;
# sum(BIGINT) -> HUGEINT, so w_out is cast back per the parity rules.
_SQL_GRAPH_CTES = """
    edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY c.c_nationkey, s.s_nationkey
    ),
    nodes AS (SELECT n_nationkey AS node, n_name FROM nation),
    outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS w_out FROM edges GROUP BY src)
"""


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src=customer nation, dst=supplier nation, w=lineitem count).

    Same join diamond as tpch_q7_nation_volume: lineitem⋈orders is the
    one fact-fact shuffle; customer/supplier broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank in DuckDB SQL.

    Unrolled (pr0..prN as chained CTEs) rather than a recursive CTE
    because the recursive term would need an aggregate over the
    recursive reference, which SQL engines restrict.  `params` carries
    n / the scaled init and teleport terms so nothing is hard-coded to
    25 nations.
    """
    ctes = [
        f"params AS (SELECT count(*) AS n,"
        f" CAST({PR_SCALE} AS BIGINT) // count(*) AS init,"
        f" (CAST({PR_SCALE} AS BIGINT) * 15) // (100 * count(*)) AS base FROM nodes)",
        "pr0 AS (SELECT node, (SELECT init FROM params) AS r FROM nodes)",
    ]
    for k in range(PR_ITERS):
        ctes.append(
            f"""pr{k + 1} AS (
      SELECT n.node,
             (SELECT base FROM params) + COALESCE(c.s, CAST(0 AS BIGINT)) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node,
               CAST(sum((p.r * e.w * 85) // (o.w_out * 100)) AS BIGINT) AS s
        FROM pr{k} p
        JOIN edges e ON e.src = p.node
        JOIN outw o ON o.src = p.node
        GROUP BY e.dst
      ) c ON c.node = n.node
    )"""
        )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {_SQL_GRAPH_CTES.strip().rstrip()},
    {chain}
    SELECT n.n_name AS n_name, CAST(p.r AS BIGINT) AS pr_scaled
    FROM pr{PR_ITERS} p JOIN nodes n ON n.node = p.node
    """


@register(
    "graph_pagerank_nations",
    oracle_sql=_pagerank_oracle(),
    tags=("graph", "iterative", "join"),
)
def graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration weighted PageRank over the nation trade graph
    (damping 0.85, {PR_ITERS} rounds, ranks as BIGINT at scale 1e9).

    Semantics pinned identically in both engines: contribution along an
    edge is (r * w * 85) div (w_out * 100) in pure integer arithmetic;
    a new rank is teleport-base + the BIGINT sum of contributions;
    nations with no out-edges leak their rank (classic dangling-node
    simplification — the leak is part of the pinned semantics, and the
    TPC-H generator gives every nation customers anyway).

    Plan shape: edge build = Q7 diamond (one shuffle), then each round
    is a join+agg over an O(nations^2) edge list.  No driver-side
    action: n and the derived constants come from a 1-row broadcast
    aggregate, not `.count()`.  The rounds run through
    ``functions/iterate.py::fixed_rounds``.
    """
    edges = _trade_edges(spark, sf_dir)
    outw = edges.groupBy("src").agg(F.sum("w").alias("w_out"))
    # (src, dst, w, w_out): static across rounds — checkpoint once.
    ew = edges.join(outw, "src").localCheckpoint()
    nodes = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name"
    )
    params = nodes.agg(
        F.expr(f"{PR_SCALE}L div count(*)").alias("init"),
        F.expr(f"({PR_SCALE}L * 15) div (100 * count(*))").alias("base"),
    )
    ranks = (
        nodes.crossJoin(F.broadcast(params))
        .select("node", F.col("init").alias("r"))
        .localCheckpoint()
    )

    def step(ranks: DataFrame, _: int) -> DataFrame:
        contrib = (
            ranks.join(ew, ranks.node == ew.src)
            .select("dst", F.expr("(r * w * 85) div (w_out * 100)").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        return (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .crossJoin(F.broadcast(params))
            .select(
                "node",
                (F.col("base") + F.coalesce(F.col("s"), F.lit(0))).alias("r"),
            )
        )

    ranks = fixed_rounds(graph_pagerank_nations, ranks, step, PR_ITERS)
    return ranks.join(nodes, "node").select("n_name", F.col("r").alias("pr_scaled"))


@register(
    "graph_degree_stats",
    oracle_sql=f"""
    WITH {_SQL_GRAPH_CTES.strip()},
    outd AS (
      SELECT src, count(*) AS out_degree, CAST(sum(w) AS BIGINT) AS out_strength
      FROM edges GROUP BY src
    ),
    ind AS (
      SELECT dst, count(*) AS in_degree, CAST(sum(w) AS BIGINT) AS in_strength
      FROM edges GROUP BY dst
    )
    SELECT n.n_name AS n_name,
           COALESCE(out_degree, 0) AS out_degree,
           COALESCE(in_degree, 0) AS in_degree,
           COALESCE(out_strength, 0) AS out_strength,
           COALESCE(in_strength, 0) AS in_strength
    FROM nodes n
    LEFT JOIN outd ON outd.src = n.node
    LEFT JOIN ind ON ind.dst = n.node
    """,
    tags=("graph", "aggregate"),
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation degree/strength profile of the trade graph: distinct
    partner counts (degree) and total lineitem flow (strength), both
    directions — the standard first look at any edge list, and the skew
    signal that decides whether downstream graph joins need salting.

    One pass per direction over the aggregated O(nations^2) edge list,
    outer-joined back to the node table so isolated nations report
    zeros instead of vanishing.
    """
    edges = _trade_edges(spark, sf_dir).localCheckpoint()
    nodes = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name"
    )
    # edges is already one row per (src, dst), so partner-degree is a
    # plain count — no countDistinct expand needed.
    out_side = edges.groupBy("src").agg(
        F.count("*").alias("out_degree"),
        F.sum("w").alias("out_strength"),
    )
    in_side = edges.groupBy("dst").agg(
        F.count("*").alias("in_degree"),
        F.sum("w").alias("in_strength"),
    )
    return (
        nodes.join(out_side, nodes.node == out_side.src, "left")
        .join(in_side, nodes.node == in_side.dst, "left")
        .select(
            "n_name",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("out_strength", F.lit(0)).alias("out_strength"),
            F.coalesce("in_strength", F.lit(0)).alias("in_strength"),
        )
    )


_SQL_UND_EDGES = """
    und AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM edges WHERE src <> dst
    )
"""


@register(
    "graph_triangle_count",
    oracle_sql=f"""
    WITH {_SQL_GRAPH_CTES.strip()},
    {_SQL_UND_EDGES.strip()},
    tris AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM und e1
      JOIN und e2 ON e2.u = e1.v
      JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    pernode AS (
      SELECT node, count(*) AS n_triangles FROM (
        SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
      ) GROUP BY node
    )
    SELECT n.n_name AS n_name,
           COALESCE(p.n_triangles, 0) AS n_triangles
    FROM nodes n LEFT JOIN pernode p ON p.node = n.node
    """,
    tags=("graph", "join", "triangles"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle count over the UNDIRECTED trade graph — the
    clustering-coefficient numerator, and the classic "joins as graph
    compute" benchmark (MapReduce node-iterator algorithm).

    The canonical-orientation trick IS the algorithm: undirected edges
    keep only (u < v), so each triangle a<b<c is generated exactly once
    by the two-hop join e1(a,b)⋈e2(b,c) closed by e3(a,c) — no
    double-counting, no post-hoc division by 6.  Each triangle then
    attributes 1 to each of its three corners.

    Scale shape: two self-equi-joins over the aggregated O(nations²)
    edge list (tiny here, and the joins stay equi-keyed at any size).
    For a billion-node graph the refinement is degree ordering — orient
    each edge from lower- to higher-degree endpoint before the two-hop
    join, bounding the per-node fan-out by sqrt(edges) (the
    node-iterator++ bound) — the same plan with one degree join in
    front.  Reference analog: none (text-only engine); this extends the
    README's "keyed edge list" framing (/root/reference/README.md:319).
    """
    edges = _trade_edges(spark, sf_dir)
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tris = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c")
        )
    )
    corners = (
        tris.select(F.col("a").alias("node"))
        .union(tris.select(F.col("b").alias("node")))
        .union(tris.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    nodes = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name"
    )
    return nodes.join(corners, "node", "left").select(
        "n_name", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
    )


# Label propagation: fixed synchronous rounds; the update is the
# WEIGHTED MODE of neighbor labels (sum of edge weights per label, ties
# to the smallest label) — deterministic, so the unrolled DuckDB oracle
# is bit-exact.  4 rounds is semantics, not tuning (the oracle runs the
# same count).
LP_ITERS = 4

_SQL_SYM_EDGES = """
    sym AS (
      SELECT src, dst, w FROM edges WHERE src <> dst
      UNION ALL
      SELECT dst AS src, src AS dst, w FROM edges WHERE src <> dst
    )
"""


def _label_prop_oracle() -> str:
    ctes = ["lp0 AS (SELECT node, node AS lab FROM nodes)"]
    for k in range(LP_ITERS):
        ctes.append(f"""lp{k + 1} AS (
      SELECT n.node, COALESCE(c.lab, p.lab) AS lab
      FROM nodes n JOIN lp{k} p ON p.node = n.node
      LEFT JOIN (
        SELECT node, lab FROM (
          SELECT e.dst AS node, p2.lab,
                 row_number() OVER (PARTITION BY e.dst
                                    ORDER BY CAST(sum(e.w) AS BIGINT) DESC,
                                             p2.lab ASC) AS rn
          FROM sym e JOIN lp{k} p2 ON p2.node = e.src
          GROUP BY e.dst, p2.lab
        ) WHERE rn = 1
      ) c ON c.node = n.node
    )""")
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {_SQL_GRAPH_CTES.strip()},
    {_SQL_SYM_EDGES.strip()},
    {chain}
    SELECT n.n_name AS n_name, CAST(p.lab AS BIGINT) AS community
    FROM lp{LP_ITERS} p JOIN nodes n ON n.node = p.node
    """


@register(
    "graph_label_propagation",
    oracle_sql=_label_prop_oracle(),
    tags=("graph", "iterative", "communities"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    undirected weighted trade graph: every node starts in its own
    community, and each of the {LP_ITERS} rounds reassigns it to the
    WEIGHTED MODE of its neighbors' labels (sum of edge weights per
    candidate label; ties break to the smallest label — the
    determinism pin that makes the unrolled DuckDB oracle bit-exact,
    where textbook LPA tie-breaks randomly).

    Per round: one equi-join of the label table to the symmetric edge
    list, one (node, label) weight sum, and an in-group argmax via
    max(struct(weight, -label)) — no window, no shuffle beyond the
    keyed aggregate, one ``functions/iterate.py::fixed_rounds`` round;
    at a billion nodes the label table is hash-partitioned on node.
    Complements [[dedup_cc_stars]]: CC finds the connectivity
    partition, LPA finds DENSITY structure inside a connected graph
    (the trade graph is near-complete, so its communities come from
    weight asymmetry, not topology).
    """
    edges = _trade_edges(spark, sf_dir)
    nd = F.col("src") != F.col("dst")
    sym = (
        edges.filter(nd)
        .select("src", "dst", "w")
        .union(
            edges.filter(nd).select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
        .localCheckpoint()
    )
    nodes = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name"
    )
    labels = nodes.select("node", F.col("node").alias("lab")).localCheckpoint()

    def step(labels: DataFrame, _: int) -> DataFrame:
        votes = (
            sym.join(labels, sym.src == labels.node)
            .groupBy(F.col("dst"), F.col("lab"))
            .agg(F.sum("w").cast("long").alias("s"))
            .groupBy("dst")
            .agg(F.max(F.struct(F.col("s"), (-F.col("lab")).alias("neglab"))).alias("m"))
            .select(F.col("dst").alias("node"), (-F.col("m.neglab")).alias("newlab"))
        )
        return labels.join(votes, "node", "left").select(
            "node", F.coalesce("newlab", "lab").alias("lab")
        )

    labels = fixed_rounds(graph_label_propagation, labels, step, LP_ITERS)
    return labels.join(nodes, "node").select(
        "n_name", F.col("lab").cast("long").alias("community")
    )


# Single-source BFS over a deterministically SPARSIFIED trade graph:
# the nation graph is near-complete (every pair trades at sf>=0.01), so
# BFS over the raw edge set has diameter ~1 and tests nothing.  Each
# node keeps only its {BFS_NODE_DEGREE} strongest incident edges
# (total-order tie-break (w desc, neighbor) — deterministic at any sf),
# which guarantees every node stays in the backbone (a global top-K
# strands low-weight nations entirely) while forcing multi-hop paths —
# and, unlike a global LIMIT, is computable at any graph size without
# one task ranking the full edge list.
BFS_SOURCE = 0
BFS_ITERS = 6
BFS_NODE_DEGREE = 2


def _trade_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-node top-BFS_NODE_DEGREE incident-edge backbone of the
    trade graph that graph_bfs_distances and graph_widest_path_bottleneck
    relax over: canonical ``(u < v, wu)`` rows, ``wu`` the undirected
    edge weight.  Materialized ONCE by an eager ``localCheckpoint`` —
    without it the backbone subtree is referenced in every round and
    Spark re-runs the full ``_trade_edges`` join diamond per reference
    (measured 12.5 s -> ~2 s at sf0.1).  The per-node top-k is a window
    partitioned by node, so no single task ranks the full edge list.
    """
    from pyspark.sql.window import Window

    edges = _trade_edges(spark, sf_dir)
    undw = (
        edges.filter(F.col("src") != F.col("dst"))
        .groupBy(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .agg(F.sum("w").cast("long").alias("wu"))
    )
    inc = undw.select(
        F.col("u").alias("a"), F.col("v").alias("b"), "wu"
    ).unionByName(
        undw.select(F.col("v").alias("a"), F.col("u").alias("b"), "wu")
    )
    return (
        inc.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("a").orderBy(F.desc("wu"), F.asc("b"))
            ),
        )
        .filter(F.col("rn") <= BFS_NODE_DEGREE)
        .groupBy(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .agg(F.max("wu").cast("long").alias("wu"))
        .localCheckpoint()
    )


def _bfs_oracle() -> str:
    """Unrolled fixed-iteration BFS (Bellman-Ford relaxation with unit
    weights) in DuckDB SQL — unrolled for the same reason as
    ``_pagerank_oracle``: the recursive term would aggregate over the
    recursive reference."""
    ctes = [
        """und AS MATERIALIZED (
      SELECT least(src, dst) AS u, greatest(src, dst) AS v,
             CAST(sum(w) AS BIGINT) AS wu
      FROM edges WHERE src <> dst GROUP BY 1, 2
    )""",
        "inc AS (SELECT u AS a, v AS b, wu FROM und"
        " UNION ALL SELECT v, u, wu FROM und)",
        f"""topE AS MATERIALIZED (
      SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
        SELECT a, b,
               row_number() OVER (PARTITION BY a ORDER BY wu DESC, b ASC)
                 AS rn
        FROM inc
      ) WHERE rn <= {BFS_NODE_DEGREE}
    )""",
        "sym AS MATERIALIZED (SELECT u, v FROM topE UNION ALL SELECT v, u FROM topE)",
        f"d0 AS (SELECT CAST({BFS_SOURCE} AS BIGINT) AS node,"
        f" CAST(0 AS BIGINT) AS dist)",
    ]
    for k in range(BFS_ITERS):
        ctes.append(
            f"""d{k + 1} AS MATERIALIZED (
      SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
        SELECT node, dist FROM d{k}
        UNION ALL
        SELECT s.v AS node, p.dist + 1 AS dist
        FROM d{k} p JOIN sym s ON s.u = p.node
      ) GROUP BY node
    )"""
        )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {_SQL_GRAPH_CTES.strip()},
    {chain}
    SELECT n.n_name AS n_name, d.dist
    FROM d{BFS_ITERS} d JOIN nodes n ON n.node = d.node
    ORDER BY d.dist, n.n_name
    """


@register(
    "graph_bfs_distances",
    oracle_sql=_bfs_oracle(),
    tags=("graph", "bfs", "iterative"),
)
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distances from nation {BFS_SOURCE} over
    the per-node top-{BFS_NODE_DEGREE} incident-edge backbone of the
    trade graph —
    MapReduce-iteration rung 3 after [[graph_pagerank_nations]] (value
    diffusion) and [[graph_label_propagation]] (mode diffusion): MIN
    diffusion, i.e. frontier expansion as `dist = min(dist,
    neighbor_dist + 1)` repeated {BFS_ITERS} rounds (unit-weight
    Bellman-Ford; the oracle unrolls the SAME count, so the round
    count is part of the contract, not tuning).

    Everything is integer; each node keeps its {BFS_NODE_DEGREE}
    strongest incident edges by a TOTAL order (weight desc, then
    neighbor), so the graph — and therefore every distance — is
    deterministic at any sf, every node stays present (a global top-K
    would strand low-weight nations), and paths are forced multi-hop.
    Unreached nodes are simply absent (inner join at the end),
    matching the oracle's semantics.

    Scale shape: the edge build is the one fact-fact shuffle into the
    once-checkpointed backbone ([[_trade_backbone]]); the frontier loop
    (``functions/iterate.py::propagate``) is one node-sized join+agg
    job per round and stops at the first round that relaxes nothing,
    whose successors are no-ops — same result as the oracle's unroll.
    """
    und = _trade_backbone(spark, sf_dir).select("u", "v")
    sym = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    dist = spark.range(1).select(
        F.lit(BFS_SOURCE).cast("long").alias("node"),
        F.lit(0).cast("long").alias("dist"),
    )
    # sym is NATION-bounded (<= 25 nodes x top-k degree) but
    # checkpointed, so its stats are unknown and the planner would
    # sort-merge — broadcast explicitly.
    dist = propagate(
        graph_bfs_distances,
        dist,
        lambda d: d.join(F.broadcast(sym), d.node == sym.u).select(
            F.col("v").alias("node"), (F.col("dist") + 1).alias("dist")
        ),
        "node",
        "dist",
        F.min,
        BFS_ITERS,
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name"
    )
    return (
        dist.join(F.broadcast(n), "node")
        .select("n_name", "dist")
        .orderBy("dist", "n_name")
    )


@register(
    "graph_common_neighbors",
    oracle_sql=f"""
    WITH {_SQL_GRAPH_CTES},
    adj AS (
      SELECT DISTINCT u, v FROM (
        SELECT src AS u, dst AS v FROM edges WHERE src <> dst
        UNION ALL
        SELECT dst AS u, src AS v FROM edges WHERE src <> dst
      )
    ),
    deg AS (SELECT u, count(*) AS d FROM adj GROUP BY u),
    common AS (
      SELECT a.u AS node_a, b.u AS node_b, count(*) AS n_common
      FROM adj a JOIN adj b ON a.v = b.v AND a.u < b.u
      GROUP BY a.u, b.u
    )
    SELECT c.node_a, c.node_b,
           CAST(c.n_common AS BIGINT) AS n_common,
           CAST(da.d AS BIGINT) AS deg_a,
           CAST(db.d AS BIGINT) AS deg_b,
           CAST(c.n_common * 10000 // (da.d + db.d - c.n_common) AS BIGINT)
             AS neighbor_jaccard_bp
    FROM common c
    JOIN deg da ON da.u = c.node_a
    JOIN deg db ON db.u = c.node_b
    ORDER BY node_a, node_b
    """,
    tags=("graph", "link-prediction", "join"),
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction over the undirected trade
    graph: for every node pair, how many neighbors they share and the
    Jaccard of their neighbor sets (basis points) — the classic
    "predict a missing edge" scores, and the same self-join-on-
    neighbor shape triangle counting uses.

    Scale shape: the adjacency list self-joins on the NEIGHBOR column
    — an equi-join whose fan-out per key is that node's degree, the
    standard two-path enumeration.  On a power-law billion-edge graph
    the known refinement is to order pairs so each two-path is counted
    at its lower-degree endpoint (the [[graph_triangle_count]]
    degree-ordering trick), which bounds the per-key fan-out; the
    25-node trade graph needs none of that.  Degrees broadcast back
    onto the pair table for the Jaccard denominator.
    """
    edges = _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    adj = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
    )
    deg = adj.groupBy("u").agg(F.count("*").alias("d"))
    a = adj.select(F.col("u").alias("node_a"), "v")
    b = adj.select(F.col("u").alias("node_b"), "v")
    common = (
        a.join(b, "v")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count("*").alias("n_common"))
    )
    da = deg.select(F.col("u").alias("node_a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("u").alias("node_b"), F.col("d").alias("deg_b"))
    return (
        common.join(F.broadcast(da), "node_a")
        .join(F.broadcast(db), "node_b")
        .select(
            "node_a",
            "node_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("deg_a").cast("long").alias("deg_a"),
            F.col("deg_b").cast("long").alias("deg_b"),
            F.expr(
                "CAST(n_common * 10000L div (deg_a + deg_b - n_common)"
                " AS BIGINT)"
            ).alias("neighbor_jaccard_bp"),
        )
        .orderBy("node_a", "node_b")
    )


# Deterministic random walks: WALK_LEN hash-driven steps from every
# node; the step choice is nbrs[md5(start, step) % degree] over the
# dst-sorted adjacency list, so the "random" walk is reproducible on
# any engine, any partitioning — the node2vec/DeepWalk corpus-prep
# contract without an RNG.
WALK_LEN = 4


def _walk_oracle() -> str:
    ctes = [
        "adj AS (SELECT src, list(dst ORDER BY dst) AS nbrs FROM edges GROUP BY src)",
        "w0 AS (SELECT src AS start, 0 AS step, src AS cur FROM adj)",
    ]
    for k in range(1, WALK_LEN + 1):
        ctes.append(f"""w{k} AS (
      SELECT w.start, {k} AS step,
             a.nbrs[CAST(CAST('0x' || substr(md5(CAST(w.start AS VARCHAR) || '_'
                                               || '{k}'), 1, 4) AS BIGINT)
                         % len(a.nbrs) AS BIGINT) + 1] AS cur
      FROM w{k - 1} w JOIN adj a ON a.src = w.cur
    )""")
    union = "\n      UNION ALL ".join(
        f"SELECT * FROM w{k}" for k in range(WALK_LEN + 1)
    )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {_SQL_GRAPH_CTES.strip().rstrip()},
    {chain}
    SELECT start, CAST(step AS BIGINT) AS step, CAST(cur AS BIGINT) AS node
    FROM ({union})
    ORDER BY start, step
    """


@register(
    "graph_random_walk_pairs",
    oracle_sql=_walk_oracle(),
    tags=("graph", "walks", "embedding", "pipeline"),
)
def graph_random_walk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk/node2vec corpus preparation: a {WALK_LEN}-step walk
    from every node of the trade graph, each step choosing
    nbrs[md5(start, step) % degree] from the dst-SORTED adjacency
    list — a deterministic stand-in for the uniform random step that
    makes walk corpora reproducible across engines and replays (the
    [[span_corruption_masking]] hashing discipline on graphs; a
    weighted step would hash into the cumulative-weight prefix array
    instead).  The walk table feeds [[skipgram_cooccurrence]] to
    produce (center, context) training pairs.

    Scale shape: the edge build is the Q7 join diamond (one fact-fact
    shuffle, dims broadcast); adjacency lists are degree-bounded
    arrays; each step is one equi-join of the walker frontier against
    the adjacency table on the current node — the standard distributed
    walk-engine round, node-grain regardless of corpus size.  Walkers
    at sink nodes (no out-edges) stop early via the inner join.
    """
    edges = _trade_edges(spark, sf_dir)
    adj = edges.groupBy("src").agg(F.array_sort(F.collect_list("dst")).alias("nbrs"))
    frontier = adj.select(
        F.col("src").alias("start"),
        F.lit(0).cast("long").alias("step"),
        F.col("src").alias("cur"),
    )
    walks = [frontier]
    for k in range(1, WALK_LEN + 1):
        pick = F.element_at(
            F.col("nbrs"),
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("start").cast("string"), F.lit(f"_{k}")
                            )
                        ),
                        1,
                        4,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.size("nbrs")
                + 1
            ).cast("int"),
        )
        frontier = (
            frontier.join(adj, frontier.cur == adj.src)
            .select(
                "start",
                F.lit(k).cast("long").alias("step"),
                pick.alias("cur"),
            )
        )
        walks.append(frontier)
    out = walks[0]
    for w in walks[1:]:
        out = out.unionAll(w)
    return out.select(
        "start", "step", F.col("cur").cast("long").alias("node")
    ).orderBy("start", "step")


@register(
    "graph_adamic_adar",
    oracle_sql=f"""
    WITH {_SQL_GRAPH_CTES.strip()},
    adj AS (
      SELECT DISTINCT u, v FROM (
        SELECT src AS u, dst AS v FROM edges WHERE src <> dst
        UNION ALL
        SELECT dst AS u, src AS v FROM edges WHERE src <> dst
      )
    ),
    deg AS (SELECT u, count(*) AS d FROM adj GROUP BY u),
    pair_terms AS (
      SELECT a.u AS node_a, b.u AS node_b,
             CAST(round(1000000.0 / ln(CAST(dw.d AS DOUBLE))) AS BIGINT)
               AS aa_micro
      FROM adj a
      JOIN adj b ON a.v = b.v AND a.u < b.u
      JOIN deg dw ON dw.u = a.v
      WHERE dw.d >= 2
    )
    SELECT node_a, node_b,
           CAST(count(*) AS BIGINT) AS n_common,
           CAST(sum(aa_micro) AS BIGINT) AS adamic_adar_micro
    FROM pair_terms
    GROUP BY node_a, node_b
    ORDER BY node_a, node_b
    """,
    tags=("graph", "link-prediction", "join"),
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link-prediction score over the undirected trade
    graph: AA(a,b) = Σ_{{w ∈ CN(a,b)}} 1/ln(deg(w)) — the
    degree-discounted refinement of [[graph_common_neighbors]] (a rare
    shared neighbor is stronger evidence than a hub every node
    touches).  Degree-1 neighbors are excluded (ln 1 = 0 would divide
    by zero; a degree-1 node cannot be a COMMON neighbor anyway, so the
    filter is semantics-free belt-and-braces).

    Exactness: each neighbor's 1/ln(d) is frozen to integer micro-units
    ONCE at the node grain, then summed — the per-pair score is an
    exact integer add in any order.  Scale shape: the identical
    two-path self-join as common-neighbors with the degree table folded
    onto the SHARED-neighbor column pre-aggregation; the same
    lower-degree-endpoint ordering bounds fan-out on power-law graphs.
    """
    edges = _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    adj = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
    )
    deg = adj.groupBy("u").agg(F.count("*").alias("d"))
    dw = deg.select(F.col("u").alias("v"), F.col("d").alias("dw"))
    a = adj.select(F.col("u").alias("node_a"), "v")
    b = adj.select(F.col("u").alias("node_b"), "v")
    return (
        a.join(b, "v")
        .filter(F.col("node_a") < F.col("node_b"))
        .join(F.broadcast(dw), "v")
        .filter(F.col("dw") >= 2)
        .withColumn(
            "aa_micro",
            F.expr(
                "CAST(round(1000000.0 / ln(CAST(dw AS DOUBLE))) AS BIGINT)"
            ),
        )
        .groupBy("node_a", "node_b")
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum("aa_micro").cast("long").alias("adamic_adar_micro"),
        )
        .orderBy("node_a", "node_b")
    )


# --- Round 10b: HITS hubs & authorities (fixed-iteration, integer) ---------
#
# Kleinberg's HITS on the directed weighted nation trade graph: a
# nation is a strong HUB if it buys from strong authorities, a strong
# AUTHORITY if strong hubs buy from it.  Mutual recursion fixed by
# alternating power iteration with integer L1 normalization each half
# step — same pinned-arithmetic scheme as graph_pagerank_nations.
HITS_SCALE = 1_000_000
HITS_ITERS = 6


def _hits_oracle() -> str:
    """Unrolled fixed-iteration HITS in DuckDB SQL (the
    _pagerank_oracle pattern: chained CTEs, one pair per round, every round CTE
    MATERIALIZED — each is referenced twice, and DuckDB's default
    inlining would re-expand the whole chain exponentially).
    Raw sums accumulate in DECIMAL(38,0); each normalization is a
    HUGEINT floor division (== Spark's DECIMAL `div`)."""
    ctes = [
        f"hub0 AS MATERIALIZED (SELECT node, CAST({HITS_SCALE} AS BIGINT) AS r FROM nodes)"
    ]
    for k in range(HITS_ITERS):
        ctes.append(
            f"""araw{k} AS MATERIALIZED (
      SELECT e.dst AS node,
             CAST(sum(CAST(h.r AS DECIMAL(38,0)) * e.w) AS DECIMAL(38,0)) AS raw
      FROM hub{k} h JOIN edges e ON e.src = h.node GROUP BY e.dst
    ),
    auth{k + 1} AS MATERIALIZED (
      SELECT n.node,
             COALESCE(CAST(CAST(a.raw AS HUGEINT) * {HITS_SCALE}
                           // CAST((SELECT sum(raw) FROM araw{k}) AS HUGEINT)
                           AS BIGINT), 0) AS r
      FROM nodes n LEFT JOIN araw{k} a ON a.node = n.node
    ),
    hraw{k + 1} AS MATERIALIZED (
      SELECT e.src AS node,
             CAST(sum(CAST(a.r AS DECIMAL(38,0)) * e.w) AS DECIMAL(38,0)) AS raw
      FROM auth{k + 1} a JOIN edges e ON e.dst = a.node GROUP BY e.src
    ),
    hub{k + 1} AS MATERIALIZED (
      SELECT n.node,
             COALESCE(CAST(CAST(h.raw AS HUGEINT) * {HITS_SCALE}
                           // CAST((SELECT sum(raw) FROM hraw{k + 1}) AS HUGEINT)
                           AS BIGINT), 0) AS r
      FROM nodes n LEFT JOIN hraw{k + 1} h ON h.node = n.node
    )"""
        )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {_SQL_GRAPH_CTES.strip().rstrip()},
    {chain}
    SELECT n.n_name AS n_name,
           CAST(h.r AS BIGINT) AS hub_scaled,
           CAST(a.r AS BIGINT) AS auth_scaled
    FROM nodes n
    JOIN hub{HITS_ITERS} h ON h.node = n.node
    JOIN auth{HITS_ITERS} a ON a.node = n.node
    """


@register(
    "graph_hits_scores",
    oracle_sql=_hits_oracle(),
    tags=("graph", "iterative", "join"),
)
def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration weighted HITS (Kleinberg hubs/authorities,
    {HITS_ITERS} alternating half-steps, scores L1-normalized to
    {HITS_SCALE}) over the nation trade graph — the directed complement
    to [[graph_pagerank_nations]]: PageRank scores global importance,
    HITS separates the BUYER role (hub: sends lineitems to strong
    suppliers) from the SUPPLIER role (authority: receives from strong
    buyers), the decomposition a marketplace/citation pipeline reads
    off a bipartite-ish trade flow.

    Exactness: raw scores are edge-weighted integer sums accumulated in
    DECIMAL(38,0) (hub <= 1e6 x edge weight grows unbounded with
    corpus, so BIGINT is not enough headroom at 100 TB); every
    normalization is raw * SCALE floor-divided by the L1 total — Spark
    DECIMAL `div` == DuckDB HUGEINT `//` on non-negative operands (the
    [[cvm_two_sample_binned]] rule).  No float anywhere.

    Scale shape: the edge build is the Q7 diamond (one fact-fact
    shuffle); each half-step is one equi-join + keyed aggregate over
    the nation-bounded edge list plus a 1-row L1-total broadcast, one
    ``functions/iterate.py::fixed_rounds`` round each; rounds stay
    2 x {HITS_ITERS} regardless of data volume.

    Reference analog: none (SURVEY §2.2 graph surface).
    """
    edges = _trade_edges(spark, sf_dir).localCheckpoint()
    nodes = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name"
    )

    def half_step(scores: DataFrame, k: int) -> DataFrame:
        # Odd rounds score authorities from hubs along src -> dst, even
        # rounds hubs from authorities back along dst -> src; each state
        # carries the scores it was computed from as `o`.  Every
        # half-step is materialized: a lazy auth half is consumed twice
        # inside the hub step (raw feeds the left-join AND the broadcast
        # total), so skipping its checkpoint re-evaluates the edge join
        # 2x per round and doubles the plan (measured r13: 2.7 s ->
        # 3.9 s, 6 -> 22 Exchanges).
        src_col, dst_col = ("src", "dst") if k % 2 else ("dst", "src")
        raw = (
            scores.join(edges, scores.node == edges[src_col])
            .select(
                F.col(dst_col).alias("node"),
                (F.col("r").cast("decimal(38,0)") * F.col("w")).alias("x"),
            )
            .groupBy("node")
            .agg(F.sum("x").cast("decimal(38,0)").alias("raw"))
        )
        tot = raw.agg(F.sum("raw").cast("decimal(38,0)").alias("l1"))
        return (
            scores.select("node", F.col("r").alias("o"))
            .join(raw, "node", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "node",
                "o",
                F.coalesce(
                    F.expr(
                        f"CAST(raw * {HITS_SCALE} div l1 AS BIGINT)"
                    ),
                    F.lit(0),
                ).alias("r"),
            )
        )

    hub = nodes.select("node", F.lit(HITS_SCALE).cast("long").alias("r"))
    hub = fixed_rounds(graph_hits_scores, hub, half_step, 2 * HITS_ITERS)
    return nodes.join(hub, "node").select(
        "n_name", F.col("r").alias("hub_scaled"), F.col("o").alias("auth_scaled")
    )


# --- Round 10b: k-core peeling (onion layers) on the co-purchase graph -----
#
# The part co-purchase graph: parts are linked when the same order
# contains both (>= KCORE_MIN_W co-occurrences — the same basket-keyed
# pair enumeration as association_rules_parts, pair fan-out bounded by
# lines-per-order squared, never catalog squared).  Peel nodes with
# in-subgraph degree < KCORE_K for KCORE_ITERS rounds: removed nodes
# get their onion LAYER (peel round), survivors are the k-core.
KCORE_K = 2
KCORE_MIN_W = 2
KCORE_ITERS = 8


def _kcore_oracle() -> str:
    """Unrolled fixed-round peel in DuckDB SQL (the _pagerank_oracle
    pattern).  Each round: LEFT-join alive nodes to their alive-
    neighbor counts (left join so zero-degree nodes peel too), split
    into a layer CTE and the next alive CTE."""
    ctes = [
        f"""lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    kedges AS MATERIALIZED (
      SELECT a.p AS u, b.p AS v FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p HAVING count(*) >= {KCORE_MIN_W}
    ),
    und AS MATERIALIZED (SELECT u AS node, v AS nb FROM kedges
            UNION ALL SELECT v, u FROM kedges),
    alive0 AS MATERIALIZED (SELECT DISTINCT node FROM und)"""
    ]
    for r in range(KCORE_ITERS):
        ctes.append(
            f"""deg{r} AS MATERIALIZED (
      SELECT a.node, count(x.nb) AS d
      FROM alive{r} a
      LEFT JOIN (SELECT e.node, e.nb FROM und e
                 JOIN alive{r} v ON v.node = e.nb) x ON x.node = a.node
      GROUP BY a.node
    ),
    layer{r + 1} AS MATERIALIZED (
      SELECT node, {r + 1} AS layer, d FROM deg{r} WHERE d < {KCORE_K}
    ),
    alive{r + 1} AS MATERIALIZED (SELECT node FROM deg{r} WHERE d >= {KCORE_K})"""
        )
    layers = "\n      UNION ALL ".join(
        f"SELECT node, layer, d FROM layer{r + 1}" for r in range(KCORE_ITERS)
    )
    ctes.append(
        f"""finaldeg AS MATERIALIZED (
      SELECT a.node, count(x.nb) AS d
      FROM alive{KCORE_ITERS} a
      LEFT JOIN (SELECT e.node, e.nb FROM und e
                 JOIN alive{KCORE_ITERS} v ON v.node = e.nb) x
        ON x.node = a.node
      GROUP BY a.node
    ),
    result AS (
      {layers}
      UNION ALL SELECT node, 0 AS layer, d FROM finaldeg
    )"""
    )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {chain}
    SELECT CAST(node AS BIGINT) AS p_partkey,
           CAST(layer AS BIGINT) AS peel_layer,
           CAST(d AS BIGINT) AS degree_at_peel
    FROM result
    """


@register(
    "graph_kcore_peel_layers",
    oracle_sql=_kcore_oracle(),
    tags=("graph", "iterative", "dedup-adjacent"),
)
def graph_kcore_peel_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative peeling on the part
    co-purchase graph (edges = part pairs sharing >= {KCORE_MIN_W}
    orders): each of {KCORE_ITERS} rounds removes nodes whose degree
    within the surviving subgraph is < {KCORE_K}, recording the onion
    LAYER (peel round) and the degree the node died with; survivors
    are the {KCORE_K}-core (peel_layer = 0, degree = in-core degree).
    The standard graph-sparsification / community-seed preprocessing
    step: pendant trees and weak tendrils peel away layer by layer,
    what remains is the cohesive core [[graph_triangle_count]] and
    [[graph_label_propagation]] are meaningful on.  All three fixtures
    reach the fixpoint within the bound (0/3/5 rounds at
    sf0.001/0.01/0.1); like [[graph_pagerank_nations]], the round
    count is pinned semantics, not tuning.

    Exactness: pure integer counting — degrees, layers, keys.

    Scale shape (r14 rewrite, guide §1.2/§2.4): pair enumeration is
    basket-keyed (fan-out <= lines-per-order squared, the
    [[association_rules_parts]] bound).  Peeling is INCREMENTAL: the
    full degree table is computed once (und carries both directions,
    so one groupBy IS the round-1 alive-join the old shape paid), and
    each round only subtracts the edges incident to the nodes peeled
    THAT round — deg over alive_r == deg over alive_{r-1} minus edges
    into peeled_{r-1}, because alive only shrinks.  Per-round shuffle
    is therefore proportional to the PEELED frontier's edges (each
    edge crosses at most twice over the whole loop — O(E) total, was
    O(E x rounds)); `und` is pre-partitioned and pre-sorted on `nb`
    before its one cached materialization, so every round's frontier
    join streams it exchange-free and sort-free.  `deg` is a checkpoint
    (no reported partitioning), so the decrement join re-shuffles it
    each round: a small node-sized Exchange, never an edge-sized one.
    The per-round peel count rides each checkpoint's job
    (``functions/iterate.py::checkpoint_observed``).

    Reference analog: none (SURVEY §2.2 graph surface).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a = li.select("o", F.col("p").alias("u"))
    b = li.select("o", F.col("p").alias("v"))
    kedges = (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= KCORE_MIN_W)
    )
    # Pre-partition + pre-sort on the join key ONCE, held in a SCOPED
    # cache (unpersisted after the loop — the returned plan references
    # only checkpointed deg tables, never und).  A cache, not a
    # checkpoint: InMemoryRelation preserves outputPartitioning and
    # outputOrdering, so every round's frontier join streams the edge
    # side with no Exchange and no Sort (guide §2.5 partition
    # alignment); localCheckpoint surfaces as UnknownPartitioning and
    # would re-shuffle the full edge table each round.
    und = (
        kedges.select(F.col("u").alias("node"), F.col("v").alias("nb"))
        .union(kedges.select(F.col("v").alias("node"), F.col("u").alias("nb")))
        .repartition(F.col("nb"))
        .sortWithinPartitions("nb")
        .cache()
    )
    # Full in-graph degree: und holds both directions of every edge,
    # so one count per `node` equals the old round-1 alive-join result
    # (every nb is itself a node of und, hence alive at round 1).  The
    # peel-frontier size rides each checkpoint's own job
    # (functions/iterate.py), so the per-round emptiness probe costs NO
    # extra job.
    n_peel_metric = F.sum(
        F.when(F.col("d") < KCORE_K, 1).otherwise(0)
    ).alias("n_peel")
    deg, got = checkpoint_observed(
        und.groupBy("node").agg(F.count("*").alias("d")), n_peel_metric
    )
    layers = None
    rounds = 0
    # Fixpoint early-exit: a round that would peel NOTHING leaves alive
    # unchanged, so every later round would peel nothing either
    # (peeling is monotone) — and `deg` already IS the survivors'
    # in-core degree table.  (sum over an empty deg is NULL: all nodes
    # peeled ⇒ nothing left to peel.)
    while rounds < KCORE_ITERS and (got["n_peel"] or 0) > 0:
        rounds += 1
        peeled = deg.filter(F.col("d") < KCORE_K)
        layer_r = peeled.select(
            "node", F.lit(rounds).cast("long").alias("layer"), "d"
        )
        layers = layer_r if layers is None else layers.unionByName(layer_r)
        # Decrement: each surviving node loses exactly its edges into
        # the peeled frontier.  Only frontier-incident edges shuffle.
        dec = (
            und.join(peeled.select(F.col("node").alias("nb")), "nb")
            .groupBy("node")
            .agg(F.count("*").alias("dd"))
        )
        deg, got = checkpoint_observed(
            deg.filter(F.col("d") >= KCORE_K)
            .join(dec, "node", "left")
            .select(
                "node", (F.col("d") - F.coalesce("dd", F.lit(0))).alias("d")
            ),
            n_peel_metric,
        )
    und.unpersist()
    record_rounds(graph_kcore_peel_layers, rounds, (got["n_peel"] or 0) == 0)
    # deg holds degrees within the last alive set (after the final
    # decrement when all KCORE_ITERS rounds peeled).
    survivors = deg.select("node", F.lit(0).cast("long").alias("layer"), "d")
    out = survivors if layers is None else layers.unionByName(survivors)
    return out.select(
        F.col("node").cast("long").alias("p_partkey"),
        F.col("layer").cast("long").alias("peel_layer"),
        F.col("d").cast("long").alias("degree_at_peel"),
    )


@register(
    "graph_clustering_coefficient",
    oracle_sql=f"""
    WITH {_SQL_GRAPH_CTES.strip()},
    {_SQL_UND_EDGES.strip()},
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT u AS node FROM und UNION ALL SELECT v FROM und
      ) GROUP BY node
    ),
    tris AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM und e1
      JOIN und e2 ON e2.u = e1.v
      JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    pernode AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
      ) GROUP BY node
    )
    SELECT n.n_name,
           COALESCE(d.degree, 0) AS degree,
           COALESCE(p.n_triangles, 0) AS n_triangles,
           CAST(CASE WHEN COALESCE(d.degree, 0) >= 2
                THEN 2 * COALESCE(p.n_triangles, 0) * 1000000
                     // (d.degree * (d.degree - 1))
                ELSE 0 END AS BIGINT) AS cc_ppm
    FROM nodes n
    LEFT JOIN deg d ON d.node = n.node
    LEFT JOIN pernode p ON p.node = n.node
    """,
    tags=("graph", "join", "clustering"),
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node over the undirected trade
    graph: cc(v) = 2*T(v) / (deg(v)*(deg(v)-1)) — how close each
    node's neighborhood is to a clique, the standard community-density
    screen run before committing to a clustering pass.  Completes the
    triangle family: [[graph_triangle_count]] gives the numerator,
    this op closes it with the degree denominator (ppm-floored, exact
    integers end to end; deg < 2 pins cc = 0).

    Scale shape: [[graph_triangle_count]]'s canonical-orientation
    two-hop join for T(v), one UNION-ALL degree aggregate for deg(v),
    one node-keyed assembly join — all equi-keyed on the aggregated
    edge list.  The billion-node refinement is the same degree-ordered
    orientation noted there.

    Reference analog: none (SURVEY §2.2 graph surface).
    """
    edges = _trade_edges(spark, sf_dir)
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tris = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    pernode = (
        tris.select(F.col("a").alias("node"))
        .union(tris.select(F.col("b").alias("node")))
        .union(tris.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    nodes = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name"
    )
    return (
        nodes.join(deg, "node", "left")
        .join(pernode, "node", "left")
        .select(
            "n_name",
            F.coalesce("degree", F.lit(0)).alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.expr(
                "CAST(CASE WHEN coalesce(degree, 0) >= 2"
                " THEN 2 * coalesce(n_triangles, 0) * 1000000"
                " div (degree * (degree - 1))"
                " ELSE 0 END AS BIGINT)"
            ).alias("cc_ppm"),
        )
    )


# --- Round 11: widest-path (bottleneck) diffusion -------------------------

WP_SOURCE = 0
WP_ITERS = 6
WP_INIT = 1 << 62  # source capacity: effectively infinite


def _widest_oracle() -> str:
    """Unrolled fixed-iteration max-min (bottleneck) relaxation —
    unrolled like ``_bfs_oracle`` because the recursive term would
    aggregate over the recursive reference."""
    ctes = [
        """und AS MATERIALIZED (
      SELECT least(src, dst) AS u, greatest(src, dst) AS v,
             CAST(sum(w) AS BIGINT) AS wu
      FROM edges WHERE src <> dst GROUP BY 1, 2
    )""",
        "inc AS (SELECT u AS a, v AS b, wu FROM und"
        " UNION ALL SELECT v, u, wu FROM und)",
        f"""topE AS MATERIALIZED (
      SELECT least(a, b) AS u, greatest(a, b) AS v,
             CAST(max(wu) AS BIGINT) AS wu FROM (
        SELECT a, b, wu,
               row_number() OVER (PARTITION BY a ORDER BY wu DESC, b ASC)
                 AS rn
        FROM inc
      ) WHERE rn <= {BFS_NODE_DEGREE}
      GROUP BY 1, 2
    )""",
        "sym AS MATERIALIZED (SELECT u, v, wu FROM topE UNION ALL SELECT v, u, wu FROM topE)",
        f"w0 AS (SELECT CAST({WP_SOURCE} AS BIGINT) AS node,"
        f" CAST({WP_INIT} AS BIGINT) AS width)",
    ]
    for k in range(WP_ITERS):
        ctes.append(
            f"""w{k + 1} AS MATERIALIZED (
      SELECT node, CAST(max(width) AS BIGINT) AS width FROM (
        SELECT node, width FROM w{k}
        UNION ALL
        SELECT s.v AS node, least(p.width, s.wu) AS width
        FROM w{k} p JOIN sym s ON s.u = p.node
      ) GROUP BY node
    )"""
        )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {_SQL_GRAPH_CTES.strip()},
    {chain}
    SELECT n.n_name AS n_name, w.width
    FROM w{WP_ITERS} w JOIN nodes n ON n.node = w.node
    WHERE w.node <> {WP_SOURCE}
    ORDER BY w.width DESC, n.n_name
    """


@register(
    "graph_widest_path_bottleneck",
    oracle_sql=_widest_oracle(),
    tags=("graph", "widest-path", "iterative"),
)
def graph_widest_path_bottleneck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Widest-path (maximum-bottleneck) capacities from nation
    {WP_SOURCE} over the same per-node top-{BFS_NODE_DEGREE} trade
    backbone as [[graph_bfs_distances]] — MAX-MIN diffusion, the fourth
    relaxation semiring after sum-diffusion (PageRank), mode-diffusion
    (label propagation) and min-diffusion (BFS): width(v) =
    max(width(v), max over edges (u,v) of min(width(u), w(uv))).  This
    is the "how much traffic could this route actually carry" question
    (bottleneck bandwidth / max-capacity routing), and the weights the
    BFS backbone already computes but then discards.

    Integer-exact end to end; {WP_ITERS} rounds is the contract (the
    oracle unrolls the same count) with detected convergence skipping
    dead rounds — on a {BFS_NODE_DEGREE}-degree backbone the frontier
    stabilizes in a handful of rounds.

    Scale shape: identical to [[graph_bfs_distances]] (same backbone,
    same ``propagate`` loop), with a max-aggregate per round.

    Reference analog: none (SURVEY §2.2 graph surface).
    """
    und = _trade_backbone(spark, sf_dir)
    sym = und.union(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"), "wu")
    )
    width = spark.range(1).select(
        F.lit(WP_SOURCE).cast("long").alias("node"),
        F.lit(WP_INIT).cast("long").alias("width"),
    )
    # Broadcast the nation-bounded backbone, as in graph_bfs_distances.
    width = propagate(
        graph_widest_path_bottleneck,
        width,
        lambda w: w.join(F.broadcast(sym), w.node == sym.u).select(
            F.col("v").alias("node"),
            F.least(F.col("width"), F.col("wu")).alias("width"),
        ),
        "node",
        "width",
        F.max,
        WP_ITERS,
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name"
    )
    return (
        width.filter(F.col("node") != WP_SOURCE)
        .join(F.broadcast(n), "node")
        .select("n_name", "width")
        .orderBy(F.desc("width"), "n_name")
    )

"""Behavioral tests for the training-data-pipeline extensions beyond the
oracle diffs (which test_operators_vs_oracle.py covers)."""

from __future__ import annotations

import os

import pytest

from mapreduce_c_implementation_spark.registry import get_operator


def test_real_decode_is_stubbed():
    from mapreduce_c_implementation_spark.operators.multimodal import _decode_image_real

    with pytest.raises(NotImplementedError):
        _decode_image_real(b"\x89PNG fake")


def test_lsh_is_subset_of_bruteforce(spark, sf_correct):
    """LSH neighbors must be genuine corpus vectors with correct cosines:
    every (query, neighbor, cosine) in the LSH result appears in the
    brute-force scored set (rank may differ — recall loss is expected)."""
    bf = (
        get_operator("ann_bruteforce_topk")
        .query_fn(spark, sf_correct)
        .select("query_id", "neighbor_id", "cosine")
        .collect()
    )
    lsh = (
        get_operator("ann_lsh_bucketed")
        .query_fn(spark, sf_correct)
        .select("query_id", "neighbor_id", "cosine")
        .collect()
    )
    bf_top = {(r.query_id, r.neighbor_id): r.cosine for r in bf}
    # LSH top-ranked pairs that ARE in the brute-force top-k must agree
    # on the cosine value exactly (same fold order).
    agreeing = [
        r for r in lsh if (r.query_id, r.neighbor_id) in bf_top
    ]
    assert agreeing, "LSH found nothing from the exact top-k at all"
    for r in agreeing:
        assert abs(bf_top[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-9


def test_minhash_flags_jaccard_similar_pairs(spark, sf_correct):
    """MinHash-LSH candidates and exact Jaccard pairs overlap: every
    high-jaccard pair (>= 0.5) should be recalled by at least the exact
    pipeline, and minhash candidates must be real documents."""
    jac = (
        get_operator("dedup_ngram_jaccard").query_fn(spark, sf_correct).collect()
    )
    mh = get_operator("dedup_minhash_lsh").query_fn(spark, sf_correct).collect()
    jac_pairs = {(r.doc_a, r.doc_b) for r in jac if r.jaccard >= 0.5}
    mh_pairs = {(r.doc_a, r.doc_b) for r in mh}
    if jac_pairs:
        # banding (4 bands x 3 rows) catches most >= 0.5-jaccard pairs;
        # require at least half to guard against a broken signature.
        assert len(jac_pairs & mh_pairs) >= len(jac_pairs) // 2


def test_dedup_exact_identity_when_no_dups(spark, sf_correct):
    df = get_operator("dedup_exact").query_fn(spark, sf_correct)
    rows = df.collect()
    n_docs = spark.read.parquet(f"{sf_correct}/documents.parquet").count()
    assert sum(r.n_copies for r in rows) == n_docs

def test_driver_priority_window():
    """The driver's CORRECTNESS gate checks a 50-query prefix of queries().
    With the full registry hard-verified through round 12, the round-13
    window is: new round-13 additions FIRST, then the regression
    re-verification queue — the 5 TPC-H names round 12's window left
    queued, then the stalest greens by the CORRECTNESS_r* artifacts
    themselves (the r02 cohort) — pin the ordering here."""
    import __spark_entry__ as se
    from mapreduce_c_implementation_spark.registry import (
        _DRIVER_NEW_THIS_ROUND,
        _DRIVER_PRIORITY,
        all_operators,
    )

    names = list(se.queries())
    ops = all_operators()
    # priority names exist, are unique, and lead the queries() ordering
    assert len(_DRIVER_PRIORITY) == len(set(_DRIVER_PRIORITY))
    missing = [n for n in _DRIVER_PRIORITY if n not in ops]
    assert not missing, f"priority names not registered: {missing}"
    assert names[: len(_DRIVER_PRIORITY)] == _DRIVER_PRIORITY
    window = set(names[:50])
    # every new round-13 operator must land inside the verified window
    assert set(_DRIVER_NEW_THIS_ROUND) <= window
    # the regression queue resumes exactly where round 12 stopped
    head = names[len(_DRIVER_NEW_THIS_ROUND):][:4]
    assert head == [
        "tpch_q2_min_cost_supplier",
        "tpch_q9_product_profit",
        "tpch_q11_important_stock",
        "tpch_q16_supplier_counts",
    ]
    # oracle_sql() ordering must mirror queries() so the driver pairs them
    osql = list(se.oracle_sql())
    assert [n for n in names if n in set(osql)] == osql


def test_driver_coverage_ledger():
    """Rotation ledger: every registered operator must reach a driver
    CORRECTNESS row within ceil(N/50) rounds.  Rounds 1-12 verified the
    frozen ``_DRIVER_VERIFIED_PRIOR`` set (union of CORRECTNESS_r01-r12
    key sets; r05 duplicated r04's window).  From round 9 the window is
    new-ops-first plus a regression re-verification queue; the ledger
    invariant becomes: prior + new covers the whole registry, the
    regression queue re-checks only already-verified names, and new
    names never waste a slot on an already-verified operator."""
    import json
    import pathlib

    from mapreduce_c_implementation_spark.registry import (
        _DRIVER_NEW_THIS_ROUND,
        _DRIVER_PRIORITY,
        _DRIVER_REGRESSION,
        _DRIVER_VERIFIED_PRIOR,
        all_operators,
    )

    root = pathlib.Path(__file__).resolve().parents[1]
    actual_prior = set()
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        if f.name in (
            "CORRECTNESS_r01.json", "CORRECTNESS_r02.json",
            "CORRECTNESS_r03.json", "CORRECTNESS_r04.json",
            "CORRECTNESS_r05.json", "CORRECTNESS_r06.json",
            "CORRECTNESS_r07.json", "CORRECTNESS_r08.json",
            "CORRECTNESS_r09.json", "CORRECTNESS_r10.json",
            "CORRECTNESS_r11.json", "CORRECTNESS_r12.json",
        ):
            actual_prior |= set(json.loads(f.read_text()))
    if actual_prior:  # ledger frozen in-code must match the artifacts
        assert actual_prior == set(_DRIVER_VERIFIED_PRIOR)

    ops = set(all_operators())
    new = set(_DRIVER_NEW_THIS_ROUND)
    # new slots must not be wasted on already-verified or ghost names
    assert not (new & _DRIVER_VERIFIED_PRIOR), "new list wastes verified slots"
    assert set(_DRIVER_PRIORITY) <= ops
    # the regression queue re-checks only names with a prior green row
    assert set(_DRIVER_REGRESSION) <= _DRIVER_VERIFIED_PRIOR
    leftover = ops - _DRIVER_VERIFIED_PRIOR - new
    assert not leftover, (
        f"{len(leftover)} operators escaped the rotation: "
        f"{sorted(leftover)[:10]}..."
    )


def test_frame_sample_digest_non_ascii_parity():
    """The frame digest is BYTE-based in both engines (hex-slice route):
    parity must hold for non-ASCII text, not just the ASCII fixture."""
    import hashlib

    import duckdb

    from mapreduce_c_implementation_spark.operators.multimodal import (
        FRAME_BYTES,
        FRAME_STRIDE,
    )

    text = "Ωmélange ÷ 中文テキスト ß " * 37
    data = text.encode()
    frames = [data[o : o + FRAME_BYTES] for o in range(0, len(data), FRAME_BYTES)]
    sampled = frames[::FRAME_STRIDE]
    py_count = len(sampled)
    py_digest = hashlib.md5(
        "".join(f.hex() for f in sampled).encode()
    ).hexdigest()

    con = duckdb.connect()
    n, digest = con.execute(f"""
    SELECT CAST(count(*) AS BIGINT),
           md5(string_agg(chunk_hex, '' ORDER BY i))
    FROM (
      SELECT i, lower(substr(hex(encode(?)),
                             (i - 1) * {2 * FRAME_BYTES} + 1,
                             {2 * FRAME_BYTES})) AS chunk_hex
      FROM unnest(generate_series(
             1, CAST(ceil(octet_length(encode(?)) / {FRAME_BYTES}.0) AS INT),
             {FRAME_STRIDE})) AS t(i)
    )
    """, [text, text]).fetchone()
    assert (n, digest) == (py_count, py_digest)


def test_heavy_hitters_fixture_under_capacity(spark, sf_correct):
    """approx_heavy_hitters' exact-front contract (and its DuckDB oracle)
    holds only while the fixture vocabulary stays under the sketch's
    tracked capacity.  Fixtures regenerate between rounds — this guard
    fails LOUDLY (instead of a silent driver hash mismatch) the day a
    corpus outgrows the sketch (ADVICE r2)."""
    from pyspark.sql import functions as F

    from mapreduce_c_implementation_spark.functions.text import tokenize
    from mapreduce_c_implementation_spark.operators.aggregates import HH_CAPACITY

    docs = spark.read.parquet(f"{sf_correct}/documents.parquet")
    vocab = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("w"))
        .agg(F.count_distinct("w").alias("v"))
        .collect()[0]["v"]
    )
    assert vocab < HH_CAPACITY // 2, (
        f"fixture vocabulary {vocab} is within 2x of the approx_top_k "
        f"capacity {HH_CAPACITY}: approx_heavy_hitters' exact oracle is "
        "about to become approximate — raise HH_CAPACITY or loosen the "
        "oracle to a tolerance verdict"
    )


def test_heavy_hitters_overflow_regime(spark):
    """The sketch path itself, verified ABOVE capacity (verdict r2 item
    5): vocabulary 50x the tracked capacity, 10 planted heavy hitters.
    Misra-Gries-style frequent-items guarantees: reported counts are
    within n_total/capacity of truth, and items with true count >
    n_total/capacity cannot be evicted — the planted front must surface
    with rank order intact."""
    from pyspark.sql import functions as F

    capacity = 100
    n_heavy, heavy_count, n_tail = 10, 2_000, 5_000
    # 10 planted heavies (h00..h09, 2000 each) + 5000 singleton tail ids
    heavies = spark.range(n_heavy * heavy_count).select(
        F.concat(F.lit("h"), F.lpad((F.col("id") % n_heavy).cast("string"), 2, "0")).alias("w")
    )
    tail = spark.range(n_tail).select(
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("w")
    )
    data = heavies.unionAll(tail).repartition(8)
    n_total = n_heavy * heavy_count + n_tail
    err = n_total / capacity  # 250 < heavy_count: heavies can't evict

    sketch = data.agg(F.expr(f"approx_top_k(w, {n_heavy}, {capacity})").alias("tk"))
    got = {
        r["e"]["item"]: r["e"]["count"]
        for r in sketch.select(F.explode("tk").alias("e")).collect()
    }
    expected_front = {f"h{i:02d}" for i in range(n_heavy)}
    assert set(got) == expected_front, f"sketch front {sorted(got)} != planted"
    for w, cnt in got.items():
        assert abs(cnt - heavy_count) <= err, (w, cnt, heavy_count, err)


def test_cc_stars_matches_propagation_and_converges_fast(spark, sf_correct):
    """The star formulation must (a) produce EXACTLY the labels of the
    fixed-round propagation implementation and (b) demonstrate the
    asymptotic point: convergence detected in fewer rounds than
    CC_ROUNDS (the fixture's near-clique components collapse in 2-3
    alternating star rounds)."""
    from mapreduce_c_implementation_spark.operators.dedup import (
        CC_ROUNDS,
        dedup_cc_stars,
    )

    stars = get_operator("dedup_cc_stars").query_fn(spark, sf_correct)
    prop = get_operator("dedup_connected_components").query_fn(spark, sf_correct)
    assert sorted(map(tuple, stars.collect())) == sorted(map(tuple, prop.collect()))
    assert dedup_cc_stars.last_rounds < CC_ROUNDS, dedup_cc_stars.last_rounds


def test_operators_md_in_sync():
    """docs/OPERATORS.md is generated from the registry; it must list
    exactly the registered operators (regenerate with
    scripts/gen_operators_md.py after adding one)."""
    import pathlib
    import re

    from mapreduce_c_implementation_spark.registry import all_operators

    md = (
        pathlib.Path(__file__).resolve().parents[1] / "docs" / "OPERATORS.md"
    ).read_text()
    listed = set(re.findall(r"^\| \d+ \| `([a-z0-9_]+)`", md, re.MULTILINE))
    ops = set(all_operators())
    assert listed == ops, (
        f"docs/OPERATORS.md out of sync: missing={sorted(ops - listed)[:5]} "
        f"stale={sorted(listed - ops)[:5]}"
    )


def test_canonicalize_dedup_finds_groups_at_sf01(spark):
    """sf0.01 has no exact-duplicate documents (0 rows is the correct
    answer there); sf0.1 plants 8 groups — assert the operator finds
    them AND still matches the oracle at that scale, so the op has
    non-trivial evidence somewhere in-repo."""
    from tests.oracle import assert_matches_oracle
    from mapreduce_c_implementation_spark.registry import get_operator

    sf_dir = "/root/testdata/sf0.1"
    df = get_operator("text_canonicalize_dedup").query_fn(spark, sf_dir)
    assert df.count() == 8
    assert_matches_oracle(spark, "text_canonicalize_dedup", sf_dir)


def test_dedup_recall_eval_pins_fixture_calibration(spark, sf_correct):
    """Canary: on the sf0.01 fixture the LSH bands must find all 25
    exact-Jaccard pairs (recall 10000 bp) with 50 candidates
    (precision 5000 bp) — a silent change to shingling, banding, or
    the df cap moves these numbers."""
    from mapreduce_c_implementation_spark.registry import get_operator

    row = get_operator("dedup_recall_eval").query_fn(spark, sf_correct).collect()[0]
    assert (row.n_truth, row.n_lsh, row.n_both) == (25, 50, 25), row
    assert (row.precision_bp, row.recall_bp) == (5000, 10000), row


def test_rfm_and_abc_match_oracle_at_sf01(spark):
    """Scale insurance for the rank-derived quintiles and the
    cumulative-share boundaries: both depend on global total orders,
    where an off-by-one only shows up with enough distinct ranks —
    re-run the differential diff at 10x the default fixture."""
    from tests.oracle import assert_matches_oracle

    for name in ("customer_rfm_segmentation", "part_abc_classification"):
        assert_matches_oracle(spark, name, "/root/testdata/sf0.1")


def test_iterative_ops_detect_convergence_early(spark, sf_correct):
    """Every observe-fused fixpoint loop must record the rounds it used
    and exit BEFORE its round cap on the fixture graphs — the
    detected-convergence guarantee that makes dead rounds free (the
    dedup_cc_stars contract)."""
    from mapreduce_c_implementation_spark.operators import dedup, graph, similarity

    cases = [
        (dedup.dedup_connected_components, dedup.CC_ROUNDS),
        (dedup.entity_resolution_clusters, dedup.CC_ROUNDS),
        (dedup.dedup_cc_stars, dedup.CC_STARS_MAX_ROUNDS),
        (graph.graph_bfs_distances, graph.BFS_ITERS),
        (graph.graph_widest_path_bottleneck, graph.WP_ITERS),
        (graph.graph_kcore_peel_layers, graph.KCORE_ITERS),
        (similarity.dbscan_grid_clusters, similarity.DBSCAN_CC_ROUNDS),
    ]
    propagated = {
        dedup.dedup_connected_components,
        dedup.entity_resolution_clusters,
        graph.graph_bfs_distances,
        graph.graph_widest_path_bottleneck,
        similarity.dbscan_grid_clusters,
    }
    for op, cap in cases:
        op.last_rounds = op.last_converged = op.last_round_rows = None
        op(spark, sf_correct).collect()
        assert isinstance(op.last_rounds, int), op.__name__
        assert op.last_rounds < cap, (op.__name__, op.last_rounds, cap)
        assert op.last_converged is True, op.__name__
        if op in propagated:  # the propagate fixpoints record each round's rows
            assert len(op.last_round_rows) == op.last_rounds, op.__name__
            assert all(n > 0 for n in op.last_round_rows), op.__name__


@pytest.mark.parametrize(
    "name", ["dedup_connected_components", "entity_resolution_clusters"]
)
def test_closure_ops_raise_when_round_bound_is_hit(spark, sf_correct, monkeypatch, name):
    """Transitive closure is the contract, so stopping at the round bound
    while labels still change must fail loudly, naming the operator and
    the bound.  One round can never be a detected fixpoint (the first
    round has nothing to compare against), and sf0.01 has near-dup and
    linkage edges, so round 1 does change labels."""
    from mapreduce_c_implementation_spark.operators import dedup

    monkeypatch.setattr(dedup, "CC_ROUNDS", 1)
    with pytest.raises(RuntimeError, match=rf"{name}: .*CC_ROUNDS=1 rounds"):
        get_operator(name).query_fn(spark, sf_correct)


def test_cdc_chunk_dedup_non_ascii_parity(spark, tmp_path):
    """The CDC chunk digests are BYTE-indexed hex digests in both
    engines: the full Spark-vs-DuckDB differential must hold on a
    non-ASCII corpus (multi-byte chars split by chunk boundaries),
    which the ASCII driver fixture cannot exercise (ADVICE r9)."""
    import shutil

    from tests.oracle import assert_matches_oracle

    src = "/root/testdata/sf0.001"
    fix = tmp_path / "fixture"
    fix.mkdir()
    for f in os.listdir(src):
        if f != "documents.parquet":
            shutil.copy(f"{src}/{f}", fix / f)
    shared = "中文テキスト mélange Ωß÷ shared run of bytes across docs " * 9
    texts = [
        shared + "suffix één",
        "préfix " + shared,
        "unique düplikat-frei Ω" * 11,
        shared + shared,
    ]
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame(
        {
            "doc_id": pd.array(range(len(texts)), dtype="int64"),
            "text": texts,
            "lang": ["xx"] * len(texts),
            "source": [f"src{i}" for i in range(len(texts))],
            "n_chars": pd.array([len(t) for t in texts], dtype="int64"),
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf), fix / "documents.parquet")
    assert_matches_oracle(spark, "multimodal_cdc_chunk_dedup", str(fix))


def test_theil_sen_floor_exact_at_extreme_swings(spark):
    """The sign/abs-split slope floors EXACTLY like Python // for
    arbitrarily large one-day swings in BOTH engines — the additive-
    offset trick it replaced diverged once dy*SCALE < -dx*OFF
    (ADVICE r9)."""
    import duckdb

    from mapreduce_c_implementation_spark.operators.robust_stats import (
        TS_SLOPE_SCALE,
    )

    cases = [
        (-(10**13), 1), (10**13, 1), (-(10**13) - 1, 3), (-7, 3), (7, 3),
        (-1, 7), (0, 5), (-(10**15), 9), (10**15 - 1, 9),
    ]
    expr = (
        f"CASE WHEN dy >= 0 THEN (dy * {TS_SLOPE_SCALE}) {{div}} dx"
        f" ELSE -(((-dy) * {TS_SLOPE_SCALE} + dx - 1) {{div}} dx) END"
    )
    expected = [(dy * TS_SLOPE_SCALE) // dx for dy, dx in cases]
    duck = duckdb.connect().execute(
        "SELECT " + expr.format(div="//") + " FROM (SELECT "
        "unnest(?) AS dy, unnest(?) AS dx)",
        [[c[0] for c in cases], [c[1] for c in cases]],
    ).fetchall()
    assert [r[0] for r in duck] == expected
    sdf = spark.createDataFrame(cases, "dy long, dx long").selectExpr(
        expr.format(div="div") + " AS m"
    )
    assert [r.m for r in sdf.collect()] == expected

"""functions/vector.py: each fold's Spark, DuckDB and numpy renderings
agree bit for bit (compared through ``float.hex``) on seeded random
vectors with ±0.0 and mixed magnitudes, and on NULL and ragged rows.
Also pins the sign-rule facts the rule comments state, and keeps the
operator modules from hand-writing these folds again."""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from mapreduce_c_implementation_spark.functions.vector import (
    EMB_DIM,
    SQL_DOT,
    SQL_SQDIST,
    centroid_rule,
    np_dot,
    np_signed_dots,
    sem_rule,
    spark_dot,
    spark_sign_bucket,
    spark_sqdist,
    sql_sign_bucket,
)
from mapreduce_c_implementation_spark.operators import dedup, similarity

N_RANDOM = 24

# Every rule an operator folds, by family.
RULES = {
    "plane": similarity.PLANES,
    "centroid": similarity.CENTROIDS,
    "sem": similarity.SEM_CENTROIDS,
    "e2": similarity.E2_RULES,
}
# Every sign-bit bucket an operator builds.
BUCKETS = [
    similarity.PLANES,
    similarity.PLANES[: similarity.HN_PLANES],
    *[dedup._band_planes(b) for b in range(dedup.COSINE_BANDS)],
]

# (a, b) rows on which the pairwise folds must be NULL, plus two empties.
RAGGED = [
    (None, [1.0, 1.0]),
    ([1.0, 2.0, 3.0], [1.0, 1.0]),
    ([1.0, 1.0], [1.0, 2.0, 3.0]),
    ([1.0, 1.0], None),
    ([1.0, None], [1.0, 1.0]),
    ([], []),
]


def _vectors(seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    shape = (N_RANDOM, EMB_DIM)
    m = rng.standard_normal(shape) * 10.0 ** rng.integers(-8, 9, shape)
    m[rng.random(shape) < 0.1] = 0.0
    m[rng.random(shape) < 0.1] = -0.0
    return [[float(x) for x in row] for row in m]


def _as_ints(v):
    return None if v is None else [None if x is None else int(x) for x in v]


def _hex(v):
    return None if v is None else float.hex(v)


def _duck(columns: dict[str, pa.Array], exprs: list[str]) -> dict[int, tuple]:
    con = duckdb.connect()
    try:
        con.register("t", pa.table(columns))
        rows = con.execute(f"SELECT id, {', '.join(exprs)} FROM t").fetchall()
    finally:
        con.close()
    return {r[0]: r[1:] for r in rows}


def _pair_rows(vecs: list, ragged: list) -> list[tuple]:
    pairs = [(v, vecs[(n + 1) % len(vecs)]) for n, v in enumerate(vecs)] + ragged
    return [(n, a, b) for n, (a, b) in enumerate(pairs)]


def _pair_columns(rows: list[tuple], elem: pa.DataType) -> dict[str, pa.Array]:
    return {
        "id": pa.array([r[0] for r in rows], pa.int64()),
        "a": pa.array([r[1] for r in rows], pa.list_(elem)),
        "b": pa.array([r[2] for r in rows], pa.list_(elem)),
    }


def _emb_columns(vecs: list) -> dict[str, pa.Array]:
    return {
        "id": pa.array(range(len(vecs)), pa.int64()),
        "emb": pa.array(vecs, pa.list_(pa.float64())),
    }


def test_np_dot_is_null_on_null_and_ragged_rows(spark):
    df = spark.createDataFrame(
        [
            (0, None, [1.0, 1.0]),
            (1, [1.0, 2.0, 3.0], [1.0, 1.0]),
            (2, [1.0, 2.0], [3.0, 4.0]),
        ],
        "id long, a array<double>, b array<double>",
    )
    got = df.select("id", np_dot()(F.col("a"), F.col("b")).alias("d")).collect()
    assert {r.id: r.d for r in got} == {0: None, 1: None, 2: 11.0}


def test_dot_renderings_agree_bit_for_bit(spark):
    rows = _pair_rows(_vectors(1), RAGGED)
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    got = df.select(
        "id",
        spark_dot(F.col("a"), F.col("b")).alias("jvm"),
        np_dot()(F.col("a"), F.col("b")).alias("np"),
    ).collect()
    duck = _duck(_pair_columns(rows, pa.float64()), [SQL_DOT.format(a="a", b="b")])
    assert len(got) == len(rows)
    for r in got:
        assert _hex(r.jvm) == _hex(r.np) == _hex(duck[r.id][0]), r.id
    assert {r.id: r.jvm for r in got if r.id >= N_RANDOM} == {
        N_RANDOM + n: (0.0 if a == [] else None) for n, (a, _) in enumerate(RAGGED)
    }


def test_squared_distance_renderings_agree(spark):
    rng = np.random.default_rng(3)
    ints = rng.integers(-(1 << 22), 1 << 22, (N_RANDOM, EMB_DIM)).tolist()
    rows = _pair_rows(ints, [(_as_ints(a), _as_ints(b)) for a, b in RAGGED])
    df = spark.createDataFrame(rows, "id long, a array<bigint>, b array<bigint>")
    got = df.select("id", spark_sqdist(F.col("a"), F.col("b")).alias("jvm")).collect()
    duck = _duck(_pair_columns(rows, pa.int64()), [SQL_SQDIST.format(a="a", b="b")])
    jvm = {r.id: r.jvm for r in got}
    assert jvm == {n: d[0] for n, d in duck.items()}
    assert jvm[0] == sum((x - y) ** 2 for x, y in zip(ints[0], ints[1]))


def test_sign_rule_dots_and_buckets_agree_bit_for_bit(spark):
    rules = [r for family in RULES.values() for r in family]
    vecs = _vectors(2) + [None, [1.0] * 5 + [None] + [1.0] * (EMB_DIM - 6)]
    rows = list(enumerate(vecs))
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    got = df.select(
        "id",
        np_signed_dots(rules)(F.col("emb")).alias("np"),
        *[r.spark_dot(F.col("emb")).alias(f"d{n}") for n, r in enumerate(rules)],
        *[
            spark_sign_bucket(b, F.col("emb")).alias(f"b{n}")
            for n, b in enumerate(BUCKETS)
        ],
    ).collect()
    duck = _duck(
        _emb_columns(vecs),
        [r.sql_dot("emb") for r in rules]
        + [sql_sign_bucket(b, "emb") for b in BUCKETS],
    )
    assert len(got) == len(rows)
    for row in got:
        twin = row.np if row.np is not None else [None] * len(rules)
        want = duck[row.id]
        for n, rule in enumerate(rules):
            assert _hex(row[f"d{n}"]) == _hex(twin[n]) == _hex(want[n]), (row.id, rule)
        assert [row[f"b{n}"] for n in range(len(BUCKETS))] == list(want[len(rules) :])
    twins = {row.id: row.np for row in got}
    assert twins[len(vecs) - 2] is None  # NULL embedding
    assert twins[len(vecs) - 1] == [None] * len(rules)  # a NULL element nulls every sum


def test_np_signed_dots_is_null_on_short_embedding_like_duckdb(spark):
    # The Spark fold raises on this row under ANSI; the twin and the
    # DuckDB rendering both give NULL.
    rule = similarity.PLANES[0]
    df = spark.createDataFrame([(0, [1.0, 2.0, 3.0])], "id long, emb array<double>")
    assert df.select(np_signed_dots([rule])(F.col("emb"))).first()[0] is None
    assert _duck(_emb_columns([[1.0, 2.0, 3.0]]), [rule.sql_dot("emb")]) == {0: (None,)}


def test_numpy_twins_accept_an_empty_batch(spark):
    empty = pd.Series([], dtype=object)
    assert len(np_dot().func(empty, empty)) == 0
    assert len(np_signed_dots(similarity.PLANES).func(empty)) == 0


def _plus_fractions(rules) -> tuple[int, float, float]:
    signs = np.stack([r.signs() for r in rules])
    frac = (signs > 0).mean(axis=1)
    return len({tuple(s) for s in signs}), round(frac.min(), 2), round(frac.max(), 2)


@pytest.mark.parametrize(
    "family, distinct, lo, hi",
    [("plane", 6, 0.44, 0.45), ("sem", 64, 0.44, 0.59), ("e2", 4, 0.44, 0.47)],
)
def test_sign_rule_facts(family, distinct, lo, hi):
    assert _plus_fractions(RULES[family]) == (distinct, lo, hi)


def test_centroid_rule_facts():
    signs = np.stack([r.signs() for r in similarity.CENTROIDS])
    assert len({tuple(s) for s in signs}) == 8
    assert (signs[6] == 1.0).all()  # multiplier 11 ≡ 0 mod 11
    # periodic in k mod 11: at most 11 distinct centroids
    assert (centroid_rule(2).signs() == centroid_rule(13).signs()).all()


def test_expanded_rules_match_the_original_formulas():
    i = np.arange(1, EMB_DIM + 1)
    for k in range(64):
        ivf = np.where(((i + k) * (k + 5)) % 11 < 5, 1.0, -1.0)
        sem = np.where((i * 125 + k * 114 + i * k * 6) % 127 < 63, 1.0, -1.0)
        assert (centroid_rule(k).signs() == ivf).all(), k
        assert (sem_rule(k).signs() == sem).all(), k


PACKAGE = Path(__file__).resolve().parents[1] / "mapreduce_c_implementation_spark"
OPERATORS = PACKAGE / "operators"
HAND_WRITTEN_FOLDS = {
    "sign-rule CASE": re.compile(r"ELSE\s+-1\.0\s+END"),
    "sign-rule when": re.compile(r"otherwise\(\s*(?:F\.lit\(\s*)?-1\.0"),
    "squared-distance lambda": re.compile(
        r"(\w+),\s*(\w+)\)?\s*(?::|->)\s*\(\1 - \2\)\s*\*\s*\(\1 - \2\)"
    ),
    "squared-distance index": re.compile(
        r"\(([\w.]+)\[i\] - ([\w.]+)\[i\]\)\s*\*\s*\(\1\[i\] - \2\[i\]\)"
    ),
}


def test_operator_modules_do_not_hand_write_similarity_folds():
    hits = []
    for path in sorted(OPERATORS.glob("*.py")):
        text = path.read_text()
        for name, pattern in HAND_WRITTEN_FOLDS.items():
            for m in pattern.finditer(text):
                line = text.count("\n", 0, m.start()) + 1
                hits.append(f"{path.name}:{line}: {name}")
    assert not hits, "use functions/vector.py instead: " + "; ".join(hits)

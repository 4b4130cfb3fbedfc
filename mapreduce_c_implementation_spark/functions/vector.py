"""Cross-engine-exact vector folds shared by the embedding operators.

Each fold is a sequential left fold written once here and rendered for
both engines: DuckDB SQL text for the oracles and a Spark ``Column``
for the operators, plus a numpy twin (an Arrow-batched pandas UDF)
where an operator needs one.  Every rendering adds term i in ascending
order to a typed zero, and numpy elementwise multiply/add are strict
IEEE doubles (no FMA, no reassociation), so the renderings agree bit
for bit.  The three folds:

- **dot**: ``SQL_DOT`` / :func:`spark_dot` / :func:`np_dot`, the double
  sum of ``a[i] * b[i]``;
- **sign-rule dot**: a :class:`SignRule` is the ±1 vector
  ``sign_i = +1 if (i * mult + offset) % mod < cut else -1`` for
  i = 1..EMB_DIM, dotted with one embedding (``rule.sql_dot`` /
  ``rule.spark_dot`` / :func:`np_signed_dots`); a list of rules also
  gives the sign-bit bucket ``sum_j 2^j * [dot_j > 0]``
  (:func:`sql_sign_bucket` / :func:`spark_sign_bucket`);
- **integer squared distance**: ``SQL_SQDIST`` / :func:`spark_sqdist`,
  the BIGINT sum of ``(a[i] - b[i])^2``.

NULL contract of the pairwise folds (dot, squared distance): the result
is NULL when either array is NULL, when the widths differ (Spark's
``zip_with`` pads the shorter side with NULL) or when any element is
NULL; two empty arrays fold to 0.  A sign-rule dot reads the first
EMB_DIM elements, so it is NULL when the embedding or one of those
elements is NULL.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Width of the fixture's embedding column: a sign rule folds over its
# first EMB_DIM elements.
EMB_DIM = 64


def _sql_pair_fold(zero: str, term: str) -> str:
    return (
        "(CASE WHEN len({a}) = len({b}) THEN "
        f"list_reduce(list_prepend({zero}, "
        f"list_transform(generate_series(1, len({{a}})), i -> {term})), "
        "(acc, x) -> acc + x) END)"
    )


def _spark_pair_fold(a: Column, b: Column, term, zero: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, term), zero, lambda acc, x: acc + x)


# DuckDB renderings; format with a=<list expr>, b=<list expr>.
SQL_DOT = _sql_pair_fold(
    "CAST(0 AS DOUBLE)", "CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)"
)
SQL_SQDIST = _sql_pair_fold(
    "CAST(0 AS BIGINT)", "({a}[i] - {b}[i]) * ({a}[i] - {b}[i])"
)


def spark_dot(a: Column, b: Column) -> Column:
    return _spark_pair_fold(
        a, b, lambda x, y: x.cast("double") * y.cast("double"), F.lit(0.0)
    )


def spark_sqdist(a: Column, b: Column) -> Column:
    """Integer squared distance of two ``array<bigint>`` columns."""
    return _spark_pair_fold(a, b, lambda x, y: (x - y) * (x - y), F.lit(0).cast("long"))


def np_dot():
    """Numpy twin of :func:`spark_dot`: an Arrow-batched pandas UDF that
    adds term i = a[i] * b[i] in the fold's ascending order from 0.0.
    Rows are grouped by width and each group runs the same loop; rows
    outside every group (a NULL array or unequal widths) stay NaN, which
    leaves the UDF as NULL, and so does a NULL element.

    Returns a fresh UDF object per call so callers in different
    operators don't share Catalyst expression state."""

    @F.pandas_udf("double")
    def dot(a: pd.Series, b: pd.Series) -> pd.Series:
        width = np.array(
            [
                len(x) if x is not None and y is not None and len(x) == len(y) else -1
                for x, y in zip(a, b)
            ]
        )
        out = np.full(len(a), np.nan)
        for w in np.unique(width[width >= 0]):
            rows = np.flatnonzero(width == w)
            ma = np.stack(a.iloc[rows].to_numpy()).astype(np.float64, copy=False)
            mb = np.stack(b.iloc[rows].to_numpy()).astype(np.float64, copy=False)
            acc = np.zeros(len(rows))
            for i in range(w):  # fold order: i ascending, acc + term
                acc = acc + ma[:, i] * mb[:, i]
            out[rows] = acc
        return pd.Series(out)

    return dot


class SignRule(NamedTuple):
    """``sign_i = +1 if (i * mult + offset) % mod < cut else -1``, i = 1..EMB_DIM."""

    mult: int
    offset: int
    mod: int
    cut: int

    def signs(self) -> np.ndarray:
        i = np.arange(1, EMB_DIM + 1)
        return np.where((i * self.mult + self.offset) % self.mod < self.cut, 1.0, -1.0)

    def sql_dot(self, emb: str) -> str:
        return (
            "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(generate_series(1, {EMB_DIM}), "
            f"i -> (CASE WHEN (i * {self.mult} + {self.offset}) % {self.mod} "
            f"< {self.cut} "
            f"THEN 1.0 ELSE -1.0 END) * CAST({emb}[i] AS DOUBLE))), "
            "(acc, x) -> acc + x)"
        )

    def spark_dot(self, emb: Column) -> Column:
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.lit(EMB_DIM)),
                lambda i: F.when(
                    (i * self.mult + self.offset) % self.mod < self.cut, F.lit(1.0)
                ).otherwise(F.lit(-1.0))
                * F.element_at(emb, i).cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )


# LSH hyperplanes (cosine sign-bit buckets).  Modulus 11: multipliers
# j+3 for j in 0..5 are all nonzero and distinct mod 11, giving 6
# distinct balanced hyperplanes (+1 fraction 0.44-0.45).  The earlier
# mod-7 form degenerated at j=4 (multiplier 7 ≡ 0 mod 7 -> an all-ones
# plane, wasting one sign bit).
def plane_rule(j: int) -> SignRule:
    return SignRule(j + 3, 0, 11, 5)


# IVF centroids: the rule ((i + k) * (k + 5)) % 11 < 5, expanded.  It is
# periodic in k mod 11, so at most 11 centroids are distinct; the 8 IVF
# cells get 8 distinct patterns, but centroid k=6 is all +1 (multiplier
# 11 ≡ 0 mod 11: the degeneracy the plane comment warns about for mod
# 7).  Left as is: changing it would change every IVF oracle result.
def centroid_rule(k: int) -> SignRule:
    return SignRule(k + 5, k * (k + 5), 11, 5)


# SemDeDup centroids: a finer quantizer needs its OWN rule, because the
# IVF rule collapses to 11 distinct centroids, a silent collapse at 64
# cells.  This one, (i * 125 + k * 114 + i * k * 6) % 127 < 63
# expanded, gives 64 distinct patterns with +1 fraction 0.44-0.59.
def sem_rule(k: int) -> SignRule:
    return SignRule(125 + 6 * k, 114 * k, 127, 63)


# E2LSH projection lines: modulus 17 with multipliers j+13 (all nonzero,
# distinct mod 17; +1 fraction 8/17 per period, 0.44-0.47 over 64
# dims), disjoint from the mod-11 cosine family.
def e2_rule(j: int) -> SignRule:
    return SignRule(j + 13, 0, 17, 8)


def sql_sign_bucket(rules: list[SignRule], emb: str) -> str:
    bits = " + ".join(
        f"(CASE WHEN {r.sql_dot(emb)} > 0 THEN {1 << j} ELSE 0 END)"
        for j, r in enumerate(rules)
    )
    return f"CAST({bits} AS BIGINT)"


def spark_sign_bucket(rules: list[SignRule], emb: Column) -> Column:
    bucket = None
    for j, r in enumerate(rules):
        bit = F.when(r.spark_dot(emb) > 0, 1 << j).otherwise(0)
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("long")


def np_signed_dots(rules: list[SignRule]):
    """Numpy twin of ``[r.spark_dot(emb) for r in rules]``: one
    Arrow-batched pandas UDF returns every raw sum for a batch as an
    ``array<double>``, adding term i = sign_i * emb[i] for i = 1..EMB_DIM
    in the fold's order.  A NULL element makes its row's sums NULL, like
    the fold; a NULL embedding or one shorter than EMB_DIM gives a NULL
    array, like the DuckDB rendering (the Spark fold raises on a short
    embedding under ANSI)."""
    signs = np.stack([r.signs() for r in rules])  # (rules, EMB_DIM)

    @F.pandas_udf("array<double>")
    def dots(emb: pd.Series) -> pd.Series:
        rows = [n for n, v in enumerate(emb) if v is not None and len(v) >= EMB_DIM]
        out = [None] * len(emb)
        if rows:
            m = np.stack([emb.iloc[n][:EMB_DIM] for n in rows])
            m = m.astype(np.float64, copy=False)
            acc = np.zeros((len(rows), len(signs)))
            for i in range(EMB_DIM):  # fold order: i ascending, acc + term
                acc = acc + m[:, i : i + 1] * signs[:, i]
            for n, sums in zip(rows, acc):
                out[n] = sums
        return pd.Series(out)

    return dots

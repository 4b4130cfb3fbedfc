"""functions/iterate.py on tiny in-memory inputs, no fixture.

A path 0 - 1 - ... - L carries min-label 0 one hop per round: L rounds
to reach node L, plus one round that changes nothing and is detected.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_c_implementation_spark.functions.iterate import (
    checkpoint_observed,
    propagate,
)

L = 4


def _chain(spark):
    pairs = [(i, i + 1) for i in range(L)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "a long, b long"
    )
    labels = spark.createDataFrame(
        [(i, i) for i in range(L + 1)], "node long, lab long"
    )

    def relax(lab):
        return edges.join(lab, edges.a == lab.node).select(
            F.col("b").alias("node"), "lab"
        )

    return labels, relax


def test_propagate_chain_converges_after_length_plus_one_rounds(spark):
    labels, relax = _chain(spark)
    out, rounds, converged = propagate(labels, relax, "node", "lab", F.min, 2 * L)
    assert rounds == L + 1
    assert converged is True
    assert sorted(map(tuple, out.collect())) == [(i, 0) for i in range(L + 1)]


@pytest.mark.parametrize("max_rounds", [1, L])
def test_propagate_reports_bound_hit_while_changing(spark, max_rounds):
    labels, relax = _chain(spark)
    out, rounds, converged = propagate(
        labels, relax, "node", "lab", F.min, max_rounds
    )
    assert rounds == max_rounds
    assert converged is False
    assert sorted(map(tuple, out.collect())) == [
        (i, max(0, i - max_rounds)) for i in range(L + 1)
    ]


def test_checkpoint_observed_returns_metrics_of_the_same_pass(spark):
    df, got = checkpoint_observed(
        spark.range(5), F.count(F.lit(1)).alias("n"), F.sum("id").alias("s")
    )
    assert (got["n"], got["s"]) == (5, 10)
    assert sorted(r.id for r in df.collect()) == [0, 1, 2, 3, 4]

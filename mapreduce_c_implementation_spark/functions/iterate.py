"""Observe-fused fixpoint iteration for the iterative operators.

Each round is ONE Spark job: an eager ``localCheckpoint`` materializes
the round's state, and the convergence probe rides that same job via
``DataFrame.observe``.  The checkpoint also keeps the loop linear: a
recurrence that references the previous state twice (bare and joined)
would otherwise double its plan every round.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, Row
from pyspark.sql import functions as F


def checkpoint_observed(df: DataFrame, *metrics: Column) -> tuple[DataFrame, Row]:
    """Materialize ``df`` as an eager local checkpoint and return it with
    the ``metrics`` (named aggregate columns) computed over the SAME pass.

    Invariant: ``Observation.get`` blocks until an action has executed
    the observed plan.  The eager checkpoint is that action; under a
    lazy one ``get`` would wait forever, so ``eager=True`` is spelled
    out rather than left to the default.
    """
    obs = Observation()
    out = df.observe(obs, *metrics).localCheckpoint(eager=True)
    return out, obs.get


def record_rounds(
    op: Callable, rounds: int, converged: bool, closure_bound: str | None = None
) -> None:
    """Set ``op.last_rounds`` / ``op.last_converged``.  ``closure_bound``
    (e.g. ``"CC_ROUNDS=8"``) marks a transitive-closure contract: stopping
    there while still changing would return a partial closure, so raise.
    """
    op.last_rounds, op.last_converged = rounds, converged
    if closure_bound is not None and not converged:
        raise RuntimeError(
            f"{op.__name__}: still changing after {closure_bound} rounds"
        )


def propagate(
    state: DataFrame,
    relax: Callable[[DataFrame], DataFrame],
    key: str,
    value: str,
    agg: Callable[[str], Column],
    max_rounds: int,
) -> tuple[DataFrame, int, bool]:
    """Monotone label propagation: each round checkpoints
    ``state ∪ relax(state)`` (both ``(key, value)``) reduced by
    ``agg(value)`` (``F.min`` / ``F.max``) per ``key``, observing its
    ``(count, sum(value))`` signature.  Keys are only added and values
    only move one way, so a repeated signature means the round changed
    nothing and every longer unroll gives the same state.  Returns
    ``(state, rounds, converged)``; ``rounds`` includes that no-change
    round, and ``converged`` is False when ``max_rounds`` ran out first.
    """
    prev = None
    for rounds in range(1, max_rounds + 1):
        state, got = checkpoint_observed(
            state.union(relax(state)).groupBy(key).agg(agg(value).alias(value)),
            F.count(F.lit(1)).alias("n"),
            F.sum(value).alias("s"),
        )
        sig = (got["n"], got["s"])
        if sig == prev:
            return state, rounds, True
        prev = sig
    return state, max_rounds, False

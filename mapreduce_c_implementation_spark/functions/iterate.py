"""The round loop of the iterative operators.

``fixed_rounds`` is the one place a round's state is materialized: an
eager ``localCheckpoint`` per round, with the round's row count (and a
caller's convergence probe) riding that same job via
``DataFrame.observe``.  The checkpoint also keeps the loop linear: a
recurrence that references the previous state twice (bare and joined)
would otherwise double its plan every round.  At a billion rows the
same loop holds with the checkpoint on reliable storage.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def checkpoint_observed(df: DataFrame, *metrics: Column) -> tuple[DataFrame, dict]:
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


def fixed_rounds(
    op: Callable,
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    *metrics: Column,
    until: Callable[[dict], bool] | None = None,
) -> DataFrame:
    """Run ``state = step(state, k)`` for k = 1..``rounds``, materializing
    each round's state through ``checkpoint_observed``, and return the
    last state; only the current round's state stays referenced, so a
    replaced one can be cleaned up.  An operator that reports a per-round
    trace keeps it in the state.  Each round observes its row count
    ``n`` and the extra ``metrics``; ``until(observed)`` ends the loop
    after a round whose observation it accepts.  Sets
    ``op.last_rounds`` and ``op.last_round_rows`` (one row count per
    round run).
    """
    rows = []
    for k in range(1, rounds + 1):
        state, got = checkpoint_observed(
            step(state, k), F.count(F.lit(1)).alias("n"), *metrics
        )
        rows.append(got["n"])
        if until is not None and until(got):
            break
    op.last_rounds, op.last_round_rows = len(rows), rows
    return state


def propagate(
    op: Callable,
    state: DataFrame,
    relax: Callable[[DataFrame], DataFrame],
    key: str,
    value: str,
    agg: Callable[[str], Column],
    max_rounds: int,
    closure_bound: str | None = None,
) -> DataFrame:
    """Monotone label propagation for ``op``: each ``fixed_rounds`` round
    checkpoints ``state ∪ relax(state)`` (both ``(key, value)``) reduced
    by ``agg(value)`` (``F.min`` / ``F.max``) per ``key``, observing its
    ``(count, sum(value))`` signature.  Keys are only added and values
    only move one way, so a repeated signature means the round changed
    nothing and every longer unroll gives the same state.  Returns the
    state and records the rounds through ``record_rounds`` (with
    ``closure_bound``): they include that no-change round, and
    ``op.last_converged`` is False when ``max_rounds`` ran out first.
    """
    sigs: list[dict] = []

    def repeated(got: dict) -> bool:
        sigs.append(got)
        return sigs[-2:-1] == [got]

    state = fixed_rounds(
        op,
        state,
        lambda s, _: s.union(relax(s)).groupBy(key).agg(agg(value).alias(value)),
        max_rounds,
        F.sum(value).alias("s"),
        until=repeated,
    )
    record_rounds(op, len(sigs), sigs[-2:-1] == sigs[-1:], closure_bound)
    return state

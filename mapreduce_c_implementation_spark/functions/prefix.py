"""Two-pass distributed global rank / running sum (the prefix-sum pattern
of "MapReduce Algorithms for Big Data Analysis", VLDB 2012).

A global ``row_number()`` or running ``sum()`` over one unpartitioned
window compiles to ``Exchange SinglePartition``: every row through one
task.  Instead, rows carry an order-preserving range bucket; pass one
ranks / accumulates WITHIN each bucket (a keyed window, hash-partitioned
on the bucket), pass two turns the bucket-grain subtotals into a tiny
exclusive prefix table that broadcasts back.  The result is
bit-identical to the textbook global window: ranks and integer sums are
associative, and bucket order IS rank order.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def running_by_bucket(
    df: DataFrame, bucket: str, order: Sequence[str], **values: Column | None
) -> DataFrame:
    """``df`` plus, per ``name=value``, the global INCLUSIVE running sum
    of ``value`` in ``(bucket, *order)`` order as column ``name``
    (``name=None``: the global 1-based ``row_number`` rank) and its
    grand total as ``name_total``.

    Precondition: ``bucket`` is an already-materialised column that is a
    non-decreasing function of ``order`` — every tie lands in one bucket
    and bucket order is rank order.  ``order`` must make the order total
    inside a bucket for the result to be deterministic.

    The only SinglePartition exchange is the bucket-grain prefix table
    (one row per bucket); the totals ride its window pass and Catalyst
    prunes the ones a caller never reads.  An exclusive sum is
    ``name - value``; a descending order ranks on a negated column.
    """
    w_in = Window.partitionBy(bucket).orderBy(*order)
    w_run = w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_b = Window.orderBy(bucket)
    before = w_b.rowsBetween(Window.unboundedPreceding, -1)
    whole = w_b.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    local, subtotals, prefix, out = [], [], [bucket], []
    for name, v in values.items():
        in_b, sub, off = f"_{name}_in", f"_{name}_b", f"_{name}_off"
        if v is None:
            local.append(F.row_number().over(w_in).alias(in_b))
            subtotals.append(F.count("*").alias(sub))
        else:
            local.append(F.sum(v).over(w_run).alias(in_b))
            subtotals.append(F.sum(v).alias(sub))
        prefix += [
            F.coalesce(F.sum(sub).over(before), F.lit(0)).alias(off),
            F.sum(sub).over(whole).alias(f"{name}_total"),
        ]
        out += [(F.col(off) + F.col(in_b)).alias(name), f"{name}_total"]
    offsets = df.groupBy(bucket).agg(*subtotals).select(*prefix)
    return (
        df.select("*", *local)
        .join(F.broadcast(offsets), bucket)
        .select(*df.columns, *out)
    )


def range_id(col: Column, cuts: Sequence[float]) -> Column:
    """Order-preserving range id of ``col``: the number of ``cuts``
    (e.g. ``approxQuantile`` cut points) at or below the value — a
    deterministic codegen'd function of the value, so every consumer
    branch agrees on it (a ``repartitionByRange`` + ``spark_partition_id``
    id would depend on boundary sampling).

    A flat sum of comparisons, NOT an ``F.aggregate`` lambda: a
    higher-order function inside a grouping expression trips Catalyst
    attribute binding on a plain session.
    """
    return sum((F.when(col >= float(c), 1).otherwise(0) for c in cuts), F.lit(0))

"""sources/tables.py::local_frame: driver-side rows become a JVM local
relation (``LocalTableScan``), never a ``Scan ExistingRDD`` over a
Python ``map``, so building or collecting such a frame starts no Python
worker.  Also keeps the package from calling ``createDataFrame`` on
Python rows again."""

from __future__ import annotations

import ast
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql.types import StructType

from mapreduce_c_implementation_spark.plans.inspect import physical_plan
from mapreduce_c_implementation_spark.registry import get_operator
from mapreduce_c_implementation_spark.sources.tables import local_frame

PKG = Path(__file__).resolve().parent.parent / "mapreduce_c_implementation_spark"

MIXED_DDL = (
    "name string, n long, x double, ok boolean, amt decimal(18,6), "
    "v array<double>"
)
MIXED_ROWS = [
    ("a", 1, 0.5, True, Decimal("1.250000"), [1.0, None, -0.0]),
    (None, None, None, None, None, None),
    ("", -(2**63), float("inf"), False, Decimal("-0.000001"), []),
]


@pytest.mark.parametrize("rows", [MIXED_ROWS, []], ids=["mixed_nulls", "empty"])
def test_local_frame_is_a_local_relation(spark, rows):
    df = local_frame(spark, rows, MIXED_DDL)
    plan = physical_plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    assert df.schema == StructType.fromDDL(MIXED_DDL)
    assert [tuple(r) for r in df.collect()] == rows


def test_no_create_dataframe_on_python_rows():
    """In the package (operators/, sources/, streaming/, ...) the one
    ``createDataFrame`` call is local_frame's own, over an Arrow table."""
    calls, allowed = [], set()
    for path in sorted(PKG.rglob("*.py")):
        where = str(path.relative_to(PKG))
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed |= {
                    (where, n) for n in range(node.lineno, node.end_lineno + 1)
                }
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                calls.append((where, node.lineno))
    assert len(calls) == 1 and set(calls) <= allowed, calls


# Operators whose result (or, for the blocklist, a join input) is built
# from driver-side rows.
PORTED = [
    "index_snapshot_vacuum",
    "index_delete_propagation",
    "observed_metrics_pipeline",
    "parquet_agg_pushdown_stats",
    "runtime_bloom_filter_join",
    "url_blocklist_filter",
]


@pytest.mark.parametrize("name", PORTED)
def test_ported_operator_plans_no_existing_rdd(spark, sf_smoke, name):
    plan = physical_plan(get_operator(name).query_fn(spark, sf_smoke))
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan

"""sources/tables.py::save_bucketed, the package's one writer of bucketed,
key-sorted warehouse tables: the bucket spec it records, overwrite and
append semantics, an overwrite over an orphaned warehouse directory, and
a gate that keeps every other module from writing such tables by hand."""

from __future__ import annotations

import ast
from pathlib import Path

from pyspark.sql import functions as F

from mapreduce_c_implementation_spark.sources.tables import (
    _warehouse_dir,
    drop_tables,
    save_bucketed,
)

PKG = Path(__file__).resolve().parent.parent / "mapreduce_c_implementation_spark"


def _frame(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"), F.md5(F.col("id").cast("string")).alias("k")
    )


def _describe(spark, tbl: str) -> dict:
    return {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
    }


def test_save_bucketed_records_bucket_spec_and_overwrites(spark):
    tbl = "b_tables_spec"
    try:
        save_bucketed(spark, _frame(spark, 0, 100), tbl, "k", 4)
        meta = _describe(spark, tbl)
        assert meta["Num Buckets"] == "4", meta
        assert meta["Bucket Columns"] == "[`k`]", meta
        assert meta["Sort Columns"] == "[`k`]", meta
        assert spark.table(tbl).count() == 100

        save_bucketed(spark, _frame(spark, 500, 530), tbl, "k", 4)
        got = sorted(r.doc_id for r in spark.table(tbl).collect())
        assert got == list(range(500, 530))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_save_bucketed_append_is_visible_to_next_read(spark):
    tbl = "b_tables_append"
    try:
        save_bucketed(spark, _frame(spark, 0, 50), tbl, "k", 4)
        assert spark.table(tbl).count() == 50  # caches the file listing
        save_bucketed(spark, _frame(spark, 50, 80), tbl, "k", 4, mode="append")
        assert spark.table(tbl).count() == 80
        assert _describe(spark, tbl)["Num Buckets"] == "4"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_sscrr_compact_over_orphaned_location(spark):
    """A killed run can leave a generation table's directory in the
    warehouse with no catalog entry (the catalog is in-memory).  The
    compaction's overwrite must clear it instead of failing with
    LOCATION_ALREADY_EXISTS."""
    from mapreduce_c_implementation_spark.streaming.queries import (
        SSCR_BUCKETS,
        _sscrr_compact,
    )

    src, dest = "b_sscrr_orphan_src", "b_sscrr_orphan_gen"
    for t in (src, dest):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        rows = spark.range(60).select(
            F.col("id").alias("base_doc"),
            F.md5(F.col("id").cast("string")).alias("win_hash"),
        )
        save_bucketed(spark, rows, src, "win_hash", SSCR_BUCKETS)
        orphan = f"{_warehouse_dir(spark)}/{dest}"
        rows.limit(5).write.mode("overwrite").parquet(orphan)
        assert not spark.catalog.tableExists(dest)
        assert any(Path(orphan).glob("part-*"))

        _sscrr_compact(spark, [src], dest)
        got = sorted((r.base_doc, r.win_hash) for r in spark.table(dest).collect())
        assert got == sorted((r.base_doc, r.win_hash) for r in rows.collect())
    finally:
        for t in (src, dest):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_drop_tables_runs_no_jobs(spark):
    """drop_tables lists the catalog without a Spark job, drops exactly
    the tables that match the prefix, and removes their directories."""
    keep = "b_droptest_keep"
    gone = ["b_droptest_x_one", "b_droptest_x_two"]
    try:
        for t in [keep, *gone]:
            save_bucketed(spark, _frame(spark, 0, 10), t, "k", 2)
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        jobs = dag.numTotalJobs()
        drop_tables(spark, "b_droptest_x_")
        assert dag.numTotalJobs() - jobs == 0
        assert [spark.catalog.tableExists(t) for t in [keep, *gone]] == [
            True, False, False,
        ]  # fmt: skip
        warehouse = Path(_warehouse_dir(spark))
        assert (warehouse / keep).is_dir()
        assert not any((warehouse / t).exists() for t in gone)
    finally:
        for t in [keep, *gone]:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def _gated(node: ast.AST) -> str | None:
    """What a hand-written warehouse-table write looks like in code."""
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        if node.func.attr in ("bucketBy", "saveAsTable"):
            return node.func.attr
    if isinstance(node, ast.Constant) and node.value == "spark.sql.warehouse.dir":
        return "spark.sql.warehouse.dir"
    if (
        isinstance(node, ast.Subscript)
        and isinstance(node.value, ast.Call)
        and isinstance(node.value.func, ast.Attribute)
        and node.value.func.attr == "hexdigest"
        and isinstance(node.slice, ast.Slice)
        and node.slice.lower is None
        and isinstance(node.slice.upper, ast.Constant)
        and node.slice.upper.value == 8
    ):
        return "hexdigest()[:8]"
    return None


def test_warehouse_tables_are_written_only_in_tables_module():
    """Outside sources/tables.py the package neither writes a bucketed
    table, nor reads the warehouse location, nor derives a table tag:
    save_bucketed, drop_tables and path_tag do.  Docstrings may still
    name the calls; only code counts."""
    hits, counted = [], 0
    for path in sorted(PKG.rglob("*.py")):
        where = str(path.relative_to(PKG))
        for node in ast.walk(ast.parse(path.read_text())):
            what = _gated(node)
            if what is None:
                continue
            counted += 1
            if where != "sources/tables.py":
                hits.append((where, node.lineno, what))
    assert counted >= 4, "the gate no longer sees tables.py's own writer"
    assert hits == [], hits

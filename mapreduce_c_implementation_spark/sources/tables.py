"""Parquet table loaders over the driver-generated fixtures.

The reference's only source is local text files split into 256 KB
record-boundary-safe chunks (/root/reference/src/reader_queue.c:180-337).
Spark's file sources supply all of that (split planning, boundary safety,
parallel reads) via ``spark.read``; chunk size is the
``spark.sql.files.maxPartitionBytes`` config, not code.

At 100 TB these parquet reads are the scan layer: column pruning and
predicate pushdown happen because every operator selects/filters on the
DataFrame before any wide transform — assert via plans.scan_pushdown.

The module is also the package's one warehouse-table writer.
``save_bucketed`` creates or appends a bucketed, key-sorted catalog
table (the persisted, key-partitioned index the maintenance and
streaming-screen operators probe without an index-side shuffle);
``path_tag`` scopes such a table's name to a fixture dir or state root;
``drop_tables`` reclaims a family of them.  Only here is
``spark.sql.warehouse.dir`` read.
"""

from __future__ import annotations

import glob
import hashlib
import shutil
from typing import Sequence
from urllib.parse import urlparse
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Driver star schema + event stream + LLM-pipeline tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Per-session memo of resolved reader DataFrames (r13).  Every
# `spark.read.parquet` call re-lists the path and re-reads a footer for
# schema inference — ~100-160 ms of DRIVER-side planning per call, paid
# by every operator and 10x by register_views (~1.4 s measured).  A
# DataFrame is a lazy plan: memoizing it caches catalog METADATA only
# (the same thing a real catalog table or the guide §6 file-listing
# cache provides) — every execution still scans the parquet files, so
# nothing about results or intermediates persists.  Keyed weakly by the
# SparkSession (tests/driver build several) and by sf_dir; the fixture
# tables are immutable for a session's lifetime, which is what makes
# the listing reusable.
_READER_MEMO: WeakKeyDictionary = WeakKeyDictionary()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    try:
        per_session = _READER_MEMO.setdefault(spark, {})
        df = per_session.get((sf_dir, name))
        if df is not None:
            return df
    except TypeError:  # non-weakref-able session stub (tests)
        per_session = None
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS); with
        # spark.sql.legacy.parquet.nanosAsLong it arrives as long ns.
        # The fixture is µs-aligned (verified: epoch_ns % 1000 == 0), so
        # integer-dividing to µs is lossless.
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # `div` = integer division — float division would lose ulps
            # at 1e18-scale nanosecond values (> 2^53).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if per_session is not None:
        per_session[(sf_dir, name)] = df
    return df


# A single input file below this size executes its narrow stages fast
# enough on one core that a repartition shuffle + extra stage costs more
# than the parallelism buys (measured on the fixtures: repartitioning
# sub-MB scans REGRESSED the bench ~2x from per-query planning + task
# overhead).  Above it, unlocking full-width execution dominates.
PARALLELIZE_SCAN_MIN_BYTES = 32 * 1024 * 1024


def parallel_scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """load_table + guaranteed scan parallelism for LARGE single files.

    A big table that arrives as one unsplittable file (single parquet
    row group) yields one input partition, so every narrow stage
    (tokenize/explode/shingle/mapInPandas) runs on a single core.  For
    such inputs a round-robin repartition to core count is a cheap
    shuffle of the raw rows that unlocks full-width execution.  File
    size is checked driver-side (os.path.getsize — no job, no .rdd
    planning); a properly laid-out 100 TB table already scans as
    thousands of partitions and this is a no-op either way.
    """
    import os

    df = load_table(spark, sf_dir, name)
    try:
        size = os.path.getsize(f"{sf_dir}/{name}.parquet")
    except OSError:
        return df
    max_part = _parse_bytes_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    est_partitions = max(1, -(-size // max_part))  # ceil
    target = spark.sparkContext.defaultParallelism
    if size >= PARALLELIZE_SCAN_MIN_BYTES and est_partitions < target:
        df = df.repartition(target)
    return df


def compute_scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """load_table + guaranteed parallelism for COMPUTE-BOUND narrow maps
    (higher-order-function folds, heavy regex, mapInPandas batches).

    parallel_scan's 32 MB gate is tuned for I/O-shaped work, where
    repartitioning a sub-MB scan costs more than it buys.  When per-row
    CPU dominates — a 64-cell x 64-dim scoring fold is ~4k arithmetic
    ops per row — a single-file scan serializes the whole operator on
    one core and the round-robin shuffle of the raw rows is noise by
    comparison (measured: semdedup's scoring pass 13.6 s on one
    partition, sub-second across 32).  At 100 TB a real table already
    scans as thousands of splits and this is a no-op; the guard exists
    for exactly the small-single-file layout the fixtures have.
    """
    df = load_table(spark, sf_dir, name)
    import os

    try:
        size = os.path.getsize(f"{sf_dir}/{name}.parquet")
    except OSError:
        return df
    max_part = _parse_bytes_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    est_partitions = max(1, -(-size // max_part))  # ceil
    target = spark.sparkContext.defaultParallelism
    if est_partitions < target:
        df = df.repartition(target)
    return df


def _parse_bytes_conf(value: str) -> int:
    """Spark size confs accept human-readable suffixes (128m, 1g, 64MB)."""
    v = value.strip().lower().removesuffix("b")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if v and v[-1] in units:
        return int(float(v[:-1]) * units[v[-1]])
    try:
        return int(v)
    except ValueError:
        return 128 * 1024 * 1024


def table_location(spark: SparkSession, tbl: str) -> str:
    """Filesystem path of a catalog table, resolved from the CATALOG
    (``DESCRIBE TABLE EXTENDED``) rather than string-built from
    ``spark.sql.warehouse.dir`` — the conf may be unset (the built path
    would degenerate to ``/<tbl>``) or simply not be where a given
    table lives (external tables, non-default layouts).  Used by the
    maintenance ops that must read a bucketed table's FILES by path
    (see index_bucket_compaction: a catalog read satisfies the bucketed
    write's clustering requirement per-file and elides the re-cluster).
    Raises if the table has no resolvable location — failing fast beats
    scanning a wrong directory."""
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect():
        if r.col_name == "Location":
            return urlparse(r.data_type).path
    raise ValueError(f"no Location in catalog metadata for table {tbl!r}")


def path_tag(s: str) -> str:
    """The 8-hex-digit md5 tag that scopes a persisted table's name to
    ``s`` (a fixture dir or a state root)."""
    return hashlib.md5(s.encode()).hexdigest()[:8]


def _warehouse_dir(spark: SparkSession) -> str:
    """Filesystem path of the managed-table warehouse ('' if unset)."""
    return urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path


def save_bucketed(
    spark: SparkSession,
    df: DataFrame,
    tbl: str,
    key: str,
    buckets: int,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as catalog table ``tbl`` in ``buckets`` buckets on
    ``key``, sorted by ``key``.

    ``mode="overwrite"`` first drops ``tbl`` and removes any orphaned
    warehouse directory of that name (a managed table whose in-memory
    catalog entry died with an earlier session), which ``saveAsTable``
    would otherwise refuse with ``LOCATION_ALREADY_EXISTS``.  Because
    the old table is gone before the write starts, ``df`` must not read
    ``tbl``: write each version under a new name.  ``mode="append"``
    adds files to the existing buckets, then refreshes ``spark``'s
    cached listing so the next read sees them.  ``spark`` is the
    session that reads the table afterwards, which inside
    ``foreachBatch`` is not ``df``'s micro-batch session.

    The write never repartitions: callers that want one file per
    bucket pass ``df.repartition(buckets, key)``; a narrow rewrite of a
    bucketed table (a broadcast anti-join) computes bucket ids in-task
    and needs no shuffle."""
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        warehouse = _warehouse_dir(spark)
        if warehouse:
            shutil.rmtree(f"{warehouse}/{tbl}", ignore_errors=True)
    (
        df.write.bucketBy(buckets, key)
        .sortBy(key)
        .mode(mode)
        .format("parquet")
        .saveAsTable(tbl)
    )
    if mode == "append":
        spark.catalog.refreshTable(tbl)


def drop_tables(spark: SparkSession, prefix: str) -> None:
    """Drop every catalog table named ``prefix*`` and remove the
    orphaned warehouse directories of such names.  Tables are listed
    through the JVM session catalog, which reads catalog metadata only:
    PySpark's ``catalog.listTables`` runs Spark jobs to build its rows.
    The catalog's pattern is a case-insensitive regex with ``*`` as the
    wildcard, so the exact prefix test stays."""
    catalog = spark._jsparkSession.sessionState().catalog()
    found = catalog.listTables(catalog.getCurrentDatabase(), f"{prefix}*")
    for name in [found.apply(i).table() for i in range(found.size())]:
        if name.startswith(prefix):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = _warehouse_dir(spark)
    if warehouse:
        for d in glob.glob(f"{warehouse}/{prefix}*"):
            shutil.rmtree(d, ignore_errors=True)


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: str
) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples or ``Row``s) with the
    DDL ``schema``, planned as ``LocalTableScan``.
    ``spark.createDataFrame(list, schema)`` plans as ``Scan ExistingRDD``
    over a Python ``map``, so even a one-row result starts Python
    workers.  Here the rows become a ``pyarrow.Table`` with the schema's
    own Arrow types, which Spark turns into a JVM local relation.  A
    pandas input is no substitute: an empty pandas frame falls back to
    the RDD path, silently under the default
    ``arrow.pyspark.fallback.enabled``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(struct)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql paths)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

"""SparkSession bootstrap.

The reference's job config (``MR_Job`` — /root/reference/src/job.h:36-127,
defaults {readers:1, mappers:20, reducers:40} at src/job.c:31-33) becomes
plain Spark configuration: thread counts -> ``local[N]`` + shuffle
partitions; the metrics subsystem -> Spark UI / listeners; output-dir
management -> ``DataFrameWriter.mode``.

Scale stance: these settings are written for the local[32]/128 GiB test
box but chosen so the same code is correct on a 1000-executor cluster —
AQE owns runtime partition coalescing and skew-join splitting, shuffle
partitions are a starting hint that AQE re-plans, and nothing below pins
single-node assumptions into query code.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# The directory that holds this package: on the Python workers' path, so
# they import it (the daemon module below, by-reference functions such
# as ``tokenize_pairs_arrow``) whatever the driver's working directory.
_PACKAGE_PARENT = str(Path(__file__).resolve().parent.parent)

# Knobs that queries rely on semantically (timezone, ANSI-off) or that are
# unambiguously right at any scale (AQE, arrow).  Applied both when we build
# the session ourselves and when the driver hands us one.
REQUIRED_RUNTIME_CONF = {
    # DuckDB oracle comparison requires UTC-naive timestamp semantics.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas_udf / applyInPandas / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS), which Spark 4 rejects by
    # default; read as long ns and rebuild the timestamp in the loader
    # (sources/tables.py — values are µs-aligned, so no precision loss).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Fixture timestamps are µs WITHOUT a timezone annotation; Spark 4
    # would read those as TIMESTAMP_NTZ, which breaks unix_micros/window
    # arithmetic and diverges from the DuckDB oracle's naive-UTC
    # semantics.  Read them as plain TIMESTAMP under the UTC session —
    # identical wall-clock values on both engines.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def build_session(
    app_name: str = "mapreduce-spark-engine", cores: int | None = None
) -> SparkSession:
    """``cores`` overrides local[N] (the CLI's ``-m`` mapper knob); by
    default the box's core count / $SPARK_GRAFT_CPUS."""
    cpus = cores if cores is not None else default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Start shuffle parallelism at core count; AQE coalesces down and
        # splits skew up from here.  On a real cluster this would be
        # executors*cores*2-3 — still just a hint under AQE.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # Even with the UI off, AppStatusListener retains per-stage/task
        # state in-heap (defaults: 1000 stages, 100k tasks).  A long
        # single-session run (the 48-query bench reaches stage ~1100; the
        # driver's 50-op correctness sweep is similar) accumulates heap
        # that turns into GC pauses recurring at the SAME suite positions
        # every pass — which min-of-interleaved-passes cannot filter.
        # Cap retention; nothing in the repo reads the status store
        # beyond the most recent stages (metrics.py snapshots per-job).
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "5000")
        .config("spark.sql.ui.retainedExecutions", "20")
        .config("spark.worker.ui.retainedExecutors", "10")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # Python workers fork from this package's daemon, which stops
        # each task from re-reading pyspark.zip and the spark-core jar
        # (see daemon.py).  Static: it must be set before the session.
        .config("spark.python.daemon.module", "mapreduce_c_implementation_spark.daemon")
    )
    for k, v in REQUIRED_RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply semantics-critical conf to an externally-built session.

    The driver constructs its own SparkSession for smoke/correctness runs;
    timezone and AQE must hold there too.  All keys in
    REQUIRED_RUNTIME_CONF are runtime-settable.
    """
    conf = dict(REQUIRED_RUNTIME_CONF)
    # Stateful streaming can't rely on AQE coalescing; 200 default
    # shuffle/state partitions on a small box wastes task overhead.
    conf["spark.sql.shuffle.partitions"] = str(default_parallelism())
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime-settable on some builds; defaults are close
    return spark

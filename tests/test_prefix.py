"""functions/prefix.py against the textbook single-window forms."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_c_implementation_spark.functions.prefix import range_id, running_by_bucket

# (id, k, v): bucket = k div 10 has no rows for bucket 2 (a gap), k ties
# inside buckets 0 and 3 are broken by id, and v goes negative.
ROWS = [
    (1, 7, 5), (2, 3, -4), (3, 3, 9), (4, 0, 1), (5, 12, -11),
    (6, 19, 2), (7, 11, 0), (8, 35, 6), (9, 35, -8), (10, 31, 3),
    (11, 7, -2), (12, 44, 7),
]


@pytest.mark.parametrize("partitions", ["1", "7"])
def test_running_by_bucket_matches_global_window(spark, partitions):
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
        df = spark.createDataFrame(ROWS, "id long, k long, v long").withColumn(
            "b", F.expr("k div 10")
        )
        got = running_by_bucket(df, "b", ["k", "id"], rk=None, cum=F.col("v"))
        w = Window.orderBy("k", "id")
        everything = Window.partitionBy()
        want = df.select(
            "id",
            "k",
            "v",
            "b",
            F.row_number().over(w).alias("rk"),
            F.count("*").over(everything).alias("rk_total"),
            F.sum("v")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("cum"),
            F.sum("v").over(everything).alias("cum_total"),
        )
        assert got.columns == want.columns
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


def test_range_id_counts_cuts_at_or_below(spark):
    df = spark.createDataFrame(
        [(-1.0,), (5.0,), (10.0,), (25.0,), (30.0,), (100.0,)], "x double"
    )
    ids = df.select(range_id(F.col("x"), [10.0, 20.0, 30.0]).alias("pid"))
    assert [r.pid for r in ids.collect()] == [0, 0, 1, 2, 3, 3]

"""Metrics-subsystem parity tests (reference src/metrics.c:107-551):
stage clocks from the driver status store, the top-10 partition skew
table from reducer shard sizes, dir/glob-aware input accounting, and the
reference CLI surface (src/job.c:103-120)."""

from __future__ import annotations

import tempfile
from pathlib import Path

import pytest

from mapreduce_c_implementation_spark.job import (
    MapReduceJob,
    parse_cli,
    run_inverted_index_job,
)
from mapreduce_c_implementation_spark.metrics import input_bytes
from mapreduce_c_implementation_spark.sources.io_ops import _stage_text_files


def test_stage_timings_and_skew_in_report(spark, sf_correct):
    corpus = _stage_text_files(spark, sf_correct)
    outdir = tempfile.mkdtemp(prefix="mr_metrics_")
    job = MapReduceJob(
        input_paths=[corpus],  # directory input: exercises the walker
        output_dir=outdir,
        num_partitions=4,
        metrics_path=f"{outdir}/metrics_report.txt",
    )
    res = run_inverted_index_job(spark, job)
    m = res.metrics

    # stage clocks: the job has >= 2 stages (scan+combine, reduce+sink),
    # scoped to THIS job, with real task counts and timings.
    assert len(m.stages) >= 2
    assert all(s.num_tasks > 0 for s in m.stages if s.status == "COMPLETE")
    assert sum(s.run_time_ms for s in m.stages) > 0
    # the shuffle between map and reduce shows up in the byte counters
    assert sum(s.shuffle_write_bytes for s in m.stages) > 0
    assert sum(s.shuffle_read_bytes for s in m.stages) > 0

    # skew table: one row per shard (4 < top-10 cap), heaviest first
    assert 1 <= len(m.partition_top) <= 4
    sizes = [b for _, b in m.partition_top]
    assert sizes == sorted(sizes, reverse=True)

    # directory input accounting (the round-1 bug: dirs counted 0)
    assert m.counters["input_bytes"] == input_bytes([corpus]) > 0

    report = Path(job.metrics_path).read_text()
    for section in [
        "=== JOB CONFIG ===",
        "=== TIMING ===",
        "=== STAGE TIMINGS ===",
        "PARTITIONS BY OUTPUT BYTES ===",
        "=== COUNTERS ===",
    ]:
        assert section in report, report


def test_stage_metrics_by_id_for_a_two_job_action(spark):
    """An aggregate's collect under AQE runs two jobs: the map stage,
    then the result stage with the map stage skipped.  Exactly those
    three stage ids come back, in order."""
    from pyspark.sql import functions as F

    from mapreduce_c_implementation_spark.metrics import (
        collect_stage_metrics,
        max_stage_id,
    )

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs, floor = dag.numTotalJobs(), max_stage_id(spark)
    spark.range(1000, numPartitions=4).groupBy(F.col("id") % 7).count().collect()
    assert dag.numTotalJobs() - jobs == 2
    stages = collect_stage_metrics(spark, after=floor)
    assert [s.stage_id for s in stages] == [floor + 1, floor + 2, floor + 3]
    assert max_stage_id(spark) == floor + 3
    assert [s.status for s in stages] == ["COMPLETE", "SKIPPED", "COMPLETE"]
    assert [s.num_tasks for s in stages] == [4, 0, 1]
    assert stages[0].shuffle_write_bytes == stages[2].shuffle_read_bytes > 0


def test_input_bytes_file_dir_glob(tmp_path):
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("x" * 10)
    (d / "b.txt").write_text("y" * 32)
    sub = d / "nested"
    sub.mkdir()
    (sub / "c.txt").write_text("z" * 7)
    assert input_bytes([str(d / "a.txt")]) == 10
    assert input_bytes([str(d)]) == 49  # recursive dir walk
    assert input_bytes([str(d / "*.txt")]) == 42  # glob, non-recursive
    assert input_bytes([str(d / "a.txt"), str(sub)]) == 17


def test_parse_cli_reference_flags():
    job = parse_cli(["-i", "2", "-m", "8", "-r", "16", "-v",
                     "-o", "/tmp/out", "in1.txt", "in2.txt"])
    assert job.readers == 2
    assert job.mappers == 8
    assert job.num_partitions == 16
    assert job.verbose is True
    assert job.output_dir == "/tmp/out"
    assert job.input_paths == ["in1.txt", "in2.txt"]
    # defaults mirror src/job.c:31-33 ({readers:1, mappers:20, reducers:40})
    dflt = parse_cli(["corpus/"])
    assert (dflt.readers, dflt.mappers, dflt.num_partitions) == (1, 20, 40)
    assert dflt.metrics_path == "metrics_report.txt"


def test_parse_cli_bounds():
    for argv in (["-i", "11", "x"], ["-m", "0", "x"], ["-r", "1001", "x"]):
        with pytest.raises(SystemExit):
            parse_cli(argv)

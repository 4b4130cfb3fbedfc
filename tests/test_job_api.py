"""End-to-end job API test: the reference's full MR_Run flow (text files
in, part-%05d text shards out) plus metrics report."""

from __future__ import annotations

import tempfile
from pathlib import Path

import pytest

from mapreduce_c_implementation_spark.job import MapReduceJob, run_inverted_index_job
from mapreduce_c_implementation_spark.sources.io_ops import _stage_text_files


def test_inverted_index_job_end_to_end(spark, sf_correct):
    corpus = _stage_text_files(spark, sf_correct)
    outdir = tempfile.mkdtemp(prefix="mr_out_")
    job = MapReduceJob(
        input_paths=sorted(str(p) for p in Path(corpus).glob("*.txt")),
        output_dir=outdir,
        num_partitions=8,
        metrics_path=f"{outdir}/metrics_report.txt",
        readers=2,
        mappers=3,
    )
    res = run_inverted_index_job(spark, job)

    # part-%05d naming, exactly num_partitions shards
    names = [Path(f).name for f in res.output_files]
    assert len(names) == 8
    assert names[0] == "part-00000" or names[0].startswith("part-00000-")

    # output format parity: 'word -> [shard_a.txt, shard_b.txt]'
    lines = []
    for f in res.output_files:
        lines += Path(f).read_text().splitlines()
    assert lines
    assert all(" -> [" in ln and ln.endswith("]") for ln in lines)
    # every word appears exactly once across all shards
    words = [ln.split(" -> ")[0] for ln in lines]
    assert len(words) == len(set(words))

    # metrics report exists with the stable section order
    report = Path(job.metrics_path).read_text()
    assert report.index("=== JOB CONFIG ===") < report.index("=== TIMING ===")
    # the reference's thread-pool knobs are echoed, not planned on
    assert "readers: 2\n" in report and "mappers: 3\n" in report
    assert res.metrics.counters["n_output_files"] == 8
    assert res.metrics.wall_s > 0


def test_arrow_tokenizer_matches_jvm_tokenize(spark):
    """The flagship job's Arrow map+combine (tokenize_pairs_arrow, r14)
    must produce exactly the postings the JVM ``tokenize`` path did —
    including the reference's edge semantics: >255-char alnum runs keep
    their first 255 chars with the tail DROPPED, Unicode characters are
    delimiters (never lowercased into ASCII tokens), empty and
    delimiter-only lines contribute nothing."""
    from pyspark.sql import functions as F

    from mapreduce_c_implementation_spark.functions.text import (
        tokenize,
        tokenize_pairs_arrow,
    )

    rows = [
        ("a" * 300 + " tail", "f1"),  # long run: first 255 kept, tail dropped
        ("İstanbul naïve café ŷz", "f1"),  # unicode delimiters
        ("", "f2"),
        ("...---...", "f2"),
        ("MiXeD CaSe 123abc", "f3"),
        ("x" + "9" * 260, "f3"),
        ("tab\tsep and ümlaut", "f4"),
        ("ıIİi", "f4"),  # dotless/dotted i family must not merge
    ]
    df = spark.createDataFrame(rows, "line string, fname string")
    jvm = (
        df.select(F.explode(tokenize(F.col("line"))).alias("word"), "fname")
        .groupBy("word")
        .agg(F.sort_array(F.collect_set("fname")).alias("files"))
    )
    arrow = (
        df.mapInArrow(tokenize_pairs_arrow, schema="word string, fname string")
        .groupBy("word")
        .agg(F.sort_array(F.collect_set("fname")).alias("files"))
    )
    jvm_rows = sorted((r.word, tuple(r.files)) for r in jvm.collect())
    arrow_rows = sorted((r.word, tuple(r.files)) for r in arrow.collect())
    assert jvm_rows == arrow_rows
    assert ("a" * 255, ("f1",)) in jvm_rows  # truncation actually exercised


def _run_toy(spark, tmp_path, files: dict[str, str], num_partitions: int):
    corpus = tmp_path / "corpus"
    corpus.mkdir(exist_ok=True)
    for name, text in files.items():
        (corpus / name).write_text(text)
    job = MapReduceJob(
        input_paths=[str(corpus)],
        output_dir=str(tmp_path / f"out{num_partitions}"),
        num_partitions=num_partitions,
    )
    return run_inverted_index_job(spark, job)


@pytest.mark.parametrize("num_partitions", [1, 3])
def test_part_files_list_words_in_byte_order(spark, tmp_path, num_partitions):
    """The reference's sorted-key contract (src/mapreduce.h:105,
    src/sorting.c): every part file lists its words in strictly
    increasing byte (strcmp) order, whatever the reducer count."""
    files = {
        "first.txt": "zebra mango kiwi apple\nZeta 10 9 alpha Apple\n",
        "second.txt": "zebra yak 2 banana cherry mango\nxylophone 100 b a\n",
    }
    res = _run_toy(spark, tmp_path, files, num_partitions)
    assert len(res.output_files) == num_partitions
    words = []
    for f in res.output_files:
        part = [ln.split(" -> ")[0] for ln in Path(f).read_text().splitlines()]
        keys = [w.encode() for w in part]
        assert all(a < b for a, b in zip(keys, keys[1:])), (Path(f).name, part)
        words += part
    assert sorted(words) == sorted(
        {"zebra", "mango", "kiwi", "apple", "zeta", "10", "9", "alpha", "yak",
         "2", "banana", "cherry", "xylophone", "100", "b", "a"}
    )


def test_postings_list_file_names_as_on_disk(spark, tmp_path):
    """Spark reports file names percent-encoded; the postings list them
    as they are on disk.  ``+`` must stay ``+`` (URI, not form, decoding)."""
    res = _run_toy(
        spark, tmp_path, {"my doc#1.txt": "Shared one\n", "a+b.txt": "shared two\n"}, 1
    )
    (part,) = res.output_files
    assert Path(part).read_text().splitlines() == [
        "one -> [my doc#1.txt]",
        "shared -> [a+b.txt, my doc#1.txt]",
        "two -> [a+b.txt]",
    ]


def test_tokenizer_state_compaction_keeps_pairs(monkeypatch):
    """Merging a file's pending word sets early (the constant set small)
    yields exactly the pairs of the default run over many batches."""
    import pyarrow as pa

    from mapreduce_c_implementation_spark.functions import text

    rows = [(f"w{i % 97} W{i % 13} x{i} {'q' * 260}{i % 3}", f"f{i % 4}.txt")
            for i in range(600)]
    table = pa.table({"line": [r[0] for r in rows], "fname": [r[1] for r in rows]})

    def pairs():
        out = text.tokenize_pairs_arrow(iter(table.to_batches(max_chunksize=7)))
        got = [(w, f) for b in out for w, f in zip(*b.to_pydict().values())]
        assert len(got) == len(set(got))
        return set(got)

    default = pairs()
    monkeypatch.setattr(text, "_PENDING_WORDS", 4)
    assert pairs() == default
    # Space-separated alnum runs: str.split is the reference tokenizer here.
    assert default == {(t.lower()[:255], f) for line, f in rows for t in line.split()}


def test_job_validation():
    with pytest.raises(ValueError):
        MapReduceJob(input_paths=[], output_dir="/tmp/x").validate()
    with pytest.raises(ValueError):
        MapReduceJob(input_paths=["a"], output_dir="/tmp/x", num_partitions=0).validate()


def test_corpus_pipeline_job_end_to_end(spark, tmp_path):
    """The second application on the job API: filter -> dedup -> split ->
    partitioned parquet shards, with Observation counters and the same
    metrics report as the flagship job."""
    import duckdb

    from mapreduce_c_implementation_spark.job import run_corpus_pipeline_job

    src = "/root/testdata/sf0.001/documents.parquet"
    job = MapReduceJob(
        input_paths=[src],
        output_dir=str(tmp_path / "corpus_out"),
        num_partitions=4,
        metrics_path=str(tmp_path / "corpus_metrics.txt"),
    )
    res = run_corpus_pipeline_job(spark, job)

    n_input = duckdb.sql(f"SELECT count(*) FROM '{src}'").fetchone()[0]
    c = res.metrics.counters
    assert c["n_input_docs"] == n_input
    assert 0 < c["n_output_docs"] <= n_input
    assert c["n_output_tokens"] > 0

    # read back: splits partition the kept set; doc_ids unique; token
    # counts agree with the observation counter
    back = spark.read.parquet(res.output_dir)
    rows = back.collect()
    assert len(rows) == c["n_output_docs"]
    assert len({r.doc_id for r in rows}) == len(rows)
    assert {r.split for r in rows} <= {"train", "valid", "test"}
    assert sum(r.n_tokens for r in rows) == c["n_output_tokens"]

    # deterministic: second run (clear_output) produces identical content
    res2 = run_corpus_pipeline_job(spark, job)
    back2 = spark.read.parquet(res2.output_dir)
    assert sorted((r.doc_id, r.split) for r in back2.collect()) == sorted(
        (r.doc_id, r.split) for r in rows
    )

    report = (tmp_path / "corpus_metrics.txt").read_text()
    assert "=== JOB CONFIG ===" in report and "corpus_pipeline" in report

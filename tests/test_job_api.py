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

    # The reference's part-%05d.txt names, one per reducer.
    names = [Path(f).name for f in res.output_files]
    assert names == [f"part-{i:05d}.txt" for i in range(8)]

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


# --- postings: file bitmaps up to 64 files, string sets above ---------


def _corpus(root: Path, n_files: int) -> dict[str, str]:
    """``n_files`` small text files (at most one of them empty) whose
    names include ones Spark percent-encodes, a non-ASCII one and one
    with a quote and a backslash (SQL literal syntax).  Each
    word lands in a seeded subset of the files, and ``shared`` in every
    non-empty one, so the last file by name (bit 63 at 64 files) holds
    postings."""
    import random

    rng = random.Random(n_files)
    special = [
        "my doc#1.txt", "a+b.txt", "zz naïve é.txt", "it's \\ok.txt", "empty.txt"
    ]
    names = special[: min(n_files, len(special))]
    names += [f"f{i:02d}.txt" for i in range(n_files - len(names))]
    vocab = [f"w{i}" for i in range(40)]
    files = {}
    for name in names:
        if name == "empty.txt":
            files[name] = ""
        else:
            words = rng.sample(vocab, 6) + ["Shared"]
            files[name] = " ".join(words[:4]) + "\n" + " ".join(words[4:]) + "\n"
    root.mkdir(parents=True, exist_ok=True)
    for name, text in files.items():
        (root / name).write_text(text)
    return files


def _postings_run(spark, corpus: Path, out: Path):
    res = run_inverted_index_job(
        spark,
        MapReduceJob(input_paths=[str(corpus)], output_dir=str(out), num_partitions=3),
    )
    parts = {Path(f).name: Path(f).read_text() for f in res.output_files}
    return res.metrics.config, parts


@pytest.mark.parametrize("n_files", [1, 7, 64, 65])
def test_bitmap_postings_match_set_postings(spark, tmp_path, monkeypatch, n_files):
    """The bitmap reducer writes the same part files as the set reducer.
    At 64 files the last name owns bit 63, the sign bit; at 65 the set
    reducer is selected."""
    from mapreduce_c_implementation_spark import job as job_mod

    files = _corpus(tmp_path / "corpus", n_files)
    config, parts = _postings_run(spark, tmp_path / "corpus", tmp_path / "default")
    monkeypatch.setattr(job_mod, "POSTINGS_BITS", -1)  # the set plan everywhere
    set_config, set_parts = _postings_run(spark, tmp_path / "corpus", tmp_path / "set")
    assert config["postings"] == ("set" if n_files > 64 else "bitmap")
    assert set_config["postings"] == "set"
    assert parts == set_parts
    lines = [ln for text in parts.values() for ln in text.splitlines()]
    full = sorted(n for n, text in files.items() if text)
    assert f"shared -> [{', '.join(full)}]" in lines
    if n_files == 64:
        assert max(files) == full[-1] == "zz naïve é.txt"


def test_postings_over_an_empty_input_dir(spark, tmp_path, monkeypatch):
    from mapreduce_c_implementation_spark import job as job_mod

    (tmp_path / "corpus").mkdir()
    config, parts = _postings_run(spark, tmp_path / "corpus", tmp_path / "default")
    monkeypatch.setattr(job_mod, "POSTINGS_BITS", -1)
    _, set_parts = _postings_run(spark, tmp_path / "corpus", tmp_path / "set")
    assert config["n_input_files"] == 0 and config["postings"] == "bitmap"
    assert parts == set_parts
    assert "".join(parts.values()) == ""


def test_file_bit_dictionary_miss_raises(spark, tmp_path, monkeypatch):
    """A pair whose file name has no bit fails the job, naming the file;
    the posting is never dropped silently."""
    import re

    from mapreduce_c_implementation_spark import job as job_mod

    (tmp_path / "corpus").mkdir()
    (tmp_path / "corpus" / "a.txt").write_text("one\n")
    (tmp_path / "corpus" / "b.txt").write_text("two\n")
    real = job_mod._file_names
    monkeypatch.setattr(
        job_mod, "_file_names", lambda uris: [n for n in real(uris) if n != "b.txt"]
    )
    with pytest.raises(Exception, match=re.escape("no file bit for b.txt")):
        _postings_run(spark, tmp_path / "corpus", tmp_path / "out")
    # A failed job leaves no output behind.
    assert not list((tmp_path / "out").glob("part-*"))
    assert not (tmp_path / "out" / "_temporary").exists()


@pytest.mark.parametrize("n_files, postings", [(2, "bitmap"), (65, "set")])
def test_report_names_the_postings_reducer(spark, tmp_path, n_files, postings):
    """The run report says how many files the scan listed and which
    postings reducer ran."""
    _corpus(tmp_path / "corpus", n_files)
    job = MapReduceJob(
        input_paths=[str(tmp_path / "corpus")],
        output_dir=str(tmp_path / "out"),
        num_partitions=2,
    )
    m = run_inverted_index_job(spark, job).metrics
    assert m.config["n_input_files"] == n_files
    assert m.config["postings"] == postings
    report = m.render_report()
    assert f"n_input_files: {n_files}\n" in report
    assert f"postings: {postings}\n" in report


# --- the sink: part-%05d.txt per reducer, one writer task per core ----

_BYTE_ORDER_TOY = {
    "first.txt": "zebra mango kiwi apple\nZeta 10 9 alpha Apple\n",
    "second.txt": "zebra yak 2 banana cherry mango\nxylophone 100 b a\n",
}
_NAMES_TOY = {"my doc#1.txt": "Shared one\n", "a+b.txt": "shared two\n"}


@pytest.mark.parametrize("num_partitions", [1, 3, 8, 40])
@pytest.mark.parametrize("corpus", ["byte_order", "names", "files7", "files65"])
def test_part_files_match_spark_text_sink(spark, tmp_path, corpus, num_partitions):
    """Each reducer's part file holds exactly the bytes Spark's own
    text sink (``write.text``) writes for the same plan; a reducer with
    no words writes no file.  Widths 1 to 40 put the writer tasks both
    below and at the core count; 7 files select the bitmap plan, 65 the
    set plan."""
    from mapreduce_c_implementation_spark.job import inverted_index_plan

    root = tmp_path / "corpus"
    if corpus.startswith("files"):
        _corpus(root, int(corpus[5:]))
    else:
        root.mkdir()
        for name, text in (_BYTE_ORDER_TOY if corpus == "byte_order" else _NAMES_TOY).items():
            (root / name).write_text(text)
    res = run_inverted_index_job(
        spark,
        MapReduceJob(
            input_paths=[str(root)],
            output_dir=str(tmp_path / "out"),
            num_partitions=num_partitions,
        ),
    )
    postings, _ = inverted_index_plan(spark, [str(root)], num_partitions)
    postings.write.text(str(tmp_path / "spark"))
    # Spark names its files part-<reducer>-<uuid>-c000.txt.
    want = {
        f"{p.name[:10]}.txt": p.read_bytes()
        for p in (tmp_path / "spark").glob("part-*")
        if p.stat().st_size
    }
    got = {Path(f).name: Path(f).read_bytes() for f in res.output_files}
    assert got == want
    assert sorted(p.name for p in (tmp_path / "out").iterdir()) == sorted(
        [*got, "_SUCCESS"]
    )
    m = res.metrics
    assert m.config["writer_tasks"] == min(
        num_partitions, spark.sparkContext.defaultParallelism
    )
    assert m.counters["output_lines"] == sum(v.count(b"\n") for v in got.values())
    assert m.counters["output_bytes"] == sum(len(v) for v in got.values())
    assert m.partition_top == sorted(
        ((k, len(v)) for k, v in got.items()), key=lambda t: (-t[1], t[0])
    )[:10]


def test_existing_output_dir_is_refused_before_any_job(spark, tmp_path):
    """With ``clear_output=False`` an existing output directory raises
    before a Spark job runs and is left as it was."""
    (tmp_path / "corpus").mkdir()
    (tmp_path / "corpus" / "a.txt").write_text("one\n")
    out = tmp_path / "out"
    out.mkdir()
    (out / "part-00000.txt").write_text("kept\n")
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = dag.numTotalJobs()
    job = MapReduceJob(
        input_paths=[str(tmp_path / "corpus")], output_dir=str(out), clear_output=False
    )
    with pytest.raises(FileExistsError):
        run_inverted_index_job(spark, job)
    assert dag.numTotalJobs() == jobs
    assert [p.name for p in out.iterdir()] == ["part-00000.txt"]
    assert (out / "part-00000.txt").read_text() == "kept\n"


def test_write_runs_rejects_null_lines_and_split_reducers(tmp_path, monkeypatch):
    """The writer names the reducer of a NULL line, and refuses a
    reducer whose rows arrive as two runs."""
    import pyarrow as pa

    from mapreduce_c_implementation_spark import job as job_mod

    class Ctx:
        def stageId(self):
            return 1

        def partitionId(self):
            return 2

        def attemptNumber(self):
            return 0

    import pyspark

    monkeypatch.setattr(pyspark.TaskContext, "get", staticmethod(Ctx))

    def run(parts, lines):
        batch = pa.record_batch(
            [pa.array(parts, pa.int32()), pa.array(lines, pa.string())], ["part", "line"]
        )
        return list(job_mod._write_runs(str(tmp_path), iter([batch])))

    with pytest.raises(ValueError, match="NULL line in reducer 7"):
        run([3, 7, 7], ["a\n", "b\n", None])
    with pytest.raises(RuntimeError, match="reducer 4 in two runs"):
        run([4, 5, 4], ["a\n", "b\n", "c\n"])
    (out,) = run([9, 9, 2], ["é\n", "b\n", "c\n"])
    assert out.to_pylist() == [
        {"part": 9, "path": str(tmp_path / "part-00009-1-2-0"), "lines": 2, "bytes": 5},
        {"part": 2, "path": str(tmp_path / "part-00002-1-2-0"), "lines": 1, "bytes": 2},
    ]
    assert (tmp_path / "part-00009-1-2-0").read_bytes() == "é\nb\n".encode()


def test_flagship_jobs_and_tasks(spark, tmp_path):
    """A flagship call runs 2 Spark jobs (the map stage, then the
    reduce and sink) and no more tasks than its map tasks plus one
    writer task per core: 40 reducers do not mean 40 write tasks."""
    _corpus(tmp_path / "corpus", 7)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = dag.numTotalJobs()
    res = run_inverted_index_job(
        spark,
        MapReduceJob(input_paths=[str(tmp_path / "corpus")],
                     output_dir=str(tmp_path / "out")),
    )
    assert dag.numTotalJobs() - jobs == 2
    stages = res.metrics.stages
    map_tasks = sum(s.num_tasks for s in stages if s.input_bytes > 0)
    assert map_tasks > 0
    cores = spark.sparkContext.defaultParallelism
    assert sum(s.num_tasks for s in stages) <= map_tasks + min(40, cores)


def test_python_workers_run_the_package_daemon(spark):
    """The session's Python workers fork from the package's daemon: a
    zip importer's ``invalidate_caches`` is the daemon's no-op."""
    import pyarrow as pa

    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        name = zipimport.zipimporter.invalidate_caches.__qualname__
        yield pa.RecordBatch.from_pylist([{"name": name}])

    rows = spark.range(1).mapInArrow(probe, "name string").collect()
    assert {r.name for r in rows} == {"keep_zip_directory"}

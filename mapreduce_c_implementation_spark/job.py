"""Job-level API — the analog of the reference's ``MR_Job`` config struct
and ``MR_Run`` entry point (/root/reference/src/job.h:36-127,
src/job.c:157-293).

The reference's 13-step run (validate -> parse CLI -> prep output dir ->
metrics init -> clocks -> execute -> report) collapses under Spark to:
build the DataFrame plan, ``write`` with the right mode, and time it.
Thread-count knobs map to configuration, not code:

    readers (-i)   -> input split parallelism (files.maxPartitionBytes)
    mappers (-m)   -> scan/task parallelism (master local[N] / executors)
    reducers (-r)  -> num_partitions here (shuffle partitions for the job)

``run_inverted_index_job`` is the flagship end-to-end: raw TEXT FILES in
(the reference's actual input format, src/reader_queue.c:180-337),
tokenized with ``_metadata.file_name`` lineage (== MR_CurrentFile,
src/mapreduce.c:56-58), shuffled once on the word, reduced to each
word's distinct files (a 64-bit file bitmap when the input has at most
64 file names, a sorted string set above that), and written as
``part-%05d.txt`` shards exactly like the reference sink
(src/main.c:92-98) — one file per non-empty reducer partition, its
words in byte order, each word's files in byte order.

The sink is ``write_part_files``, not Spark's file writer: the reducers
are coalesced to at most one writer task per core, and a ``mapInArrow``
writer copies each reducer's run of lines straight from the Arrow
string buffer into its own file; the driver renames the files from the
collected commit rows.  A Spark write task per reducer would instead
deserialise the session's Hadoop configuration and commit through
``FileOutputCommitter``, tens of milliseconds per task.  The Python
workers it runs on (and the tokenizer's) fork from the package's
daemon module (``daemon.py``, set in ``session.build_session``), so a
task does not re-read ``pyspark.zip`` before it starts.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from functools import partial
from pathlib import Path
from typing import Callable
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_c_implementation_spark.functions.text import (
    tokenize,
    tokenize_pairs_arrow,
)
from mapreduce_c_implementation_spark.metrics import (
    JobMetrics,
    collect_stage_metrics,
    input_bytes,
    max_stage_id,
    partition_skew,
)


@dataclass
class MapReduceJob:
    """Mirror of MR_Job (src/job.h:36-127) with Spark-native semantics."""

    input_paths: list[str]
    output_dir: str
    num_partitions: int = 40  # reference default: 40 reducers (src/job.c:33)
    clear_output: bool = True  # src/job.c:129-151
    verbose: bool = False
    metrics_path: str | None = None
    # Reference thread-pool knobs (-i/-m): configuration echoes under
    # Spark (split parallelism / local[N] cores), not plan inputs.
    readers: int = 1
    mappers: int = 20

    def validate(self) -> None:
        # Reference bounds-checks reducers 1..1000 (src/job.c:71-84).
        if not self.input_paths:
            raise ValueError("at least one input path required")
        if not 1 <= self.num_partitions <= 100_000:
            raise ValueError(f"num_partitions out of range: {self.num_partitions}")


@dataclass
class JobResult:
    output_dir: str
    metrics: JobMetrics
    output_files: list[str] = field(default_factory=list)


# The width of one bigint: a posting-list bitmap has one bit per file,
# so the bitmap plan serves inputs of at most this many file names.
POSTINGS_BITS = 64


def _file_names(uris: list[str]) -> list[str]:
    """The distinct decoded names of the listed file ``uris``.
    ``_metadata.file_name`` is the last segment of a file's URI, and
    ``unquote`` decodes it as ``tokenize_pairs_arrow`` does, so each
    name is spelled as the pairs spell it.  Sorted by code point, which
    is UTF-8 byte order."""
    return sorted({unquote(uri.rsplit("/", 1)[-1]) for uri in uris})


def inverted_index_plan(
    spark: SparkSession, input_paths: list[str], num_partitions: int
) -> tuple[DataFrame, dict]:
    """The flagship's plan, the reference's shape (src/mapreduce.h:105,
    src/sorting.c): scan -> Arrow map + combine -> ONE hash exchange on
    the word into ``num_partitions`` reducers -> per-reducer distinct
    files -> per-partition word sort -> one ``word -> [files]`` row per
    word, its files in byte order.  Returns the plan and the choices the
    run report records: ``n_input_files`` (the scan's listing) and
    ``postings``, the reducer that runs.

    ``postings="bitmap"`` when the input has at most ``POSTINGS_BITS``
    distinct file names.  File ``i`` of the names in byte order owns bit
    ``i`` of a bigint.  A projection right after the Arrow map turns each
    pair's name into its bit, the exchange carries ``(word, bigint)``,
    and the reducer is ``bit_or``: a fixed-width, code-generated
    HashAggregate that never sorts.  The output projection tests the
    bits in name order, so each line lists its files in byte order.  A
    pair whose name the plan-time dictionary lacks fails the job with
    the file's name: no posting is dropped silently.

    ``postings="set"`` above that: ``sort_array(collect_set(fname))``,
    an ObjectHashAggregate over the name strings."""
    lines = spark.read.text(input_paths).select(
        F.col("value").alias("line"),
        # MR_CurrentFile lineage: which input file produced this record.
        # The hidden metadata column is a per-file constant, with no
        # per-line path split.
        F.col("_metadata.file_name").alias("fname"),
    )
    # Map + combine in Arrow: distinct (word, fname) pairs per task,
    # file names decoded (see tokenize_pairs_arrow).  The JVM
    # ``tokenize`` stays the single source of truth for the
    # oracle-paired operators.
    pairs = lines.mapInArrow(
        tokenize_pairs_arrow, schema="word string, fname string"
    )
    # The scan's own driver-side listing: no job.
    uris = lines.inputFiles()
    names = _file_names(uris)
    bitmap = len(names) <= POSTINGS_BITS
    choice = {"n_input_files": len(uris), "postings": "bitmap" if bitmap else "set"}
    if bitmap:
        # File i of ``names`` owns bit i; shiftleft(1L, 63) is the sign
        # bit.  Each name enters the SQL text as its UTF-8 bytes in a
        # binary literal cast to string, which no quote, backslash or
        # parser setting can alter; the optimizer folds it to a
        # constant.  Two parsed expressions cost two py4j calls, where
        # Column builders cost a round trip per node (about 0.25 s of
        # driver time per job at 64 files).
        lits = [f"CAST(X'{n.encode().hex()}' AS STRING)" for n in names]
        bits = [f"shiftleft(1L, {i})" for i in range(len(names))]
        miss = (
            "CAST(raise_error(concat('inverted_index_plan: no file bit for ', "
            "coalesce(fname, 'NULL'))) AS BIGINT)"
        )
        whens = "".join(f" WHEN {n} THEN {b}" for n, b in zip(lits, bits))
        bit = F.expr(f"CASE fname{whens} ELSE {miss} END" if names else miss)
        pairs = pairs.select("word", bit.alias("bit"))
        agg = F.bit_or("bit")
        ifs = "".join(f", IF(files & {b} <> 0, {n}, NULL)" for n, b in zip(lits, bits))
        render = F.expr(f"concat_ws(', '{ifs})")
    else:
        agg = F.sort_array(F.collect_set("fname"))
        render = F.array_join("files", ", ")

    postings = (
        # The one exchange: the reference's word-hash partitioner
        # (src/partition.c).  groupBy reuses this distribution, so the
        # partial aggregate runs reducer-side and there is no second
        # shuffle.
        pairs.repartition(num_partitions, F.col("word"))
        .groupBy("word")
        .agg(agg.alias("files"))
        # Each part file lists its words in byte (strcmp) order, the
        # reference's sorted-key contract; the formatting projection
        # below is narrow, so the order reaches the sink.
        .sortWithinPartitions("word")
        .select(
            F.concat(F.col("word"), F.lit(" -> ["), render, F.lit("]")).alias("value")
        )
    )
    return postings, choice


# One commit row per part file a writer task wrote.
_COMMIT_SCHEMA = "part int, path string, lines long, bytes long"


def _write_runs(tmp: str, batches):
    """``write_part_files``' ``mapInArrow`` body: each reducer's run of
    ``(part, line)`` rows becomes one file under ``tmp``, written from
    the Arrow string column's data buffer with no per-row Python.
    Yields one commit row per file."""
    import numpy as np
    import pyarrow as pa
    from pyspark import TaskContext

    ctx = TaskContext.get()
    attempt = f"{ctx.stageId()}-{ctx.partitionId()}-{ctx.attemptNumber()}"
    rows: list[dict] = []  # one per file; the last one's file is ``f``
    f = None
    for batch in batches:
        parts = batch.column(0).to_numpy()
        text = batch.column(1)
        if not len(parts):
            continue
        if text.null_count:
            i = text.is_null().to_numpy(zero_copy_only=False).argmax()
            raise ValueError(f"write_part_files: NULL line in reducer {parts[i]}")
        wide = pa.types.is_large_string(text.type)
        offsets = np.frombuffer(text.buffers()[1], np.int64 if wide else np.int32)
        offsets = offsets[text.offset : text.offset + len(text) + 1]
        data = text.buffers()[2]
        cuts = [0, *(np.flatnonzero(parts[1:] != parts[:-1]) + 1), len(parts)]
        for a, b in zip(cuts, cuts[1:]):
            part = int(parts[a])
            if not rows or rows[-1]["part"] != part:
                if any(r["part"] == part for r in rows):
                    raise RuntimeError(f"write_part_files: reducer {part} in two runs")
                if f is not None:
                    f.close()
                path = os.path.join(tmp, f"part-{part:05d}-{attempt}")
                rows.append({"part": part, "path": path, "lines": 0, "bytes": 0})
                f = open(path, "wb")
            lo, hi = int(offsets[a]), int(offsets[b])
            f.write(data[lo:hi])
            rows[-1]["lines"] += b - a
            rows[-1]["bytes"] += hi - lo
    if f is not None:
        f.close()
    yield pa.RecordBatch.from_pylist(
        rows,
        schema=pa.schema([("part", pa.int32()), ("path", pa.string()),
                          ("lines", pa.int64()), ("bytes", pa.int64())]),
    )


def write_part_files(
    postings: DataFrame, out: Path, tasks: int
) -> list[tuple[str, int, int]]:
    """The reference's sink (src/main.c:92-98): each non-empty reducer
    partition of the one-column text frame ``postings`` becomes
    ``out/part-%05d.txt``, its lines as ``write.text`` writes them.

    The reducer id (``spark_partition_id()``) is projected below a
    ``coalesce`` to ``tasks`` writer tasks; each writer task gets its
    reducers one whole run at a time, in no set order, and writes each
    run to ``out/_temporary``.  The driver collects the
    commit rows, renames each file to its reducer's name, removes
    ``_temporary`` and writes ``_SUCCESS``.  A failed job leaves no part
    file and no ``_temporary``.  Returns ``(path, lines, bytes)`` per
    part file, in reducer order."""
    tmp = out / "_temporary"
    tmp.mkdir(parents=True)
    framed = postings.select(
        F.spark_partition_id().alias("part"),
        F.concat(postings.columns[0], F.lit("\n")).alias("line"),
    ).coalesce(tasks)
    committed: list[tuple[str, int, int]] = []
    try:
        rows = framed.mapInArrow(partial(_write_runs, str(tmp)), _COMMIT_SCHEMA).collect()
        for r in sorted(rows):
            final = out / f"part-{r.part:05d}.txt"
            if final.exists():
                raise RuntimeError(f"write_part_files: reducer {r.part} committed twice")
            os.replace(r.path, final)
            committed.append((str(final), r.lines, r.bytes))
    except BaseException:
        for path, _, _ in committed:
            os.unlink(path)
        raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    (out / "_SUCCESS").touch()
    return committed


def _run_app(
    spark: SparkSession,
    job: MapReduceJob,
    app: str,
    write: Callable[[Path, dict], tuple[dict, list[tuple[str, int]]]],
) -> JobResult:
    """The steps every job-API app shares, the reference's MR_Run
    (src/job.c:157-293): validate, clear the output dir (or refuse an
    existing one, before any job runs), time ``write(out, config)``
    (which builds the app's plan, adds its plan-time choices to the
    report's ``config``, writes the plan under ``out`` and returns the
    app's own counters and its part files with their sizes), then
    report.  The part files give the shard count and skew table."""
    job.validate()
    out = Path(job.output_dir)
    if out.exists():
        if not job.clear_output:
            raise FileExistsError(f"output directory exists: {out}")
        shutil.rmtree(out)

    metrics = JobMetrics(config={
        "app": app,
        "input_paths": list(job.input_paths),
        "output_dir": job.output_dir,
        "num_partitions": job.num_partitions,
        "readers": job.readers,
        "mappers": job.mappers,
    })
    stage_floor = max_stage_id(spark)
    t0 = time.perf_counter()
    counters, sized = write(out, metrics.config)
    metrics.wall_s = round(time.perf_counter() - t0, 3)

    files = sorted(path for path, _ in sized)
    metrics.counters.update(counters)
    metrics.counters["n_output_files"] = len(files)
    metrics.counters["input_bytes"] = input_bytes(job.input_paths)
    # Stage clocks + skew table, reference metrics.c parity: stage rows
    # come from the driver status store (scoped to this job's stages),
    # the skew table from reducer shard sizes.
    metrics.stages = collect_stage_metrics(spark, after=stage_floor)
    metrics.partition_top = partition_skew(sized)
    if job.metrics_path:
        metrics.write_report(job.metrics_path)
    if job.verbose:
        print(metrics.render_report())
    return JobResult(output_dir=str(out), metrics=metrics, output_files=files)


def run_inverted_index_job(spark: SparkSession, job: MapReduceJob) -> JobResult:
    """The flagship pipeline end-to-end over raw text files:
    ``inverted_index_plan`` written by ``write_part_files`` as
    part-%05d.txt shards.  The report's config names the input file
    count, the postings reducer that ran (``bitmap`` or ``set``) and the
    writer tasks; its counters hold the lines and bytes written."""

    def write(out: Path, config: dict) -> tuple[dict, list[tuple[str, int]]]:
        postings, choice = inverted_index_plan(
            spark, job.input_paths, job.num_partitions
        )
        # One writer task per core at most (the reference: one file per
        # reducer thread, src/main.c:92-98).
        tasks = min(job.num_partitions, spark.sparkContext.defaultParallelism)
        config.update(choice, writer_tasks=tasks)
        parts = write_part_files(postings, out, tasks)
        counters = {
            "output_lines": sum(lines for _, lines, _ in parts),
            "output_bytes": sum(nbytes for _, _, nbytes in parts),
        }
        return counters, [(path, nbytes) for path, _, nbytes in parts]

    return _run_app(spark, job, "inverted_index", write)


def parse_cli(argv: list[str]) -> MapReduceJob:
    """CLI parity with the reference runner (src/job.c:103-120): ``-i``
    readers, ``-m`` mappers, ``-r`` reducers, ``-v/--verbose``, then
    positional input files/dirs/globs.  Readers/mappers are thread-pool
    knobs in the reference; under Spark they map to configuration
    (``-i`` -> input split parallelism, ``-m`` -> local[N] cores), so
    they are accepted, bounds-checked like src/job.c:71-84, and echoed
    into the metrics config rather than changing the plan."""
    import argparse

    p = argparse.ArgumentParser(
        prog="mapreduce-spark",
        description="Flagship inverted-index job (reference src/main.c parity)",
    )
    p.add_argument("inputs", nargs="+", help="input files, dirs, or globs")
    p.add_argument("-i", type=int, default=1, dest="readers", metavar="READERS")
    p.add_argument("-m", type=int, default=20, dest="mappers", metavar="MAPPERS")
    p.add_argument("-r", type=int, default=40, dest="reducers", metavar="REDUCERS")
    p.add_argument("-o", "--output", default="output", dest="output_dir")
    p.add_argument("--metrics", default="metrics_report.txt", dest="metrics_path")
    p.add_argument("-v", "--verbose", action="store_true")
    a = p.parse_args(argv)
    # Reference bounds (src/job.c:71-84).
    if not 1 <= a.readers <= 10:
        p.error(f"num_readers must be 1-10 (got {a.readers})")
    if not 1 <= a.mappers <= 1000:
        p.error(f"num_mappers must be 1-1000 (got {a.mappers})")
    if not 1 <= a.reducers <= 1000:
        p.error(f"num_reducers must be 1-1000 (got {a.reducers})")
    return MapReduceJob(
        input_paths=list(a.inputs),
        output_dir=a.output_dir,
        num_partitions=a.reducers,
        verbose=a.verbose,
        metrics_path=a.metrics_path,
        readers=a.readers,
        mappers=a.mappers,
    )


def main(argv: list[str] | None = None) -> None:
    import sys

    from mapreduce_c_implementation_spark.session import build_session

    job = parse_cli(sys.argv[1:] if argv is None else argv)
    spark = build_session("mapreduce-job", cores=job.mappers)
    try:
        result = run_inverted_index_job(spark, job)
        print(
            f"wrote {len(result.output_files)} shards to {result.output_dir} "
            f"in {result.metrics.wall_s}s"
        )
    finally:
        spark.stop()


if __name__ == "__main__":  # pragma: no cover - exercised via parse_cli tests
    main()


def run_corpus_pipeline_job(spark: SparkSession, job: MapReduceJob) -> JobResult:
    """The second end-to-end APPLICATION on the job API — where the
    reference ships exactly one app (the inverted index, src/main.c),
    this is the LLM-corpus equivalent: parquet documents in ->
    quality filter -> exact dedup (keep min doc per content digest) ->
    deterministic md5 split -> parquet shards partitioned by split.

    Same thresholds and expressions as the registered operators
    ([[corpus_quality_filter]] rules, [[dedup_exact]] digest,
    [[deterministic_split]] buckets), so the job's behavior is the
    oracle-verified behavior.  Counters ride the sink action via
    ``Observation`` (CollectMetrics in-plan — no extra pass over the
    data, the reference's metrics.c always-on discipline): input docs,
    kept docs, deduped docs, output tokens.

    Scale shape: filter is a narrow map; dedup shuffles only (digest,
    doc) pairs; the split column is a pure hash map; the sink
    repartitions on doc_id so each split directory gets at most
    ``num_partitions`` deterministic shards.  One scan, two keyed
    shuffles (digest, sink sharding), one write.
    """
    from pyspark.sql import Observation

    from mapreduce_c_implementation_spark.operators.textanalysis import (
        QF_MIN_ALPHA_RATIO,
        QF_MIN_DISTINCT_RATIO,
        QF_MIN_TOKENS,
        SPLIT_TRAIN_PCT,
        SPLIT_VALID_PCT,
    )

    def write(out: Path, config: dict) -> dict:
        obs_in = Observation("corpus_in")
        obs_out = Observation("corpus_out")

        docs = spark.read.parquet(*job.input_paths).observe(
            obs_in, F.count(F.lit(1)).alias("n_input_docs")
        )
        toks = docs.select(
            "doc_id", "text", "lang", "source",
            tokenize(F.col("text")).alias("tokens"),
        )
        text_len = F.length("text")
        n_tok = F.size("tokens")
        alpha_ratio = (
            F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("double")
            / F.when(text_len == 0, F.lit(1)).otherwise(text_len)
        )
        distinct_ratio = (
            F.size(F.array_distinct("tokens")).cast("double")
            / F.when(n_tok == 0, F.lit(1)).otherwise(n_tok)
        )
        kept = toks.filter(
            (n_tok >= QF_MIN_TOKENS)
            & (alpha_ratio >= QF_MIN_ALPHA_RATIO)
            & (distinct_ratio >= QF_MIN_DISTINCT_RATIO)
        )
        # Exact dedup: one representative (min doc_id) per content digest —
        # min_by over the full row, digest-keyed shuffle only.
        deduped = (
            kept.withColumn("digest", F.md5(F.col("text")))
            .groupBy("digest")
            .agg(F.min_by(F.struct("doc_id", "text", "lang", "source", "tokens"),
                          F.col("doc_id")).alias("r"))
            .select("r.doc_id", "r.text", "r.lang", "r.source", "r.tokens")
        )
        bucket = (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long") % 100
        )
        final = (
            deduped.select(
                "doc_id", "text", "lang", "source",
                F.size("tokens").cast("long").alias("n_tokens"),
                F.when(bucket < SPLIT_TRAIN_PCT, "train")
                .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VALID_PCT, "valid")
                .otherwise("test")
                .alias("split"),
            )
            .observe(
                obs_out,
                F.count(F.lit(1)).alias("n_output_docs"),
                F.sum("n_tokens").alias("n_output_tokens"),
            )
            .repartition(job.num_partitions, F.col("doc_id"))
        )
        final.write.partitionBy("split").parquet(str(out))
        counters = {
            "n_input_docs": int(obs_in.get["n_input_docs"]),
            "n_output_docs": int(obs_out.get["n_output_docs"]),
            "n_output_tokens": int(obs_out.get["n_output_tokens"]),
        }
        return counters, [(str(p), p.stat().st_size) for p in out.rglob("part-*")]

    return _run_app(spark, job, "corpus_pipeline", write)

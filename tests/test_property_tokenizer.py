"""Property-based differential test of the tokenizer against a pure-
Python reimplementation of the reference Map
(/root/reference/src/main.c:28-59) — hypothesis generates adversarial
inputs the fixtures don't contain (the randomized upgrade of the
reference's sequential-oracle discipline, SURVEY.md §5)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def reference_map(text: str) -> list[str]:
    """Faithful Python port of the reference tokenizer SEMANTICS (per
    SURVEY §2 row 5): ASCII isalnum runs, lowercased, capped at 255
    chars with the tail DROPPED (not emitted as a new token)."""
    out: list[str] = []
    word: list[str] = []
    for ch in text:
        if ch.isascii() and ch.isalnum():
            if len(word) < 255:
                word.append(ch.lower())
        else:
            if word:
                out.append("".join(word))
                word = []
    if word:
        out.append("".join(word))
    return out


# Printable-ish ASCII plus a few multibyte chars to probe the
# non-ASCII-as-delimiter rule.
_ALPHABET = st.characters(
    codec="utf-8", categories=("L", "N", "P", "S", "Z"), include_characters=" \t"
)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.text(_ALPHABET, max_size=600), min_size=1, max_size=40))
def test_tokenize_matches_reference_semantics(spark, texts):
    from pyspark.sql import functions as F

    from mapreduce_c_implementation_spark.functions.text import tokenize

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "text"])
    got = {
        r.i: r.toks
        for r in df.select("i", tokenize(F.col("text")).alias("toks")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == reference_map(t), f"mismatch on {t!r}"


@settings(deadline=None, max_examples=30, suppress_health_check=[HealthCheck.too_slow])
@given(
    tokens=st.lists(
        st.text(alphabet="abc012", min_size=1, max_size=5), max_size=8
    ),
    n=st.integers(min_value=1, max_value=4),
)
def test_ngram_helper_cross_engine_parity(tokens, n):
    """functions.text.ngrams (Spark) and duckdb_ngrams (oracle SQL) must
    produce identical n-gram lists for ANY token list and any n — the
    single-source-of-truth contract the corpus-hygiene oracles rely on."""
    import duckdb

    from mapreduce_c_implementation_spark.functions.text import duckdb_ngrams

    expected = [
        " ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)
    ] if len(tokens) >= n else []
    lits = ", ".join("'" + t + "'" for t in tokens)
    sql = duckdb_ngrams(f"[{lits}]", n) if tokens else duckdb_ngrams("CAST([] AS VARCHAR[])", n)
    got_sql = duckdb.sql(f"SELECT {sql} AS g").fetchone()[0]
    assert list(got_sql) == expected


_NOISE = [" ", "\t", "\r\n", "\n", "-", "..", "é", "ÿ", "ß", "İ", "ı", "Ω",
          "中文", "e\u0301", "\u0301", "\x00", "\x07", "\x1f", "\x7f", "😀"]


def _random_line(rng) -> str | None:
    if rng.random() < 0.08:
        return None
    out = []
    for _ in range(rng.randint(0, 12)):
        r = rng.random()
        if r < 0.45:
            out.append("".join(rng.choice("aZq09xKM") for _ in range(rng.randint(1, 8))))
        elif r < 0.5:
            out.append("".join(rng.choice("aB7") for _ in range(rng.randint(250, 300))))
        else:
            out.append(rng.choice(_NOISE))
    return "".join(out)


def test_arrow_pairs_match_jvm_tokenize(spark):
    """Differential property: ``tokenize_pairs_arrow`` yields exactly the
    distinct (word, fname) pairs of the JVM ``tokenize``, on seeded random
    lines mixing ASCII, Latin-1/CJK/combining marks, control bytes,
    CRLF and >255-char runs, with NULL lines, several files per batch,
    and sliced (non-zero offset) input batches.  File names come back
    URI-decoded."""
    import random
    from urllib.parse import unquote

    import pyarrow as pa
    from pyspark.sql import functions as F

    from mapreduce_c_implementation_spark.functions.text import (
        tokenize,
        tokenize_pairs_arrow,
    )

    names = ["a.txt", "my%20doc%231.txt", "a+b.txt"]
    rows = []
    for seed in range(4):
        rng = random.Random(seed)
        rows += [(_random_line(rng), rng.choice(names)) for _ in range(150)]
    table = pa.table({"line": [r[0] for r in rows], "fname": [r[1] for r in rows]})
    batches = table.to_batches(max_chunksize=37)
    assert any(b.column("line").offset for b in batches)  # sliced inputs
    assert any(len(set(b.column("fname").to_pylist())) > 1 for b in batches)
    got = {
        (w, f)
        for b in tokenize_pairs_arrow(iter(batches))
        for w, f in zip(b.column("word").to_pylist(), b.column("fname").to_pylist())
    }
    df = spark.createDataFrame(rows, "line string, fname string")
    want = {
        (r.word, unquote(r.fname))
        for r in df.select(F.explode(tokenize(F.col("line"))).alias("word"), "fname")
        .distinct()
        .collect()
    }
    assert got == want
    assert any(len(w) == 255 for w, _ in got)  # truncation exercised
    assert {f for _, f in got} == {"a.txt", "my doc#1.txt", "a+b.txt"}


def test_arrow_pairs_treat_invalid_utf8_as_delimiters():
    """Bytes that are not valid UTF-8 are delimiters like any other
    non-alnum byte: the cleaned buffer is ASCII before any kernel reads
    it as text."""
    import pyarrow as pa

    from mapreduce_c_implementation_spark.functions.text import tokenize_pairs_arrow

    raw = b"Caf\xe9 OK\xff\xfeZ9"
    offsets = pa.array([0, len(raw)], pa.int32()).buffers()[1]
    lines = pa.Array.from_buffers(pa.string(), 1, [None, offsets, pa.py_buffer(raw)])
    batch = pa.record_batch([lines, pa.array(["f"])], names=["line", "fname"])
    out = list(tokenize_pairs_arrow(iter([batch])))
    assert sorted(w for b in out for w in b.column("word").to_pylist()) == ["caf", "ok", "z9"]


def test_ngram_helper_spark_matches_python(spark):
    """Spark side of the ngram helper over a handful of pinned shapes."""
    from pyspark.sql import functions as F

    from mapreduce_c_implementation_spark.functions.text import ngrams

    rows = [(["a"],), (["a", "b"],), (["a", "b", "c", "d"],), ([],)]
    df = spark.createDataFrame(rows, "tokens: array<string>")
    for n in (1, 2, 3):
        got = [r[0] for r in df.select(ngrams(F.col("tokens"), n)).collect()]
        want = [
            [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]
            if len(t) >= n
            else []
            for (t,) in rows
        ]
        assert got == want, (n, got, want)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    tokens=st.lists(st.text(alphabet="abcxyz", min_size=1, max_size=4), max_size=12)
)
def test_skipgram_inrow_pairing_matches_python(spark, tokens):
    """The in-row index-lambda pairing inside skipgram_cooccurrence must
    emit exactly the forward-window pairs a naive Python loop produces,
    for ANY token list (empty, shorter than the window, duplicates)."""
    from pyspark.sql import functions as F

    from mapreduce_c_implementation_spark.operators.textanalysis import (
        SKIPGRAM_WINDOW,
    )

    expected = sorted(
        (tokens[i], tokens[j])
        for i in range(len(tokens))
        for j in range(i + 1, min(i + 1 + SKIPGRAM_WINDOW, len(tokens)))
    )
    df = spark.createDataFrame([(tokens,)], "ts: array<string>")
    pairs = df.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ts"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ts"), i + 2, SKIPGRAM_WINDOW),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.a", "p.b")
    got = sorted((r.a, r.b) for r in pairs.collect())
    assert got == expected


def test_char_entropy_fixed_point_matches_python(spark):
    """char_entropy_quality's fixed-point formula vs a direct Python
    evaluation of the same quantization on pinned adversarial shapes:
    uniform (max entropy), single-char (zero), and skewed."""
    import math
    from collections import Counter

    from mapreduce_c_implementation_spark.operators.textanalysis import (
        ENTROPY_SCALE,
    )
    from mapreduce_c_implementation_spark.registry import get_operator  # noqa: F401

    texts = ["abcdefgh", "aaaaaaaa", "aaab", "ab" * 50, "z"]

    def py_entropy_milli(text: str) -> int:
        c = Counter(text)
        n = sum(c.values())
        s = sum(v * math.floor(math.log2(v) * ENTROPY_SCALE) for v in c.values())
        return math.floor(math.log2(n) * ENTROPY_SCALE) - s // n

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    counts = (
        df.select("doc_id", F.explode(F.split(F.col("text"), "(?!^)")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("c"))
    )
    got = {
        r.doc_id: r.h
        for r in counts.groupBy("doc_id")
        .agg(
            (
                F.floor(F.log2(F.sum("c")) * ENTROPY_SCALE).cast("long")
                - F.expr(
                    f"sum(c * cast(floor(log2(c) * {ENTROPY_SCALE}) as bigint))"
                    " div sum(c)"
                )
            ).alias("h")
        )
        .collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == py_entropy_milli(t), t
    # sanity: uniform 8-char alphabet = 3 bits exactly; single char = 0
    assert got[0] == 3 * ENTROPY_SCALE
    assert got[1] == 0

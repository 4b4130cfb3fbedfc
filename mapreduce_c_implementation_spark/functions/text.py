"""Column-expression helpers shared by the text operators.

Tokenizer parity with the reference Map (/root/reference/src/main.c:28-59):
C ``isalnum``/``tolower`` in the C locale are ASCII-only, and tokens are
capped at 255 bytes (a longer alnum run keeps its first 255 chars; the
tail is dropped, NOT emitted as a second token).  We therefore:

1. split on the ASCII class ``[^a-zA-Z0-9]+`` (never ``\\W``/``\\p{Alnum}``,
   which are Unicode-aware);
2. lowercase AFTER splitting — the surviving tokens are pure ASCII, where
   Spark/DuckDB Unicode ``lower`` coincides exactly with C ``tolower``;
3. truncate to 255 chars (== bytes for ASCII-only tokens).

``tokenize`` is a pure JVM column expression — no Python UDF — so the
oracle-paired operators' map stages stay inside whole-stage codegen.
``tokenize_pairs_arrow`` is its Arrow twin for the flagship job's map and
combine, on a byte-class table instead of the regex.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_DELIM_REGEX = "[^a-zA-Z0-9]+"
MAX_TOKEN_CHARS = 255  # reference: char word[256] (src/main.c:38,42-44)


def tokenize(text: Column) -> Column:
    """text -> array<string> of lowercased ASCII-alnum tokens (no empties).

    Implemented as ``regexp_extract_all`` with a POSITIVE class — not
    ``split`` on the negated class: semantically identical (alnum runs ==
    complement-split tokens minus empties), but measured ~20x faster on a
    668 MB corpus (87s -> 4.3s per scan; Pattern.split on long lines is
    pathologically slow), and it needs no empty-token filter.

    The 255-char truncation is folded INTO the pattern: the capture
    group keeps the first 255 chars of a run and ``[A-Za-z0-9]*``
    swallows the tail (reference semantics: tail dropped, never emitted
    as a second token).  That leaves only a plain per-token ``lower`` in
    the array lambda — the fused lower∘substring lambda it replaces
    evaluated interpreted per element and measured ~1.6x slower
    steady-state (4x cold) on the flagship corpus.  Extraction runs on
    the RAW text so Unicode lowercasing can never manufacture ASCII
    tokens (e.g. İ -> i̇) that C tokenization would not produce.

    Equivalent DuckDB expression (oracle side):
        list_transform(
          list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'), t -> t <> ''),
          t -> lower(substr(t, 1, 255)))
    """
    raw = F.regexp_extract_all(
        text,
        F.lit(f"([A-Za-z0-9]{{1,{MAX_TOKEN_CHARS}}})[A-Za-z0-9]*"),
        F.lit(1),
    )
    return F.transform(raw, F.lower)


# Byte-class table for ``tokenize_pairs_arrow``: ASCII letters and
# digits map to their lower-case selves, every other byte (UTF-8 lead
# and continuation bytes included) to a space.
_BYTE_CLASS = bytes(
    c + 32 if 65 <= c <= 90 else c if 48 <= c <= 57 or 97 <= c <= 122 else 32
    for c in range(256)
)
# A file's pending per-batch word sets are merged into one once this
# many words were added since the last merge, so combiner state follows
# the file's distinct words, not its batch count.
_PENDING_WORDS = 1 << 20


def _byte_classes(lines):
    """``lines`` with every byte mapped through ``_BYTE_CLASS``, NULLs
    as empty strings: a string array over the same offsets, rebased so
    that a sliced input costs only its own bytes."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if lines.null_count:
        lines = pc.fill_null(lines, "")
    width = 8 if pa.types.is_large_string(lines.type) else 4
    _, offsets, data = lines.buffers()
    offs = np.frombuffer(
        offsets, dtype=f"<i{width}", count=len(lines) + 1, offset=lines.offset * width
    )
    lo, hi = int(offs[0]), int(offs[-1])
    text = memoryview(data)[lo:hi].tobytes().translate(_BYTE_CLASS) if hi > lo else b""
    return pa.Array.from_buffers(
        lines.type, len(lines), [None, pa.py_buffer(offs - lo), pa.py_buffer(text)]
    )


def tokenize_pairs_arrow(batches):
    """Arrow-native twin of ``tokenize`` for the flagship job's map+combine
    stage: an iterator-of-record-batches function (``mapInArrow``) that
    turns (line, fname) batches into the task's DISTINCT (word, fname)
    pairs (guide §4.2 — hand whole batches to vectorized native kernels;
    §2.3 — combine before the exchange).  ``fname`` arrives as Spark
    reports file names, percent-encoded; each distinct name is decoded
    once with ``urllib.parse.unquote`` (URI decoding: ``+`` stays ``+``),
    so the postings list files by the names they have on disk.

    Why a byte table is exact: a token is a run of ASCII ``[A-Za-z0-9]``
    and every other character is a delimiter.  In UTF-8 every byte of a
    multibyte character is >= 0x80, so no such byte is ever part of an
    ASCII letter or digit, and a byte-by-byte class decides the same
    splits as a codepoint-by-codepoint one.  Kernels, per batch:

    - ``bytes.translate(_BYTE_CLASS)`` over the batch's string data
      buffer, once, rebuilt over the same offsets (``_byte_classes``):
      ``A-Z`` become ``a-z``, every non-alnum byte becomes a space.  The
      result is pure ASCII, so invalid UTF-8 input cannot trip a later
      kernel, and lowercasing can never manufacture an ASCII token out
      of a Unicode letter (İ stays a delimiter, as in C ``tolower``);
    - ``ascii_split_whitespace`` on that one delimiter byte (runs split
      once, as ``split_pattern(" ")`` would after dropping its empty
      pieces; only a line's leading/trailing run leaves an empty token,
      dropped after ``unique``);
    - ``unique`` of the words per distinct ``fname`` in the batch (the
      map-side combiner: the reference's combiner cut,
      src/main.c:62-81);
    - per file at end of task: ``unique`` of its batches' word sets,
      then, only if some word is longer than ``MAX_TOKEN_CHARS``,
      ``utf8_slice_codeunits(0, 255)`` and ``unique`` again (a long
      run keeps its first 255 chars and the tail is DROPPED, never a
      second token — reference src/main.c:38-44).

    Bounded state: a file's pending word sets are merged with ``unique``
    whenever they grow by ``_PENDING_WORDS`` words, so memory follows
    the distinct words per file, not the number of batches.

    Equivalence to the JVM ``tokenize`` is tested on adversarial rows
    (tests/test_job_api.py) and as a seeded differential property with
    NULL lines, sliced batches and several files per batch
    (tests/test_property_tokenizer.py).
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    from urllib.parse import unquote

    pending: dict = {}  # fname -> word sets not merged yet
    grown: dict = {}  # fname -> words added to them since the last merge
    for b in batches:
        if not b.num_rows:
            continue
        lists = pc.ascii_split_whitespace(_byte_classes(b.column("line")))
        words = pc.list_flatten(lists)
        files = pc.dictionary_encode(b.column("fname"), null_encoding="encode")
        if len(files.dictionary) == 1:
            per_file = [(files.dictionary[0].as_py(), words)]
        else:
            owner = pc.take(files.indices, pc.list_parent_indices(lists))
            per_file = [
                (name.as_py(), pc.filter(words, pc.equal(owner, i)))
                for i, name in enumerate(files.dictionary)
            ]
        for name, w in per_file:
            sets = pending.setdefault(name, [])
            sets.append(pc.unique(w))
            grown[name] = grown.get(name, 0) + len(sets[-1])
            if grown[name] > _PENDING_WORDS:
                pending[name], grown[name] = [pc.unique(pa.concat_arrays(sets))], 0
    for name, sets in pending.items():
        words = pc.unique(pa.concat_arrays(sets))
        words = pc.filter(words, pc.greater(pc.binary_length(words), 0))
        if len(words) and pc.max(pc.binary_length(words)).as_py() > MAX_TOKEN_CHARS:
            words = pc.unique(pc.utf8_slice_codeunits(words, 0, MAX_TOKEN_CHARS))
        fname = pa.scalar(None if name is None else unquote(name), pa.string())
        out = pa.record_batch(
            [words, pa.repeat(fname, len(words))], names=["word", "fname"]
        )
        for at in range(0, len(words), 1 << 16):
            yield out.slice(at, 1 << 16)


# The DuckDB-side rendering of ``tokenize`` over a column named {col}.
DUCKDB_TOKENIZE = (
    "list_transform("
    "list_filter(string_split_regex({col}, '[^a-zA-Z0-9]+'), t -> t <> ''), "
    "t -> lower(substr(t, 1, 255)))"
)


def ngrams(tokens: Column, n: int) -> Column:
    """array<string> of space-joined word n-grams over a token array;
    empty array when the document has fewer than ``n`` tokens.  The
    single source of truth for n-gram construction — the DuckDB mirror
    is ``duckdb_ngrams`` and both are parameterized by the same ``n``,
    so the Spark and oracle sides cannot drift."""
    return (
        F.when(
            F.size(tokens) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(tokens, i + j) for j in range(n)]
                ),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
    )


def duckdb_ngrams(tokens_sql: str, n: int) -> str:
    """DuckDB rendering of :func:`ngrams` over a list expression.

    ``tokens_sql`` is inlined at each use site (pass a CTE column name,
    not a heavy expression) — a correlated scalar subquery would let us
    bind it once, but DuckDB's binder rejects self-shadowing aliases
    there, and every caller passes a plain column anyway."""
    joined = " || ' ' || ".join(
        f"{tokens_sql}[i + {j}]" if j else f"{tokens_sql}[i]" for j in range(n)
    )
    return (
        f"CASE WHEN len({tokens_sql}) >= {n} THEN "
        f"list_transform(generate_series(1, len({tokens_sql}) - {n - 1}), "
        f"i -> {joined}) "
        f"ELSE [] END"
    )

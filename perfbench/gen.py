"""Seeded input generators for the benchmark workloads.

Everything the program under test reads is made here from ``--seed``:
the same seed gives byte-identical inputs.

- ``write_corpus``: the flagship's raw text corpus in the reference's
  shape (7 text files, Zipf(s~1) tokens over a large vocabulary), plus
  the postings it must produce, derived from the generator's own token
  ids rather than from any tokenizer.
- ``write_tables``: the fixture schema the registered operators read
  (TPC-H-ish star schema, ``events``, ``documents``, ``embeddings``),
  one parquet file per table, with the column types and value domains
  of the repository's test fixtures (FIXTURES.md).
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_ALNUM = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", dtype=np.uint8)
# What follows each token: a run of non-alphanumerics, so tokenization
# splits exactly there and the generator's token ids are the postings'
# ground truth.  The last one ends a line; the next line's first word is
# capitalized (the tokenizer lowercases).
_SEPS = (b" ", b", ", b"; ", b" (", b") ", b" - ", b".\n")
_SEP_P = (0.80, 0.06, 0.02, 0.02, 0.02, 0.01, 0.07)
_EOL = len(_SEPS) - 1


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct lowercase alphanumeric words of 2-12 chars,
    starting with a letter, in random order (``S12`` array)."""
    n = int(size * 1.3) + 1000
    lens = rng.integers(2, 13, n)
    chars = _ALNUM[rng.integers(0, 36, (n, 12))]
    chars[:, 0] = _ALNUM[rng.integers(0, 26, n)]
    chars[np.arange(12) >= lens[:, None]] = 0
    words = np.unique(chars.view("S12").ravel())
    if words.size < size:
        raise ValueError(f"vocabulary draw gave {words.size} < {size} words")
    return words[rng.permutation(words.size)[:size]]


def write_corpus(
    root: Path, seed: int, n_files: int, file_bytes: int, vocab_size: int
) -> dict:
    """Write ``n_files`` text files of about ``file_bytes`` each under
    ``root``.  Token ranks follow Zipf(s~1) over ``vocab_size`` words
    (inverse of the continuous CDF, P(rank k) ~ 1/(k + 1.5)).  Returns
    the corpus description, including ``expected_hash``: the
    ``postings_hash`` of the lines the inverted index must write
    (``word -> [f1, f2]``, files sorted)."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(rng, vocab_size)
    # One byte pool: every word, then every separator; a token stream is
    # a gather of (offset, length) segments from it.
    mat = vocab.view(np.uint8).reshape(vocab_size, 12)
    word_len = (mat != 0).sum(axis=1)
    sep_len = np.array([len(x) for x in _SEPS])
    pool = np.concatenate([mat[mat != 0], np.frombuffer(b"".join(_SEPS), np.uint8)])
    word_off = np.cumsum(word_len) - word_len
    sep_off = word_len.sum() + np.cumsum(sep_len) - sep_len
    tokens_per_file = int(file_bytes / (word_len.mean() + 1.4))
    log_n = np.log(vocab_size + 1.0)

    root.mkdir(parents=True, exist_ok=True)
    names = [f"doc_{i:02d}.txt" for i in range(n_files)]
    mask = np.zeros(vocab_size, dtype=np.int64)
    pairs = 0
    n = tokens_per_file
    for f, name in enumerate(names):
        ids = np.minimum(np.exp(rng.random(n) * log_n).astype(np.int64) - 1, vocab_size - 1)
        present = np.unique(ids)
        mask[present] |= 1 << f
        pairs += present.size
        sep = rng.choice(len(_SEPS), n, p=_SEP_P)
        sep[-1] = _EOL
        src = np.empty(2 * n, dtype=np.int64)
        seg = np.empty(2 * n, dtype=np.int64)
        src[0::2], src[1::2] = word_off[ids], sep_off[sep]
        seg[0::2], seg[1::2] = word_len[ids], sep_len[sep]
        ends = np.cumsum(seg)
        starts = ends - seg
        buf = pool[np.arange(ends[-1]) + np.repeat(src - starts, seg)]
        line_start = starts[0::2][np.concatenate(([True], sep[:-1] == _EOL))]
        buf[line_start] -= 32  # words start with a lowercase letter
        (root / name).write_bytes(buf.tobytes())

    seen = np.flatnonzero(mask)
    suffix = np.array(
        [" -> [" + ", ".join(x for f, x in enumerate(names) if m >> f & 1) + "]"
         for m in range(1 << n_files)],
        dtype=object,
    )
    lines = vocab[seen].astype("U12").astype(object) + suffix[mask[seen]]
    return {
        "files": n_files,
        "bytes": sum((root / x).stat().st_size for x in names),
        "tokens": n * n_files,
        "vocab": vocab_size,
        "vocab_seen": int(seen.size),
        "pairs": pairs,
        "expected_hash": postings_hash(lines.tolist()),
    }


def postings_hash(lines: list[str]) -> str:
    """Order-independent digest of a list of text lines: line count plus
    the SHA-256 of the sorted lines."""
    body = "\n".join(sorted(lines)).encode()
    return f"{len(lines)}:{hashlib.sha256(body).hexdigest()[:16]}"


# ---------------------------------------------------------------------------
# Fixture tables


_DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(rng, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "ms")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    """Texts of 10-100 words over the fixture's 31-word vocabulary; about
    2% exact copies and 3% one-word edits of earlier documents, so the
    dedup operators find duplicates and near-duplicates."""
    lens = rng.integers(10, 101, n)
    words = np.asarray(_DOC_WORDS, dtype=object)[rng.integers(0, len(_DOC_WORDS), int(lens.sum()))]
    texts = []
    start = 0
    for k in lens.tolist():
        texts.append(" ".join(words[start:start + k]))
        start += k
    kind = rng.random(n)
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in range(1, n):
        if kind[i] < 0.02:
            texts[i] = texts[src[i]]
        elif kind[i] < 0.05:
            toks = texts[src[i]].split(" ")
            toks[int(rng.integers(0, len(toks)))] = _DOC_WORDS[int(rng.integers(0, len(_DOC_WORDS)))]
            texts[i] = " ".join(toks)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def _events(rng, n: int, n_users: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n)) + start
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        # The fixture stores TIMESTAMP(NANOS), µs-aligned.
        "ts": pa.array((ts * 1000).astype("datetime64[ns]")),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()]),
    })


def write_tables(root: Path, seed: int, sf: float) -> dict:
    """Write the ten fixture tables at scale factor ``sf`` under ``root``
    (``lineitem`` has about 6 M x sf rows) and return the row counts."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731

    orderdate = _days(rng, "1995-01-01", 2404, n_ord)
    line_order = rng.integers(0, n_ord, n_line)
    tables = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(_REGIONS)}),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }),
        "customer": pa.table({
            "c_custkey": i64(range(n_cust)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": i64(range(n_supp)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": i64(range(n_part)),
            "p_name": pa.array([
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part).tolist(), rng.integers(0, 8, n_part).tolist())
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()]),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": i64(range(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": pa.array(orderdate),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": i64(line_order),
            "l_partkey": i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": pa.array(
                orderdate[line_order] + rng.integers(1, 96, n_line).astype("timedelta64[D]")
            ),
        }),
        "events": _events(rng, n_evt, n_cust),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    root.mkdir(parents=True, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, root / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


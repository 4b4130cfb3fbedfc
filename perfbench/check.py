"""Output checks.

- The inverted index: every line of every part file, as a set, must
  equal the postings derived from the generator's own token ids
  (``gen.postings_hash``), so the check shares no code with the
  tokenizer it checks.
- Registered operators: the Spark result must equal the operator's
  DuckDB ``oracle_sql`` on the same generated tables, compared as
  sorted canonical rows (floats to 12 significant digits, which absorbs
  summation-order jitter).  An operator without oracle SQL must return
  at least one row.
"""

from __future__ import annotations

import math
from pathlib import Path

from gen import postings_hash


def postings_mismatch(out_dir: Path, expected_hash: str) -> str | None:
    """None when the part files hold exactly the expected postings,
    else a one-line reason."""
    lines: list[str] = []
    for part in sorted(out_dir.glob("part-*")):
        lines.extend(part.read_text().splitlines())
    got = postings_hash(lines)
    return None if got == expected_hash else f"postings {got} != expected {expected_hash}"


def _canon(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<NULL>"
    if isinstance(v, float):
        return f"{v:.12g}"
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        return _canon(v.item())
    return str(v)


def canonical_rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(tuple(_canon(v) for v in row) for row in df[cols].itertuples(index=False))


def oracle_mismatch(got, oracle_sql: str | None, tables_dir: Path, table_names) -> str | None:
    """Compare a pandas result with the oracle SQL run by DuckDB over the
    parquet tables in ``tables_dir``; None when they agree."""
    if oracle_sql is None:
        return None if len(got) else "no rows (operator has no oracle SQL)"
    import duckdb

    con = duckdb.connect()
    try:
        for t in table_names:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir / t}.parquet')"
            )
        want = con.execute(oracle_sql).fetchdf()
    finally:
        con.close()
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    a, b = canonical_rows(got), canonical_rows(want)
    if a != b:
        diff = next((x, y) for x, y in zip(a + [None], b + [None]) if x != y)
        return f"{len(a)} rows vs oracle {len(b)}; first difference {diff}"
    return None

#!/usr/bin/env python
"""Generate docs/OPERATORS.md from the live registry — the line-by-line
operator catalog (name, module, tags, oracle pairing, docstring lead).
Run after adding operators; tests/test_extensions.py asserts the file
is byte for byte what ``render`` gives in a fresh interpreter."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def first_sentence(doc: str) -> str:
    text = " ".join((doc or "").split())
    for stop in (". ", ".\n"):
        if stop in text:
            return text[: text.index(stop) + 1]
    return text[:200]


def render() -> str:
    """The catalog's text, in the registry's order."""
    from mapreduce_c_implementation_spark.registry import all_operators

    ops = all_operators()
    lines = [
        "# Operator catalog",
        "",
        "Auto-generated by `scripts/gen_operators_md.py` from the live",
        "registry — one row per registered operator, in driver (`queries()`)",
        f"order.  **{len(ops)} operators, "
        f"{sum(1 for o in ops.values() if o.oracle_sql)} oracle-paired.**",
        "",
        "| # | Operator | Module | Tags | Oracle | Summary |",
        "|---|---|---|---|---|---|",
    ]
    for i, (name, op) in enumerate(ops.items(), 1):
        mod = op.query_fn.__module__.removeprefix(
            "mapreduce_c_implementation_spark."
        )
        summary = first_sentence(op.doc).replace("|", "\\|")
        tags = " ".join(op.tags)
        oracle = "SQL" if op.oracle_sql else "rows-only"
        lines.append(f"| {i} | `{name}` | {mod} | {tags} | {oracle} | {summary} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    out = Path(__file__).resolve().parents[1] / "docs" / "OPERATORS.md"
    out.write_text(render(), encoding="utf-8")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()

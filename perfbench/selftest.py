#!/usr/bin/env python3
"""Self-test of the benchmark's output checks; needs no Spark.

    python3 perfbench/selftest.py

1. The generator's expected postings equal postings derived by an
   independent regex tokenization of the files it wrote.
2. Those postings pass the flagship check; with one posting dropped
   they fail it, and every execution counts in ops_failed_ratio.
3. The oracle check passes a result equal to the oracle and fails one
   with a row dropped.
Exits 0 and prints ``selftest ok`` when all hold.
"""

from __future__ import annotations

import re
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402
from run import Run  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _postings(corpus: Path) -> list[str]:
    files_of: dict[str, set[str]] = {}
    for p in sorted(corpus.glob("*.txt")):
        for w in re.findall(r"[A-Za-z0-9]+", p.read_text()):
            files_of.setdefault(w[:255].lower(), set()).add(p.name)
    return [f"{w} -> [{', '.join(sorted(fs))}]" for w, fs in files_of.items()]


def _write_parts(out: Path, lines: list[str]) -> None:
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    for k in range(3):
        (out / f"part-{k:05d}").write_text("".join(f"{x}\n" for x in lines[k::3]))


def main() -> int:
    root = Path.cwd()
    run = Run("index_zipf", 7, 1.0, False, root)
    work = run.work
    work.mkdir(parents=True)
    try:
        desc = gen.write_corpus(work / "corpus", seed=7, n_files=3, file_bytes=200_000,
                                vocab_size=5_000)
        lines = _postings(work / "corpus")
        if gen.postings_hash(lines) != desc["expected_hash"]:
            raise AssertionError("generator postings differ from a regex tokenization")
        run.inputs = desc
        run.executions = [{"op": "index_zipf", "ok": True} for _ in range(3)]

        _write_parts(work / "postings", lines)
        run._check_postings()
        if run.bad_ops or run.failures():
            raise AssertionError(f"correct postings rejected: {run.bad_ops}")

        multi = next(i for i, x in enumerate(lines) if ", " in x)
        dropped = list(lines)
        dropped[multi] = re.sub(r", [^,\]]+\]$", "]", dropped[multi])
        _write_parts(work / "postings", dropped)
        run._check_postings()
        ratio = run.failures() / len(run.executions)
        if ratio != 1.0:
            raise AssertionError(f"dropped posting gave ops_failed_ratio {ratio}")

        gen.write_tables(work / "tables", seed=7, sf=0.001)
        import pyarrow.parquet as pq

        region = pq.read_table(work / "tables" / "region.parquet").to_pandas()
        sql = "SELECT r_regionkey, r_name FROM region"
        if check.oracle_mismatch(region, sql, work / "tables", TABLES):
            raise AssertionError("equal result rejected by the oracle check")
        if not check.oracle_mismatch(region.iloc[1:], sql, work / "tables", TABLES):
            raise AssertionError("result with a row dropped passed the oracle check")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"selftest ok (ops_failed_ratio with one posting dropped: {ratio:g})")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""scripts/measure.py: the shared form loop, the form swaps it times,
bench.py's use of the same timed run, and the docs/SCALING.md section
writer.  Spark work runs on the sf0.001 fixture in the session fixture's
SparkSession."""

from __future__ import annotations

import importlib.util
import json
import sys
from contextlib import contextmanager
from pathlib import Path

import pytest
from pyspark import cloudpickle

import bench
from mapreduce_c_implementation_spark import session as session_mod
from mapreduce_c_implementation_spark.registry import all_operators

REPO_ROOT = Path(__file__).resolve().parent.parent
_spec = importlib.util.spec_from_file_location(
    "measure", REPO_ROOT / "scripts" / "measure.py"
)
measure = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(measure)


@pytest.fixture
def timed_calls(monkeypatch):
    """Record every call of bench.timed_run (the one timed noop run)."""
    calls = []
    real = bench.timed_run

    def recording(spark, query_fn, sf_dir):
        calls.append(query_fn)
        return real(spark, query_fn, sf_dir)

    monkeypatch.setattr(bench, "timed_run", recording)
    return calls


def test_compare_swaps_order_and_times_every_form(spark, sf_smoke, timed_calls):
    ops = all_operators()
    entered = []

    def form(tag):
        @contextmanager
        def enter():
            entered.append(tag)
            yield spark, ops, sf_smoke

        return enter

    reps = 2
    report = measure.compare(
        {"a": form("a"), "b": form("b")}, ["word_count"], reps, sf_smoke
    )
    assert entered == ["a", "b", "b", "a"]
    # Control before every measurement, every timing through bench.timed_run.
    assert len(timed_calls) == reps * 2 * 2
    assert timed_calls[::2] == [ops[measure.CONTROL].query_fn] * (reps * 2)
    assert timed_calls[1::2] == [ops["word_count"].query_fn] * (reps * 2)
    assert report["forms"] == ["a", "b"]
    assert {len(v) for v in report["controls"].values()} == {reps}
    assert set(report["control_ratio"]) == {"b"}
    q = report["queries"]["word_count"]
    assert {len(v) for v in q["runs"].values()} == {reps}
    assert q["best"] == {t: min(q["runs"][t]) for t in ("a", "b")}
    assert set(q["ratio"]) == set(q["normalized"]) == {"b"}
    assert q["ratio"]["b"] > 0 and q["normalized"]["b"] > 0


def test_bench_main_uses_the_shared_timed_run(
    spark, sf_smoke, timed_calls, monkeypatch, capsys
):
    for var, value in {
        "SPARK_GRAFT_SF_DIR": sf_smoke,
        "SPARK_GRAFT_BENCH_REPS": "1",
        "SPARK_GRAFT_BENCH_OUT": "",
        "SPARK_GRAFT_FLAGSHIP_MB": "0",
        "SPARK_GRAFT_FLAGSHIP_MB_2X": "0",
        "SPARK_GRAFT_FLAGSHIP_MB_4X": "0",
    }.items():
        monkeypatch.setenv(var, value)
    monkeypatch.setattr(bench, "HEADLINE", ["word_count", "tpch_q6"])
    monkeypatch.setattr(session_mod, "build_session", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)  # keep the shared session
    bench.main()
    ops = all_operators()
    assert timed_calls == [ops["word_count"].query_fn, ops["tpch_q6"].query_fn]
    lines = capsys.readouterr().out.strip().splitlines()
    summary, payload = json.loads(lines[0]), json.loads(lines[-1])
    assert summary["metric"] == "headline_total_wall_summary"
    assert set(payload) == {
        "metric", "value", "unit", "queries", "sf", "timing_note",
        "cpus", "reps", "git_rev",
    }  # fmt: skip
    assert payload["cpus"] == spark.sparkContext.defaultParallelism
    assert payload["reps"] == 1
    rev = payload["git_rev"]
    assert rev is None or (len(rev) == 40 and int(rev, 16) >= 0)


def test_conf_form_restores_each_prior_value(spark):
    set_key = "spark.sql.shuffle.partitions"  # set by build_session
    unset_key = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
    before = spark.conf.get(set_key)
    assert spark.conf.get(unset_key, None) is None
    overlay = {set_key: "2", unset_key: "1024"}
    form = measure.fixed(spark, {}, "")
    for _ in range(2):
        with measure.with_conf(form, overlay) as (s, _, _):
            assert [s.conf.get(k) for k in overlay] == ["2", "1024"]
        assert spark.conf.get(set_key) == before
        assert spark.conf.get(unset_key, None) is None
    with pytest.raises(RuntimeError):
        with measure.with_conf(form, overlay):
            raise RuntimeError
    assert spark.conf.get(set_key) == before


_MARKER_REGISTRY = """
from types import SimpleNamespace

import pandas as pd


def _mark(batches):
    for b in batches:
        yield pd.DataFrame({{"m": [{marker!r}] * len(b)}})


def _query(spark, sf_dir):
    return spark.range(0, 4, 1, 2).mapInPandas(_mark, "m string")


def all_operators():
    return {{"marker": SimpleNamespace(query_fn=_query)}}
"""


def test_package_form_runs_each_forms_own_udfs(spark, tmp_path):
    pkg = measure.PKG
    roots = {}
    for marker in ("old", "new"):
        root = tmp_path / marker
        (root / pkg).mkdir(parents=True)
        (root / pkg / "__init__.py").write_text("")
        (root / pkg / "registry.py").write_text(_MARKER_REGISTRY.format(marker=marker))
        roots[marker] = str(root)
    real_modules = {m: mod for m, mod in sys.modules.items() if m.startswith(pkg)}
    by_value = set(cloudpickle.list_registry_pickle_by_value())
    path = list(sys.path)

    for marker in ("old", "new", "old"):
        with measure.package_form(spark, roots[marker], "") as (s, ops, _):
            assert sys.modules[pkg].__file__.startswith(roots[marker])
            rows = ops["marker"].query_fn(s, "").collect()
        assert {r.m for r in rows} == {marker}
        assert sys.path == path
        assert set(cloudpickle.list_registry_pickle_by_value()) == by_value
        now = {m: mod for m, mod in sys.modules.items() if m.startswith(pkg)}
        assert now.keys() == real_modules.keys()
        assert all(now[m] is real_modules[m] for m in now)


def test_write_section_replaces_only_its_own_section(tmp_path, monkeypatch):
    (tmp_path / "docs").mkdir()
    doc = tmp_path / "docs" / "SCALING.md"
    doc.write_text("# Scaling\n\nintro\n\n## 2x\n\nstale\n\n## Findings\n\nkept\n")
    monkeypatch.setattr(measure, "ROOT", tmp_path)
    report = {
        "forms": ["1x", "2x"],
        "queries": {"q": {"best": {"1x": 1.0, "2x": 1.5}, "ratio": {"2x": 1.5}}},
    }
    measure.write_section("2x", "note", report)
    measure.write_section("dims 2x", "note", report)
    table = (
        "\nnote\n\n| Operator | 1x wall (s) | 2x wall (s) | 2x ratio |\n"
        "|---|---|---|---|\n| `q` | 1.0 | 1.5 | 1.5x |\n"
    )
    assert doc.read_text() == (
        "# Scaling\n\nintro\n\n## 2x\n" + table + "\n## Findings\n\nkept\n"
        "\n## dims 2x\n" + table
    )

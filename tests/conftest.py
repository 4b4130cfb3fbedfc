from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from mapreduce_c_implementation_spark.session import build_session

    spark = build_session("tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT


# Driver-gate-first collection order (VERDICT r13 item 3a): the driver
# runs `pytest tests/ -x -q` inside a bounded verify window; in r13 the
# window closed at ~87% with zero failures and the gate read
# inconclusive.  Collect the driver-contract-critical files FIRST —
# entry/job contract, plan gates, streaming seams, then the
# oracle-vs-DuckDB sweep — so a truncated window has already confirmed
# the gates that matter, and the tail that gets cut is the
# least-critical remainder.  Ordering only; every test still runs.
_GATE_FILE_ORDER = [
    "test_job_api.py",
    "test_mapreduce_core.py",
    "test_plans.py",
    "test_streaming.py",
    "test_chunked_source.py",
    "test_metrics.py",
    "test_operators_vs_oracle.py",
]


def pytest_collection_modifyitems(session, config, items):
    rank = {name: i for i, name in enumerate(_GATE_FILE_ORDER)}
    items.sort(key=lambda it: rank.get(it.path.name, len(rank)))

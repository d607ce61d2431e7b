"""Benchmark tests: run with ``python -m pytest perfbench/tests`` from the
repository root."""

from __future__ import annotations

import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def spark():
    from data_management_service_run_etl_imputations_spark.session import get_session

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    session = get_session(
        app_name="perfbench-tests", master="local[2]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session

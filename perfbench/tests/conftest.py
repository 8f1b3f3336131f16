"""Fixtures for the benchmark's own tests: one small Spark session whose
scratch directories, caches and warehouses live under pytest's tmp dir.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE.parent.parent)]

CPUS = 2


@pytest.fixture(scope="session")
def work(tmp_path_factory) -> Path:
    import run

    w = tmp_path_factory.mktemp("perfbench")
    # before any engine import: the engine reads its cache dir at import
    run._set_env(w, CPUS)
    return w


@pytest.fixture(scope="session")
def ctx(work):
    import run
    import tracing

    c = run.Context(work, CPUS, tracing.Tracer(), tracing.CountingFileIO())
    c.spark = run._build_spark(c)
    yield c
    run._stop_spark(c.spark)

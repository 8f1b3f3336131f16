"""bench.py import-time settings."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent / "bench.py"


def _import_bench():
    spec = importlib.util.spec_from_file_location("bench_under_test", BENCH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize(
    "value, attempts", [("abc", 3), ("2.5", 3), ("", 3), ("5", 5), ("0", 1)]
)
def test_steal_retries_setting_never_crashes_import(monkeypatch, value, attempts):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_STEAL_RETRIES", value)
    assert _import_bench().STEAL_RETRY_ATTEMPTS == attempts

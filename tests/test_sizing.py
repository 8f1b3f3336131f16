"""Input sizing: input_bytes / heavy_input, the one place the engine
turns an input dir into plan-shape decisions."""

from __future__ import annotations

import os

from sample_iceberg_schema_evolution_pyiceberg_spark import session
from sample_iceberg_schema_evolution_pyiceberg_spark.session import (
    heavy_input,
    input_bytes,
)

MB = 1024 * 1024


def _sparse(path, size: int) -> None:
    """A file of ``size`` bytes that takes no disk space."""
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "wb") as f:
        f.truncate(size)


def test_no_dir_is_unknown_and_heavy(tmp_path):
    assert input_bytes(None) == 0
    assert input_bytes("") == 0
    assert heavy_input(None)
    missing = str(tmp_path / "missing")
    assert input_bytes(missing) == 0
    assert heavy_input(missing)
    (tmp_path / "empty").mkdir()
    assert input_bytes(str(tmp_path / "empty")) == 0
    assert heavy_input(str(tmp_path / "empty"))


def test_chunked_and_single_file_tables_are_counted(tmp_path):
    d = tmp_path / "sf"
    _sparse(d / "lineitem.parquet" / "part-00000.parquet", 3000)
    _sparse(d / "lineitem.parquet" / "part-00001.parquet", 2000)
    _sparse(d / "orders.parquet", 500)
    _sparse(d / "events" / "day=1" / "part-0.parquet", 7)
    assert input_bytes(str(d)) == 5507
    assert not heavy_input(str(d))


def test_heavy_bound_is_64mb(tmp_path):
    below, at = tmp_path / "below", tmp_path / "at"
    _sparse(below / "t.parquet", 64 * MB - 1)
    _sparse(at / "t.parquet" / "part-00000.parquet", 32 * MB)
    _sparse(at / "t.parquet" / "part-00001.parquet", 32 * MB)
    assert input_bytes(str(below)) == 64 * MB - 1
    assert not heavy_input(str(below))
    assert input_bytes(str(at)) == 64 * MB
    assert heavy_input(str(at))


def test_one_walk_per_dir(tmp_path, monkeypatch):
    d = tmp_path / "sf"
    _sparse(d / "t.parquet", 100)
    walks = []
    real_walk = os.walk
    monkeypatch.setattr(
        session.os, "walk", lambda *a, **k: walks.append(a) or real_walk(*a, **k)
    )
    assert input_bytes(str(d)) == 100
    assert heavy_input(str(d)) is False
    assert input_bytes(str(d)) == 100
    assert len(walks) == 1

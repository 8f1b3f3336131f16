"""Tests of the benchmark itself: repeatable counts, seed behaviour and
the pinned trace schema."""

from __future__ import annotations

import json
import shutil
from types import SimpleNamespace

import pytest

import run
import tables
import tracing
import workloads


class SmallLake(workloads.Lake):
    sf = 0.002


def _fresh(ctx, seed_dir: str) -> None:
    ctx.tracer = tracing.Tracer()
    ctx.io = tracing.CountingFileIO()
    ctx.job_groups = {}
    shutil.rmtree(ctx.lake_root, ignore_errors=True)
    ctx.data_dir = ctx.work / seed_dir


def _traced_pass(ctx, wl) -> dict:
    _fresh(ctx, f"data-{wl.name}-{wl.seed}")
    wl.stage(ctx)
    r = run.Runner(SimpleNamespace(trace=1, seconds=0), wl, ctx)
    rec = r.run_pass(0, traced=True)
    assert rec["ok"], r.errors
    return rec


def _counts(ctx, cls, seed: int) -> dict:
    rec = _traced_pass(ctx, cls(seed))
    c = rec["counts"]
    calls, read, written, _secs = rec["io"]
    return {
        "fileio.calls": calls,
        "fileio.bytes_read": read,
        "fileio.bytes_written": written,
        "snapshots": c["snapshots"],
        "live_data_files": c["live_data_files"],
        "write_amp_numerator": c["warehouse_bytes"],
    }


def test_lake_counts_repeat_for_one_seed(ctx):
    """Counts repeat exactly; byte totals only to within 0.1%. The sorted
    compaction breaks ties on o_orderdate in file-listing order, and file
    names are random, so compacted files (and their min/max stats in the
    metadata) differ by a few bytes; the Iceberg export also writes
    random 64-bit snapshot ids whose decimal width varies."""
    a, b = _counts(ctx, SmallLake, 11), _counts(ctx, SmallLake, 11)
    for k in ("fileio.calls", "fileio.bytes_read", "snapshots", "live_data_files"):
        assert a[k] == b[k], k
    for k in ("fileio.bytes_written", "write_amp_numerator"):
        assert b[k] == pytest.approx(a[k], rel=1e-3), k
    assert a["fileio.calls"] > 0
    # one snapshot per reference append (CREATE and evolve make none);
    # bulk: two appends, delete, update, compaction
    assert a["snapshots"] == 2 * SmallLake.appends_per_version + 5


def test_seed_changes_inputs_not_checks(ctx):
    a, b = tables.build_tables(0.001, 1), tables.build_tables(0.001, 2)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].schema == b[name].schema
        assert a[name].num_rows == b[name].num_rows
    assert not a["orders"].equals(b["orders"])
    assert not a["documents"].equals(b["documents"])
    assert tables.build_tables(0.001, 1)["lineitem"].equals(a["lineitem"])

    rows = set()
    for seed in (1, 2):
        wl = SmallLake(seed)
        rec = _traced_pass(ctx, wl)
        checks = wl.check(ctx, rec["state"])
        assert len(checks) == 4 and all(ok for _, ok, _ in checks), checks
        rows.add(rec["state"]["ref_rows"])
    assert len(rows) == 2  # the append seeds come from --seed


@pytest.mark.parametrize("seed", [1, 2])
def test_query_mix_checks_hold_for_any_seed(ctx, seed):
    class Tiny(workloads.QueryMix):
        sf = 0.001

    wl = Tiny(seed)
    _fresh(ctx, f"data-qm-{seed}")
    wl.stage(ctx)
    checks = wl.check(ctx, {})
    assert len(checks) == len(workloads.QueryMix.QUERIES)
    assert all(ok for _, ok, _ in checks), [c for c in checks if not c[1]]


def test_trace_schema_is_pinned():
    assert tracing.TRACE_SCHEMA_VERSION == 1
    assert tracing.SPAN_KEYS == (
        "id", "name", "layer", "start", "end", "parent", "pass_id", "ok")
    t = tracing.Tracer(enabled=True, pass_id=4)
    with t.span("append", "commit"):
        with t.span("table_format.append", "table_format.append"):
            pass
    doc = t.to_json()
    assert set(doc) == {"schema_version", "span_keys", "spans"}
    assert [set(s) for s in doc["spans"]] == [set(tracing.SPAN_KEYS)] * 2
    top, child = doc["spans"]
    assert (top["parent"], child["parent"], child["pass_id"]) == (None, 0, 4)
    assert top["start"] <= child["start"] <= child["end"] <= top["end"]
    st = t.self_times({4})
    assert st["commit"] + st["table_format.append"] == pytest.approx(
        top["end"] - top["start"])

    off = tracing.Tracer(enabled=False)
    with off.span("q", "query"):
        with off.span("q", "build"):
            pass
    assert [s.layer for s in off.spans] == ["query"]


def test_patches_restore_engine_functions(ctx):
    from sample_iceberg_schema_evolution_pyiceberg_spark import handler, table_format

    before = (handler.process_event, handler.compile_schema,
              table_format.LakeTable.append)
    p = tracing.LayerPatches(tracing.Tracer())
    p.install()
    assert handler.compile_schema is not before[1]
    p.remove()
    assert (handler.process_event, handler.compile_schema,
            table_format.LakeTable.append) == before


def test_metric_names_match_benchmark_json(ctx):
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    wl = SmallLake(5)
    _fresh(ctx, "data-names")
    wl.stage(ctx)
    p = tracing.LayerPatches(ctx.tracer)
    p.install()
    try:
        r = run.Runner(SimpleNamespace(trace=1, seconds=0), wl, ctx)
        untraced, traced = r.run_pass(0, traced=False), r.run_pass(1, traced=True)
    finally:
        p.remove()
    assert untraced["ok"] and traced["ok"], r.errors
    r.setup_s = 1.0
    layer = run.per_layer(r, [traced], [untraced])
    assert set(layer) == {m["name"] for m in spec["per_layer"]}
    assert layer["schema_diff.diff_schemas_s"] > 0
    assert layer["table_format.append_s"] > 0
    assert layer["datagen.random_orders_s"] > 0
    assert layer["fileio.calls_per_commit"] > 0
    e2e = run.end_to_end(r, [untraced, traced])
    assert {m["name"] for m in spec["end_to_end"]} <= set(e2e)
    assert all(v > 0 for v in e2e.values())

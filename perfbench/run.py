"""Benchmark of the engine's read path, small commits and bulk lake DML.

Run from the repository root:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 1 --trace 0

Workloads (``workloads.py``): ``query_mix`` (nine of the headline
queries) and ``lake`` (the reference's CREATE / append / evolve / append
loop, then bulk appends, merge-on-read delete, copy-on-write update,
pruned scan, compaction and Iceberg export).

A run generates its inputs from ``--seed``, then sets up once:
``setup_s`` runs from process start through the session build and the
cold first pass (interpreter, JVM, Python workers, cache fills). The run
then repeats warm passes for ``--seconds`` (at least one; a pass during
which the hypervisor stole CPU is re-drawn once, see
``QUIET_STEAL_PCT``), checks the outputs against DuckDB (untimed), and
prints one JSON line last.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a
separate run: it wraps the engine's layer functions in spans (from
outside; no engine code changes), alternates untraced and traced warm
passes, and reports the per-layer metrics. Both write the full record
to ``.perfbench/records/`` and the traced run writes its spans to
``.perfbench/traces/``; the last stdout line stays compact.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

# ruff: noqa: E402 — the engine reads its environment at import time
import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import traceback
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
# warm passes a run measures at least: one, or one untraced and one
# traced pass in the traced run
MIN_PASSES = {0: 1, 1: 2}
# A pass is quiet when the hypervisor stole at most this share of the box's
# CPU time while it ran. Congested passes are re-drawn, up to MAX_PASSES,
# and the warm-pass metrics use the quiet passes when there are at least
# MIN_PASSES of them. /proc/stat alone decides which passes count, never
# their timings (the same rule as bench.py's steal-gated retry).
QUIET_STEAL_PCT = 3.0
MAX_PASSES = 3
# never start a pass beyond the minimum this long after process start
# (keeps a run inside its share of the time budget on a slow box)
LAST_PASS_START_S = 45.0
# a fixed-size heap (-Xms = -Xmx): heap growth steps would otherwise make
# peak RSS and GC pauses vary from run to run
DRIVER_MEM = "2g"


def _set_env(work: Path, cpus: int) -> None:
    for sub in ("tmp", "spark_local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SF_DIR": str(work / "data"),
        "SPARK_GRAFT_SPLIT_CACHE_DIR": str(work / "split_cache"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark_local"),
        "TMPDIR": str(work / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return _median(xs)
    return float(statistics.quantiles(xs, n=10, method="inclusive")[8])


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _source_digest() -> str:
    """Digest of the engine, the headline harness and this benchmark —
    names the code that ran even where no git metadata exists."""
    h = hashlib.sha256()
    files = sorted(
        [*(ROOT / "sample_iceberg_schema_evolution_pyiceberg_spark").rglob("*.py"),
         *(ROOT / "sample_iceberg_schema_evolution_pyiceberg_spark").rglob("*.json"),
         ROOT / "bench.py", ROOT / "tools" / "check_correctness.py",
         *HERE.glob("*.py")]
    )
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    if not (ROOT / ".git").exists():  # an export, maybe inside another repo
        return None
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


class Context:
    """What a workload's pass needs: the session, its directories, the
    tracer, and the catalog FileIO (counting in the traced run)."""

    def __init__(self, work: Path, cpus: int, tracer, io) -> None:
        self.work = work
        self.cpus = cpus
        self.tracer = tracer
        self.io = io
        self.data_dir = work / "data"
        self.split_cache_dir = work / "split_cache"
        self.warehouse_dir = work / "spark-warehouse"
        self.lake_root = work / "lake"
        self.spark = None
        self.job_groups: dict[int, str] = {}

    @contextmanager
    def op(self, name: str, kind: str):
        """One timed operation: a top-level span (and, traced, a Spark
        job group so its jobs, tasks and shuffle can be counted)."""
        with self.tracer.span(name, kind) as s:
            if self.tracer.enabled:
                gid = f"perfbench-{s.id}"
                self.job_groups[s.id] = gid
                self.spark.sparkContext.setJobGroup(gid, name)
            yield s


def _build_spark(ctx: Context):
    from sample_iceberg_schema_evolution_pyiceberg_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(ctx.warehouse_dir),
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={ctx.work / 'tmp'}"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


class Runner:
    def __init__(self, args, wl, ctx: Context) -> None:
        self.args = args
        self.wl = wl
        self.ctx = ctx
        self.passes: list[dict] = []
        self.setup_s = 0.0
        self.errors: list[str] = []
        self.get_spark_s = 0.0
        self.gen_s = 0.0
        self.op_stats: dict[int, dict] = {}
        self.min_passes = MIN_PASSES[args.trace]

    def run_pass(self, pass_id: int, traced: bool) -> dict:
        ctx, tracer = self.ctx, self.ctx.tracer
        tracer.pass_id = pass_id
        tracer.enabled = traced
        io0 = ctx.io.snapshot() if ctx.io else None
        import bench  # noqa: PLC0415 — on sys.path once main() has run

        steal0 = bench.read_cpu_steal()
        t0 = time.perf_counter()
        state, ok = None, True
        try:
            state = self.wl.run_pass(ctx, pass_id)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            ok = False
            self.errors.append(traceback.format_exc())
        wall = time.perf_counter() - t0
        steal1 = bench.read_cpu_steal()
        tracer.enabled = False
        tracer.pass_id = None
        steal = 100.0 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        rec = {"pass_id": pass_id, "wall_s": wall, "ok": ok, "traced": traced,
               "steal_pct": steal, "quiet": steal <= QUIET_STEAL_PCT, "state": state}
        if traced and ok:
            from tracing import spark_group_stats

            for s in tracer.in_pass(pass_id, parent_only=True):
                if s.id in ctx.job_groups:
                    self.op_stats[s.id] = spark_group_stats(ctx.spark, ctx.job_groups[s.id])
            ctx.spark.sparkContext.setJobGroup("perfbench-untimed", "untimed")
            rec["counts"] = self.wl.pass_counts(ctx, state)
            if io0 is not None:
                io1 = ctx.io.snapshot()
                rec["io"] = [b - a for a, b in zip(io0, io1)]
        self.passes.append(rec)
        return rec

    def setup(self) -> None:
        """Process start through the session build and the cold first
        pass (pass -1): JVM start, Python workers, derived-cache fills.
        Input generation is not part of it."""
        ctx = self.ctx
        ctx.tracer.pass_id = -1
        with ctx.tracer.span("session.get_spark", "session.get_spark") as s:
            ctx.spark = _build_spark(ctx)
        self.get_spark_s = s.duration
        before = time.perf_counter() - T_START - self.gen_s
        rec = self.run_pass(-1, traced=self.args.trace == 1)
        rec["setup_s"] = before + rec["wall_s"]
        self.setup_s = rec["setup_s"]

    def measured(self) -> list[dict]:
        """The warm passes the metrics use: the quiet ones when there are
        enough of them, else every pass that succeeded."""
        done = [p for p in self.passes if p["pass_id"] >= 0 and p["ok"]]
        quiet = [p for p in done if p["quiet"]]
        return quiet if len(quiet) >= self.min_passes else done

    def measure(self) -> None:
        deadline = time.perf_counter() + self.args.seconds
        i = 0
        while i < self.min_passes or (
            (time.perf_counter() < deadline
             or (i < MAX_PASSES and not all(p["quiet"] for p in self.measured())))
            and time.perf_counter() - T_START < LAST_PASS_START_S
        ):
            # the traced run alternates untraced and traced passes
            self.run_pass(i, traced=self.args.trace == 1 and i % 2 == 1)
            i += 1


def _op_latencies(tracer, passes: list[dict], kind: str) -> list[float]:
    ids = {p["pass_id"] for p in passes}
    return [s.duration for s in tracer.spans
            if s.parent is None and s.pass_id in ids and s.layer == kind and s.ok]


def end_to_end(r: Runner, measured: list[dict]) -> dict[str, float]:
    lat = _op_latencies(r.ctx.tracer, measured, r.wl.op_kind)
    jvm_pid = r.ctx.spark._jvm.java.lang.ProcessHandle.current().pid()
    return {
        "setup_s": r.setup_s,
        "pass_s": _median([p["wall_s"] for p in measured]),
        # op latencies are recorded only, not in BENCHMARK.json: the
        # median of a pass's 9 (or 11) unlike operations jumps from one
        # operation to another between runs (its spread reached 0.235 on
        # query_mix), and no percentile above it has ten samples beyond it
        "op_p50_s": _median(lat),
        "op_p90_s": _p90(lat),
        "peak_rss_mb": (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0,
    }


def _outer_spans(tracer, pass_ids: set[int], layer: str) -> list:
    """Spans of ``layer`` called from outside its module (a to_df that
    compact makes internally is part of compact, not a scan)."""
    by_id = {s.id: s for s in tracer.spans}
    module = layer.split(".")[0]
    out = []
    for s in tracer.spans:
        if s.layer != layer or s.pass_id not in pass_ids:
            continue
        p = by_id.get(s.parent)
        while p is not None and not p.layer.startswith(module + "."):
            p = by_id.get(p.parent)
        if p is None:
            out.append(s)
    return out


OPERATOR_MODULES = ("relational", "dedup", "similarity", "text")
CONTROL_LAYERS = (
    "config.load_validate", "schema_compiler.compile_schema",
    "partitioning.compile_partition_spec", "schema_diff.diff_schemas",
    "evolution.evolve_table", "datagen.random_orders",
)
TABLE_CALLS = ("create_table", "append", "delete_where", "update_where",
               "compact", "to_df", "scan_exec")
COUNTS = ("snapshots", "live_data_files", "files_scanned", "pruned_file_ratio")


def per_layer(r: Runner, traced: list[dict], untraced: list[dict]) -> dict[str, float]:
    tracer = r.ctx.tracer
    ids = {p["pass_id"] for p in traced}
    m: dict[str, float] = {
        "session.get_spark_s": r.get_spark_s,
        "sources.first_load_s": sum(
            s.duration for s in tracer.in_pass(-1) if s.layer == "sources.load_table"),
        "operators.registry.memo_hit_ratio": (
            r.wl.memo_hits / r.wl.memo_calls if getattr(r.wl, "memo_calls", 0) else 0.0),
    }
    # operator modules: per-pass sums over the module's headline queries
    module_of = _query_modules() if r.wl.name == "query_mix" else {}
    per_pass: dict[str, list[float]] = {}
    for p in traced:
        sums: dict[str, float] = {}
        tops = tracer.in_pass(p["pass_id"], parent_only=True)
        top_ids = {s.id: s for s in tops}
        for s in tracer.in_pass(p["pass_id"]):
            parent = top_ids.get(s.parent)
            if parent is not None and s.layer in ("build", "plan", "exec"):
                key = f"operators.{module_of.get(parent.name, '?')}.{s.layer}_s"
                sums[key] = sums.get(key, 0.0) + s.duration
        for s in tops:
            st = r.op_stats.get(s.id)
            if st and s.name in module_of:
                for c in ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes"):
                    key = f"operators.{module_of[s.name]}.{c}"
                    sums[key] = sums.get(key, 0.0) + st[c]
        for layer in CONTROL_LAYERS:
            sums[f"{layer}_s"] = sum(
                x.duration for x in tracer.in_pass(p["pass_id"]) if x.layer == layer)
        sums["handler.process_event_self_s"] = r.ctx.tracer.self_times(
            {p["pass_id"]}).get("handler.process_event", 0.0)
        for k, v in sums.items():
            per_pass.setdefault(k, []).append(v)
    for mod in OPERATOR_MODULES:
        for c in ("build_s", "plan_s", "exec_s", "jobs", "tasks",
                  "shuffle_write_bytes", "spill_bytes"):
            key = f"operators.{mod}.{c}"
            m[key] = _median(per_pass.get(key, []))
    for layer in CONTROL_LAYERS:
        m[f"{layer}_s"] = _median(per_pass.get(f"{layer}_s", []))
    m["handler.process_event_self_s"] = _median(
        per_pass.get("handler.process_event_self_s", []))
    for call in TABLE_CALLS:
        m[f"table_format.{call}_s"] = _median(
            [s.duration for s in _outer_spans(tracer, ids, f"table_format.{call}")])
    counts = [p.get("counts") or {} for p in traced]
    for c in (*COUNTS, "write_amp"):
        m[f"table_format.{c}"] = _median([x[c] for x in counts if c in x])
    commits = [s for s in tracer.spans if s.parent is None and s.pass_id in ids
               and s.layer == "commit"]
    n_commits = len(commits)
    m["table_format.jobs_per_commit"] = (
        sum(r.op_stats.get(s.id, {}).get("jobs", 0) for s in commits) / n_commits
        if n_commits else 0.0)
    io = [p["io"] for p in traced if "io" in p]
    per_commit = n_commits / len(traced) if traced else 0
    for i, key in ((0, "calls_per_commit"), (1, "bytes_read_per_commit"),
                   (2, "bytes_written_per_commit")):
        m[f"fileio.{key}"] = _median([x[i] / per_commit for x in io]) if per_commit else 0.0
    m["fileio.io_s"] = _median([x[3] for x in io])
    for op, key in (("export", "export_s"), ("read_back", "read_back_s")):
        m[f"iceberg_export.{key}"] = _median(
            [s.duration for s in tracer.spans if s.parent is None
             and s.pass_id in ids and s.name == op])
    m["trace.overhead_s"] = (_median([p["wall_s"] for p in traced])
                             - _median([p["wall_s"] for p in untraced]))
    m["trace.top_span_coverage"] = _median([
        sum(s.duration for s in tracer.in_pass(p["pass_id"], parent_only=True))
        / p["wall_s"] for p in traced])
    return m


def _query_modules() -> dict[str, str]:
    import bench
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators import QUERIES

    out = {}
    for q in bench.HEADLINE:
        fn = getattr(QUERIES[q], "__wrapped__", QUERIES[q])
        out[q] = fn.__module__.rsplit(".", 1)[-1]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    cpus = len(os.sched_getaffinity(0))
    sys.path.insert(0, str(ROOT))
    import bench  # the headline harness: query list, fingerprints, steal

    work = STATE / f"work-{args.workload}"
    shutil.rmtree(work, ignore_errors=True)
    _set_env(work, cpus)
    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    steal0 = bench.read_cpu_steal()
    tracer = tracing.Tracer()
    patches = tracing.LayerPatches(tracer)
    io = tracing.CountingFileIO() if args.trace else None
    ctx = Context(work, cpus, tracer, io)
    wl = WORKLOADS[args.workload](args.seed)
    runner = Runner(args, wl, ctx)
    try:
        t = time.perf_counter()
        wl.stage(ctx)
        runner.gen_s = time.perf_counter() - t
        if args.trace:
            patches.install()
        runner.setup()
        runner.measure()
        measured = runner.measured()
        last = next((p for p in reversed(runner.passes) if p["ok"]), None)
        t = time.perf_counter()
        try:
            checks = wl.check(ctx, last["state"]) if last else []
        except Exception:  # noqa: BLE001 — a check that raises has failed
            checks = [("check", False, traceback.format_exc())]
        check_s = time.perf_counter() - t
        e2e = end_to_end(runner, measured)
        if args.trace:
            done = [p for p in runner.passes if p["pass_id"] >= 0 and p["ok"]]
            layer = per_layer(runner, [p for p in done if p["traced"]],
                              [p for p in done if not p["traced"]])
        fingerprints = wl.fingerprints(ctx)
        # fixed-cost canary (one 1-row job): box weather, comparable across runs
        canary = bench.run_canary(ctx.spark)
        versions = {
            "python": platform.python_version(),
            "spark": ctx.spark.version,
            "java": ctx.spark._jvm.java.lang.System.getProperty("java.version"),
        }
    finally:
        patches.remove()
        if ctx.spark is not None:
            _stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    import duckdb

    steal1 = bench.read_cpu_steal()
    versions["duckdb"] = duckdb.__version__
    n_ops = sum(1 for s in tracer.spans
                if s.parent is None and s.layer != "session.get_spark")
    failed_ops = sum(1 for s in tracer.spans if s.parent is None and not s.ok)
    failed_checks = sum(1 for _, ok, _ in checks if not ok)
    attempted = n_ops + len(checks)
    failed = failed_ops + failed_checks
    metrics = layer if args.trace else e2e
    out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "box": {
            "nproc": cpus,
            "cpu_steal_pct": round(100.0 * (steal1[0] - steal0[0])
                                   / max(steal1[1] - steal0[1], 1), 3),
            "versions": versions,
            "git_sha": _git_sha(),
            "source_digest": _source_digest(),
            "driver_mem": DRIVER_MEM,
            "canary_s": canary,
        },
        "scale_factor": wl.sf,
        "plan_fingerprints": fingerprints,
        "input_gen_s": runner.gen_s,
        "setup_s": runner.setup_s,
        "get_spark_s": runner.get_spark_s,
        "passes": [{k: v for k, v in p.items() if k != "state"} for p in runner.passes],
        "passes_used": [p["pass_id"] for p in measured],
        "op_kind": wl.op_kind,
        "op_samples": len(_op_latencies(tracer, measured, wl.op_kind)),
        "ops": [{"pass_id": s.pass_id, "name": s.name, "kind": s.layer,
                 "s": s.duration, "ok": s.ok, "spark": runner.op_stats.get(s.id)}
                for s in tracer.spans if s.parent is None],
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
        "failed_frac": failed / attempted if attempted else 1.0,
        "errors": runner.errors,
        "check_s": check_s,
        "run_wall_s": time.perf_counter() - T_START,
        "end_to_end": e2e,
    }
    STATE.mkdir(exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        record["per_layer"] = layer
        record["self_time_s"] = tracer.self_times(
            {p["pass_id"] for p in done if p["traced"]})
        trace_path = STATE / "traces" / f"{stem}.json"
        trace_path.parent.mkdir(exist_ok=True)
        trace_path.write_text(json.dumps(tracer.to_json()))
        record["trace_file"] = str(trace_path.relative_to(ROOT))
    rec_path = STATE / "records" / f"{stem}.json"
    rec_path.parent.mkdir(exist_ok=True)
    rec_path.write_text(json.dumps(record, indent=1, default=str))
    for e in runner.errors:
        print(e, file=sys.stderr)
    for n, ok, d in checks:
        if not ok:
            print(f"check failed: {n}: {d}", file=sys.stderr)
    print(f"record: {rec_path.relative_to(ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Spans, layer patches and Spark job statistics for the traced run.

The timed runs use ``Tracer`` only for the benchmark's own top-level
operations (one query, one commit, one scan). The traced run also
installs ``LayerPatches``, which wrap the engine's public functions from
outside, so every layer call records a child span. Spans are kept in
memory and written to a trace file when the run ends.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from sample_iceberg_schema_evolution_pyiceberg_spark.fileio import LocalFileIO

TRACE_SCHEMA_VERSION = 1
SPAN_KEYS = ("id", "name", "layer", "start", "end", "parent", "pass_id", "ok")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    pass_id: int = -1
    ok: bool = True

    @property
    def duration(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {k: getattr(self, k) for k in SPAN_KEYS}


@dataclass
class Tracer:
    """Records spans. Top-level spans (the benchmark's operations) are
    always kept, since the end-to-end latencies come from them; nested
    spans from the layer patches only while ``enabled``."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    pass_id: int | None = -1
    _stack: list[Span] = field(default_factory=list)
    _t0: float = field(default_factory=time.perf_counter)

    @contextmanager
    def span(self, name: str, layer: str):
        if self.pass_id is None:  # untimed work between passes
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        keep = parent is None or self.enabled
        s = Span(len(self.spans), name, layer, time.perf_counter() - self._t0,
                 parent=parent, pass_id=self.pass_id)
        if keep:
            self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        except BaseException:
            s.ok = False
            raise
        finally:
            s.end = time.perf_counter() - self._t0
            self._stack.pop()

    def call(self, layer: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)`` inside a ``layer`` span when enabled."""
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(layer, layer):
            return fn(*args, **kwargs)

    def in_pass(self, pass_id: int, parent_only: bool = False) -> list[Span]:
        return [s for s in self.spans if s.pass_id == pass_id
                and (not parent_only or s.parent is None)]

    def self_times(self, pass_ids: set[int]) -> dict[str, float]:
        """Self time per layer (span duration minus the part its child
        spans cover), summed over the given passes."""
        spans = [s for s in self.spans if s.pass_id in pass_ids]
        child = {s.id: 0.0 for s in spans}
        for s in spans:
            if s.parent in child:
                child[s.parent] += s.duration
        out: dict[str, float] = {}
        for s in spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.duration - child[s.id]
        return out

    def to_json(self) -> dict:
        return {
            "schema_version": TRACE_SCHEMA_VERSION,
            "span_keys": list(SPAN_KEYS),
            "spans": [s.to_json() for s in self.spans],
        }


class CountingFileIO(LocalFileIO):
    """``LocalFileIO`` that counts calls, bytes and seconds. Only
    metadata goes through a catalog's FileIO; Spark writes data files."""

    def __init__(self) -> None:
        self.calls = 0
        self.bytes_read = 0
        self.bytes_written = 0
        self.seconds = 0.0

    def snapshot(self) -> tuple[int, int, int, float]:
        return (self.calls, self.bytes_read, self.bytes_written, self.seconds)

    def _timed(self, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.calls += 1
            self.seconds += time.perf_counter() - t0

    def read_text(self, path):
        text = self._timed(super().read_text, path)
        self.bytes_read += len(text.encode("utf-8"))
        return text

    def write_text(self, path, text):
        self._timed(super().write_text, path, text)
        self.bytes_written += len(text.encode("utf-8"))

    def read_bytes(self, path):
        data = self._timed(super().read_bytes, path)
        self.bytes_read += len(data)
        return data

    def write_bytes(self, path, data):
        self._timed(super().write_bytes, path, data)
        self.bytes_written += len(data)

    def exists(self, path):
        return self._timed(super().exists, path)

    def mkdirs(self, path):
        return self._timed(super().mkdirs, path)

    def delete_recursive(self, path):
        return self._timed(super().delete_recursive, path)

    def list_subdirs(self, path):
        return self._timed(super().list_subdirs, path)

    def list_files(self, path):
        return self._timed(super().list_files, path)

    def rename_dir(self, src, dst):
        return self._timed(super().rename_dir, src, dst)


# (module, attribute) -> layer. Functions are replaced in
# every engine module that imported them by name, so a call made through
# ``handler``'s own import is wrapped as well.
_PKG = "sample_iceberg_schema_evolution_pyiceberg_spark"
FUNCTION_LAYERS = {
    ("config", "load_table_def"): "config.load_validate",
    ("config", "validate_table_def"): "config.load_validate",
    ("schema_compiler", "compile_schema"): "schema_compiler.compile_schema",
    ("partitioning", "compile_partition_spec"): "partitioning.compile_partition_spec",
    ("schema_diff", "diff_schemas"): "schema_diff.diff_schemas",
    ("evolution", "evolve_table"): "evolution.evolve_table",
    ("handler", "process_event"): "handler.process_event",
    ("datagen", "random_orders"): "datagen.random_orders",
    ("datagen", "insert_orders"): "datagen.insert_orders",
    ("sources", "load_table"): "sources.load_table",
}
METHOD_LAYERS = {
    ("LakeCatalog", "create_table"): "table_format.create_table",
    ("LakeTable", "append"): "table_format.append",
    ("LakeTable", "delete_where"): "table_format.delete_where",
    ("LakeTable", "update_where"): "table_format.update_where",
    ("LakeTable", "compact"): "table_format.compact",
    ("LakeTable", "to_df"): "table_format.to_df",
}


class LayerPatches:
    """Wraps the engine's layer functions with ``tracer`` spans while
    installed; ``remove`` restores every original object."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []

    def _wrap(self, fn, layer: str):
        tracer = self.tracer

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(layer, layer):
                return fn(*args, **kwargs)

        return wrapper

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        import importlib  # noqa: PLC0415

        for mod in {"operators", *(m for m, _ in FUNCTION_LAYERS)}:
            importlib.import_module(f"{_PKG}.{mod}")
        mods = [m for n, m in list(sys.modules.items())
                if m is not None and (n == _PKG or n.startswith(_PKG + "."))]
        for (mod, attr), layer in FUNCTION_LAYERS.items():
            orig = getattr(sys.modules[f"{_PKG}.{mod}"], attr)
            wrapped = self._wrap(orig, layer)
            for m in mods:
                if getattr(m, attr, None) is orig:
                    self._set(m, attr, wrapped)
        tf = importlib.import_module(f"{_PKG}.table_format")
        for (cls, attr), layer in METHOD_LAYERS.items():
            owner = getattr(tf, cls)
            self._set(owner, attr, self._wrap(getattr(owner, attr), layer))

    def remove(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)


def spark_group_stats(spark, group: str) -> dict:
    """Jobs, stages that ran, tasks, shuffle bytes written and spill of
    every Spark job tagged with ``group`` (read from the status store)."""
    from py4j.protocol import Py4JJavaError  # noqa: PLC0415

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "skipped_stages": 0, "tasks": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0}
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            try:
                sd = store.lastStageAttempt(int(sid))
            except Py4JJavaError:  # stage evicted from the status store
                continue
            done = int(sd.numCompleteTasks())
            if done == 0:
                out["skipped_stages"] += 1
                continue
            out["stages"] += 1
            out["tasks"] += done
            out["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
            out["spill_bytes"] += int(sd.memoryBytesSpilled())
    return out

"""One commit protocol for LakeTable: every metadata change runs in
``_transaction()``, a commit is checked against the base metadata the
handle loaded (exclusive create of ``v{N+1}.metadata.json``), and a
stale handle gets ``ConcurrentCommitError`` instead of silently
dropping another writer's commit."""

from __future__ import annotations

import ast
import copy
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import sample_iceberg_schema_evolution_pyiceberg_spark as pkg
from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
    PartitionField,
    PartitionSpec,
)
from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
    ConcurrentCommitError,
    LakeCatalog,
    LakeTable,
    commit_with_retries,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("a", T.StringType(), True),
    ]
)


def _meta_versions(table) -> list[str]:
    return sorted(
        p.name for p in (table.location / "_meta").glob("v*.metadata.json")
    )


def _hint(table) -> str:
    return (table.location / "_meta" / "version-hint.text").read_text()


def test_stale_handle_schema_commit_conflicts(tmp_path):
    """Two handles load one plain table; B adds column b, then stale A
    adds c. A must lose with a conflict, B's column must survive on
    disk, and A's in-memory meta must be what it was before the
    call."""
    cat = LakeCatalog(tmp_path / "wh")
    cat.create_table("db", "t", SCHEMA)
    a = cat.load_table("db", "t")
    b = cat.load_table("db", "t")
    b.commit_schema(b.schema.add("b", "double"))
    a_before = copy.deepcopy(a.meta)
    with pytest.raises(ConcurrentCommitError, match="refresh and retry"):
        a.commit_schema(a.schema.add("c", "double"))
    assert a.meta == a_before
    assert _meta_versions(a) == ["v1.metadata.json", "v2.metadata.json"]
    fresh = cat.load_table("db", "t")
    assert fresh.schema.fieldNames() == ["id", "a", "b"]
    # refresh-and-retry lands A's change on top of B's
    a.refresh().commit_schema(a.schema.add("c", "double"))
    assert cat.load_table("db", "t").schema.fieldNames() == [
        "id", "a", "b", "c",
    ]


def test_stale_handle_append_conflicts_then_retry_lands(spark, tmp_path):
    """A appends 100 rows, B appends 5, stale A's next append gets a
    conflict: 2 snapshots, 105 rows. commit_with_retries then lands
    the append on a fresh handle (3 snapshots, 110 rows) and
    remove_orphan_files reaps the losing attempt's data dir."""
    cat = LakeCatalog(tmp_path / "wh")
    df = spark.range(0, 100).select(
        F.col("id"), F.lit("x").alias("a")
    )
    a = cat.create_table("db", "t", df.schema)
    a.append(df)
    b = cat.load_table("db", "t")
    b.append(df.limit(5))
    with pytest.raises(ConcurrentCommitError):
        a.append(df.limit(5))
    now = cat.load_table("db", "t")
    assert len(now.snapshots) == 2
    assert now.to_df(spark).count() == 105

    snap = commit_with_retries(
        cat, "db", "t", lambda t: t.append(df.limit(5))
    )
    final = cat.load_table("db", "t")
    assert len(final.snapshots) == 3
    assert final.snapshots[-1].snapshot_id == snap.snapshot_id
    assert final.to_df(spark).count() == 110
    orphans = final.remove_orphan_files()
    assert len(orphans) == 1
    assert orphans[0] not in {s.data_dir for s in final.snapshots}
    assert final.to_df(spark).count() == 110


def test_commit_with_retries_replays_after_conflict(tmp_path):
    """The retry loop reloads after a lost race on a plain catalog."""
    cat = LakeCatalog(tmp_path / "wh")
    cat.create_table("db", "t", SCHEMA)
    calls = []

    def racing(t):
        if not calls:
            # another writer commits between this attempt's load and
            # its commit
            other = cat.load_table("db", "t")
            other.commit_schema(other.schema.add("x", "double"))
        calls.append(t)
        return t.commit_schema(t.schema.add(f"y{len(calls)}", "double"))

    assert commit_with_retries(cat, "db", "t", racing) == 3
    assert len(calls) == 2
    assert cat.load_table("db", "t").schema.fieldNames() == [
        "id", "a", "x", "y2",
    ]


def test_crash_between_metadata_and_hint_rolls_forward(
    tmp_path, monkeypatch
):
    """The commit point is the exclusive v{N+1} create; the hint is
    best-effort. A writer whose hint write fails after v{N+1} exists
    has committed: a fresh load sees v{N+1} and the next commit
    writes v{N+2} — the table is not wedged on a lagging hint."""
    cat = LakeCatalog(tmp_path / "wh")
    t = cat.create_table("db", "t", SCHEMA)
    real = type(t.io).write_text

    def hint_fails(self, path, text):
        if path.endswith("version-hint.text"):
            raise OSError("crash before the hint write")
        return real(self, path, text)

    monkeypatch.setattr(type(t.io), "write_text", hint_fails)
    with pytest.warns(RuntimeWarning, match="version hint write failed"):
        t.commit_schema(t.schema.add("b", "double"))
    monkeypatch.undo()
    assert _meta_versions(t) == ["v1.metadata.json", "v2.metadata.json"]
    assert _hint(t) == "1"  # the hint lags the commit
    fresh = cat.load_table("db", "t")
    assert fresh.loaded_from.endswith("v2.metadata.json")
    assert fresh.schema.fieldNames() == ["id", "a", "b"]
    fresh.commit_schema(fresh.schema.add("c", "double"))
    assert _meta_versions(t)[-1] == "v3.metadata.json"
    assert _hint(t) == "3"
    # the writer that lost its hint write also moves on from v2
    t.refresh().commit_schema(t.schema.add("d", "double"))
    assert LakeTable.load(t.location).schema.fieldNames() == [
        "id", "a", "b", "c", "d",
    ]


def test_failed_metadata_create_restores_meta(tmp_path, monkeypatch):
    """Any exception inside a transaction restores the in-memory meta
    — here the metadata create itself fails. A nested transaction
    (rename_column runs commit_schema) joins the outer one: one
    rollback on failure, one new version on success."""
    cat = LakeCatalog(tmp_path / "wh")
    t = cat.create_table("db", "t", SCHEMA)
    before = copy.deepcopy(t.meta)

    def boom(self, path, text):
        raise OSError("disk full")

    monkeypatch.setattr(type(t.io), "create_text", boom)
    with pytest.raises(OSError, match="disk full"):
        t.rename_column("a", "a2")
    with pytest.raises(OSError, match="disk full"):
        t.commit_spec(
            PartitionSpec((PartitionField("id", "identity", "id", 1000),))
        )
    assert t.meta == before
    monkeypatch.undo()
    t.rename_column("a", "a2")
    assert _meta_versions(t) == ["v1.metadata.json", "v2.metadata.json"]
    v2 = LakeTable.load(t.location)
    assert v2.schema.fieldNames() == ["id", "a2"]
    assert v2.meta["renames"][0]["to"] == "a2"


@pytest.mark.parametrize("layout", [None, "spark", "dual"])
def test_empty_append_to_partitioned_table_keeps_it_readable(
    spark, tmp_path, layout
):
    """A zero-row append to a partitioned table writes no data file;
    the commit must still leave a readable snapshot (it used to poison
    every later to_df with UNABLE_TO_INFER_SCHEMA). Covers the hive
    identity layout and both Spark bucket layouts."""
    cat = LakeCatalog(tmp_path / "wh")
    df = spark.range(0, 20).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("a")
    )
    if layout is None:
        spec = PartitionSpec((PartitionField("a", "identity", "a", 1000),))
        props = {}
    else:
        spec = PartitionSpec((PartitionField("id", "bucket[4]", "b", 1000),))
        props = {"write.bucket-layout": layout}
    t = cat.create_table("db", "t", df.schema, spec, props)
    first = t.append(df)
    snap = t.append(df.limit(0))
    assert snap.snapshot_id == t.snapshots[-1].snapshot_id
    assert t.to_df(spark).count() == 20
    assert t.to_df(spark, pruning=[("id", "==", 5)]).count() == 1
    assert t.changes_between(spark, first.snapshot_id).count() == 0
    t.append(df.filter("id < 4"))
    assert cat.load_table("db", "t").to_df(spark).count() == 24
    # an empty overwrite (TRUNCATE) reads back empty, not broken
    t.overwrite(df.limit(0))
    assert t.to_df(spark).count() == 0
    assert t.to_df(spark).columns == ["id", "a"]


# -- the single-protocol lint ----------------------------------------------


def _package_sources():
    root = Path(pkg.__file__).parent
    for path in sorted(root.rglob("*.py")):
        yield path, ast.parse(path.read_text(), filename=str(path))


def _enclosing_functions(tree):
    """Map every node to the name of its innermost enclosing def."""
    owner: dict[int, str] = {}

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            owner[id(child)] = name
            visit(child, name)

    visit(tree, None)
    return owner


def _protocol_violations():
    bad = []
    for path, tree in _package_sources():
        owner = _enclosing_functions(tree)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            where = f"{path.name}:{node.lineno}"
            if isinstance(f, ast.Attribute) and f.attr == "_commit":
                if owner.get(id(node)) != "_transaction":
                    bad.append(f"{where} calls _commit outside _transaction")
            if (
                isinstance(f, ast.Attribute)
                and f.attr == "deepcopy"
                and node.args
                and ast.unparse(node.args[0]) == "self.meta"
                and owner.get(id(node)) != "_transaction"
            ):
                bad.append(f"{where} snapshots self.meta outside _transaction")
    return bad


def test_single_commit_protocol_lint():
    """Every metadata commit goes through LakeTable._transaction: no
    direct ``_commit(`` call and no hand-written ``self.meta`` backup
    anywhere else in the package."""
    assert _protocol_violations() == []
    snapshots = sum(
        ast.unparse(n) == "copy.deepcopy(self.meta)"
        for _, tree in _package_sources()
        for n in ast.walk(tree)
    )
    assert snapshots == 1  # the one in _transaction


def test_single_commit_protocol_lint_catches_violations(monkeypatch):
    """The lint is not vacuous: a planted direct commit and a planted
    hand-written rollback are both reported."""
    planted = ast.parse(
        "class T:\n"
        "    def f(self):\n"
        "        backup = copy.deepcopy(self.meta)\n"
        "        self._commit()\n"
    )
    monkeypatch.setattr(
        sys.modules[__name__],
        "_package_sources",
        lambda: [(Path("planted.py"), planted)],
    )
    assert sorted(_protocol_violations()) == [
        "planted.py:3 snapshots self.meta outside _transaction",
        "planted.py:4 calls _commit outside _transaction",
    ]

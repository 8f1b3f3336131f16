"""FileIO contract tests: the catalog's metadata plane must behave
identically over the local filesystem and an object-store-model fake
(dict-backed blobs, prefix-implied directories) — proving an S3
metadata backend is one FileIO subclass away, the reference's Glue/S3
posture (iceberg_helper.py:89-110) without network."""

from __future__ import annotations

import pytest

from pyspark.sql import types as T

from sample_iceberg_schema_evolution_pyiceberg_spark.fileio import (
    DirectoryObjectStore,
    FakeObjectStore,
    InMemoryFileIO,
    LocalFileIO,
    ObjectStoreFileIO,
    download_dir,
    fileio_from_options,
    upload_dir,
)
from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
    PartitionField,
    PartitionSpec,
)
from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
    LakeCatalog,
    TableFormatError,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


@pytest.fixture(params=["local", "memory", "objectstore", "dirstore", "s3"])
def catalog(request, tmp_path):
    if request.param == "local":
        yield LakeCatalog(tmp_path / "wh", io=LocalFileIO())
    # the fakes need no real directory; use a path that must NOT exist
    # on disk afterwards (asserted below)
    elif request.param == "memory":
        yield LakeCatalog(tmp_path / "mem_wh", io=InMemoryFileIO())
    elif request.param == "dirstore":
        # file-backed store: objects live under store_root/<key>, the
        # warehouse path itself must still never materialize on disk
        yield LakeCatalog(
            tmp_path / "mem_wh",
            io=ObjectStoreFileIO(DirectoryObjectStore(tmp_path / "store")),
        )
    elif request.param == "s3":
        # the REAL boto3 client against an in-process moto S3 — the
        # identical contract scenario over the deployed backend class
        moto = pytest.importorskip("moto")
        import boto3  # noqa: PLC0415

        from sample_iceberg_schema_evolution_pyiceberg_spark.fileio import (
            S3ObjectStore,
        )

        with moto.mock_aws():
            boto3.client("s3", region_name="us-east-1").create_bucket(
                Bucket="lake-metadata"
            )
            yield LakeCatalog(
                tmp_path / "mem_wh",
                io=ObjectStoreFileIO(
                    S3ObjectStore("lake-metadata", prefix="warehouse")
                ),
            )
    else:
        yield LakeCatalog(tmp_path / "mem_wh", io=ObjectStoreFileIO())


def test_catalog_metadata_contract(catalog, tmp_path):
    assert not catalog.table_exists("db", "t")
    assert catalog.load_table("db", "t") is None
    assert catalog.list_tables() == []

    spec = PartitionSpec((PartitionField("v", "identity", "v", 1000),))
    table = catalog.create_table("db", "t", SCHEMA, spec, {"k": "val"})
    assert catalog.table_exists("db", "t")
    with pytest.raises(TableFormatError):
        catalog.create_table("db", "t", SCHEMA)

    # load round-trips the committed metadata through the same io
    loaded = catalog.load_table("db", "t")
    assert loaded is not None
    assert loaded.schema == SCHEMA
    assert loaded.properties == {"k": "val"}
    assert loaded.partition_spec.fields[0].transform == "identity"

    # metadata-only evolution commits version 2 and survives reload
    new_schema = T.StructType(
        [*SCHEMA.fields, T.StructField("added", T.DoubleType(), True)]
    )
    loaded.commit_schema(new_schema)
    assert catalog.load_table("db", "t").schema == new_schema
    assert loaded.refresh().schema == new_schema

    catalog.create_table("db2", "u", SCHEMA)
    assert catalog.list_tables() == [("db", "t"), ("db2", "u")]

    catalog.drop_table("db", "t")
    assert not catalog.table_exists("db", "t")
    assert catalog.list_tables() == [("db2", "u")]

    # the fakes must never have touched the real filesystem
    if isinstance(catalog.io, (InMemoryFileIO, ObjectStoreFileIO)):
        assert not (tmp_path / "mem_wh").exists()


def test_create_text_is_exclusive(catalog):
    """The metadata commit's conflict check, on every backend: the
    first create of a path wins; a second raises FileExistsError and
    leaves the first writer's bytes in place."""
    import os  # noqa: PLC0415

    io = catalog.io
    meta_dir = str(catalog.warehouse / "db" / "t" / "_meta")
    path = io.join(meta_dir, "v2.metadata.json")
    io.create_text(path, "first")
    with pytest.raises(FileExistsError):
        io.create_text(path, "second")
    assert io.read_text(path) == "first"
    if isinstance(io, LocalFileIO):
        # the staged temp file never outlives the create
        assert os.listdir(meta_dir) == ["v2.metadata.json"]


def test_memory_io_blob_semantics():
    io = InMemoryFileIO()
    io.write_text("/a/b/c.txt", "x")
    assert io.exists("/a/b/c.txt")
    assert io.exists("/a/b")
    assert io.read_text("/a/b/c.txt") == "x"
    io.mkdirs("/a/d")
    assert io.list_subdirs("/a") == ["b", "d"]
    io.delete_recursive("/a/b")
    assert not io.exists("/a/b/c.txt")
    assert io.list_subdirs("/a") == ["d"]
    with pytest.raises(FileNotFoundError):
        io.read_text("/a/b/c.txt")


def test_data_plane_still_works_with_explicit_local_io(spark, tmp_path):
    """End-to-end (metadata via FileIO, data via Spark): append + scan
    must behave exactly as before the indirection."""
    from pyspark.sql import Row

    catalog = LakeCatalog(tmp_path / "wh", io=LocalFileIO())
    table = catalog.create_table("db", "t", SCHEMA)
    table.append(
        spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")], SCHEMA)
    )
    got = sorted(r["v"] for r in table.to_df(spark).collect())
    assert got == ["a", "b"]


def test_ddl_control_plane_over_memory_io(spark, tmp_path):
    """The SQL control plane (CREATE/ALTER/DROP — metadata-only
    statements) must run entirely against the object-store-model
    backend: schema evolution through DDL strings with not one byte on
    the local filesystem."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.ddl import DdlFrontend

    io = InMemoryFileIO()
    catalog = LakeCatalog(tmp_path / "mem_wh", io=io)
    ddl = DdlFrontend(spark, catalog)
    for stmt in [
        "CREATE TABLE db.t (id BIGINT NOT NULL, v STRING, "
        "meta STRUCT<src: STRING>) PARTITIONED BY (id)",
        "ALTER TABLE db.t ADD COLUMN added DOUBLE",
        "ALTER TABLE db.t ADD COLUMN meta.tag STRING",
        "ALTER TABLE db.t ALTER COLUMN added FIRST",
        "ALTER TABLE db.t DROP COLUMN v",
    ]:
        r = ddl.sql(stmt)
        assert not r.has_error, (stmt, r.message_list)
    table = catalog.load_table("db", "t")
    names = [f.name for f in table.schema.fields]
    assert names == ["added", "id", "meta"]
    assert [f.name for f in table.schema["meta"].dataType.fields] == [
        "src", "tag",
    ]
    # five metadata versions committed (create + 4 alters), all in the
    # fake, nothing on disk
    assert io.read_text(str(table.location / "_meta" / "version-hint.text"))
    assert not (tmp_path / "mem_wh").exists()
    r = ddl.sql("DROP TABLE db.t")
    assert not r.has_error
    assert catalog.list_tables() == []


def test_local_write_text_is_atomic_overwrite(tmp_path):
    """Metadata writes must never be observable half-written: the
    version-hint torn-read race (streaming source worker reading an
    empty hint mid-commit) is prevented by temp-file + rename."""
    import os
    from sample_iceberg_schema_evolution_pyiceberg_spark.fileio import LocalFileIO

    io = LocalFileIO()
    p = str(tmp_path / "ns" / "version-hint.text")
    io.write_text(p, "1")
    io.write_text(p, "2")
    assert io.read_text(p) == "2"
    # no temp debris left beside the target
    assert os.listdir(tmp_path / "ns") == ["version-hint.text"]


def test_object_store_primitive_semantics():
    """ObjectStoreFileIO is built STRICTLY on put/get/delete/list —
    no rename, no partial write, directories as pure prefixes."""
    store = FakeObjectStore()
    io = ObjectStoreFileIO(store)
    # the raw client surface is exactly the S3 constraint set
    assert {m for m in dir(store) if not m.startswith("_")} == {
        "put_object", "get_object", "delete_object", "list_objects"
    }
    io.write_text("/wh/db/t/_meta/v1.json", "{}")
    assert io.exists("/wh/db/t/_meta/v1.json")
    assert io.exists("/wh/db/t")          # prefix 'directory'
    assert io.exists("/wh/db")
    assert not io.exists("/wh/db/other")
    io.mkdirs("/wh/nothing")              # no-op: no directory objects
    assert not io.exists("/wh/nothing")
    io.write_text("/wh/db/t2/_meta/v1.json", "{}")
    assert io.list_subdirs("/wh/db") == ["t", "t2"]
    io.write_bytes("/wh/db/t/data/f1.bin", b"\x00\x01")
    assert io.read_bytes("/wh/db/t/data/f1.bin") == b"\x00\x01"
    assert io.list_files("/wh/db/t") == ["_meta/v1.json", "data/f1.bin"]
    io.delete_recursive("/wh/db/t")
    assert not io.exists("/wh/db/t")
    assert io.list_subdirs("/wh/db") == ["t2"]
    with pytest.raises(FileNotFoundError):
        io.read_text("/wh/db/t/_meta/v1.json")
    # idempotent delete, as in S3
    io.delete_recursive("/wh/db/t")


def test_atomic_commit_over_object_store():
    """The metadata commit protocol must need NO rename: each commit
    is one immutable metadata object + one whole-object PUT of the
    version hint; a reader between the two PUTs sees the previous
    consistent version (never a torn or missing hint)."""
    io = ObjectStoreFileIO()
    catalog = LakeCatalog("/wh", io=io)
    table = catalog.create_table("db", "t", SCHEMA)
    hint = str(table.location / "_meta" / "version-hint.text")
    v1 = int(io.read_text(hint))
    meta_v1 = io.read_text(
        str(table.location / "_meta" / f"v{v1}.metadata.json")
    )
    table.commit_schema(
        T.StructType([*SCHEMA.fields,
                      T.StructField("added", T.DoubleType(), True)])
    )
    v2 = int(io.read_text(hint))
    assert v2 == v1 + 1
    # the v1 metadata object is immutable — still byte-identical
    assert io.read_text(
        str(table.location / "_meta" / f"v{v1}.metadata.json")
    ) == meta_v1
    # a reader holding the old hint still resolves a full version
    assert catalog.load_table("db", "t").schema.fieldNames()[-1] == "added"


def test_ddl_control_plane_over_object_store(spark, tmp_path):
    """Same DDL episode as the memory-io test, over the strict
    object-store backend: metadata-only statements end to end with
    not one byte on the local filesystem and no rename available."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.ddl import DdlFrontend

    io = ObjectStoreFileIO()
    catalog = LakeCatalog(tmp_path / "os_wh", io=io)
    ddl = DdlFrontend(spark, catalog)
    for stmt in [
        "CREATE TABLE db.t (id BIGINT NOT NULL, v STRING)",
        "ALTER TABLE db.t ADD COLUMN added DOUBLE",
        "ALTER TABLE db.t DROP COLUMN v",
    ]:
        r = ddl.sql(stmt)
        assert not r.has_error, (stmt, r.message_list)
    table = catalog.load_table("db", "t")
    assert [f.name for f in table.schema.fields] == ["id", "added"]
    assert not (tmp_path / "os_wh").exists()


def test_data_plane_upload_download_roundtrip(spark, tmp_path):
    """The data-plane object-store lifecycle: Spark stages a snapshot
    locally, upload_dir promotes it (one PUT per immutable file — the
    object-store commit pattern), the local copy is destroyed, and
    download_dir rematerializes it for a scan. Proves the format's
    data files need only put/get/list/delete semantics."""
    from pyspark.sql import Row

    catalog = LakeCatalog(tmp_path / "wh")
    table = catalog.create_table("db", "t", SCHEMA)
    table.append(
        spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")], SCHEMA)
    )
    before = sorted(map(tuple, table.to_df(spark).collect()))
    snap_dir = table.location / table.snapshots[0].data_dir
    io = ObjectStoreFileIO()
    uploaded = upload_dir(str(snap_dir), io, "backup/snap")
    assert any(f.endswith(".parquet") for f in uploaded)
    # destroy the local copy -> scan breaks -> restore -> scan agrees
    import shutil

    shutil.rmtree(snap_dir)
    fetched = download_dir(io, "backup/snap", str(snap_dir))
    assert sorted(fetched) == sorted(uploaded)
    assert sorted(map(tuple, table.to_df(spark).collect())) == before


def test_maintenance_ops_over_object_store_data_plane(spark, tmp_path):
    """remove_orphan_files / expire_snapshots drive the data plane
    only through FileIO list/delete — run them with data_io bound to
    the object-store backend over a mirrored data prefix."""
    from pyspark.sql import Row
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeTable,
    )

    catalog = LakeCatalog(tmp_path / "wh")
    table = catalog.create_table("db", "t", SCHEMA)
    table.append(
        spark.createDataFrame([Row(id=1, v="a")], SCHEMA)
    )
    # mirror the data tree into the store, then rebind the data plane
    io = ObjectStoreFileIO()
    upload_dir(str(table.location), io, str(table.location).lstrip("/"))
    t2 = LakeTable(table.location, table.meta, data_io=io)
    # plant an orphan object under data/ — only the store copy has it
    io.write_bytes(
        str(table.location / "data" / "snap-deadbeef" / "junk.parquet"
            ).lstrip("/"),
        b"junk",
    )
    removed = t2.remove_orphan_files()
    assert removed == ["data/snap-deadbeef"]
    assert not io.exists(
        str(table.location / "data" / "snap-deadbeef").lstrip("/")
    )
    # the referenced snapshot dir survived in the store
    assert io.exists(
        str(table.location / table.snapshots[0].data_dir).lstrip("/")
    )


# -- round 7: process-shareable backend serialization ----------------------


def test_fileio_options_roundtrip(tmp_path):
    """to_options/from_options: local and directory-store backends
    reconstruct to a LIVE equivalent view; in-memory fakes say None."""
    local = LocalFileIO()
    assert fileio_from_options(local.to_options()).__class__ is LocalFileIO

    store_io = ObjectStoreFileIO(DirectoryObjectStore(tmp_path / "st"))
    store_io.write_text(str(tmp_path / "wh" / "hint.txt"), "7")
    opts = store_io.to_options()
    assert opts == {"io": "object_store_dir", "ioroot": str(tmp_path / "st")}
    rebuilt = fileio_from_options(opts)
    # live view, not a snapshot: a write AFTER reconstruction is seen
    assert rebuilt.read_text(str(tmp_path / "wh" / "hint.txt")) == "7"
    store_io.write_text(str(tmp_path / "wh" / "hint.txt"), "8")
    assert rebuilt.read_text(str(tmp_path / "wh" / "hint.txt")) == "8"

    assert InMemoryFileIO().to_options() is None
    assert ObjectStoreFileIO().to_options() is None  # FakeObjectStore
    with pytest.raises(ValueError):
        fileio_from_options({"io": "martian"})


def test_directory_store_hides_inflight_puts(tmp_path):
    """A half-written object must never be listed or readable — the
    atomic-PUT guarantee the metadata protocol depends on."""
    store = DirectoryObjectStore(tmp_path / "st")
    store.put_object("a/b.txt", b"x")
    # simulate a concurrent in-flight PUT
    (tmp_path / "st" / "a" / "c.txt.inflight.123.deadbeef").write_bytes(b"y")
    assert store.list_objects("a") == ["a/b.txt"]
    store.delete_object("a/missing")  # idempotent

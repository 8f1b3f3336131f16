"""Metadata-plane FileIO indirection for the lake catalog.

The reference's production posture is a Glue catalog over an S3
warehouse (``/root/reference/lambda/iceberg_helper.py:89-110``): the
*catalog and table metadata* live behind a service interface while the
*data files* are read/written by the engine's own IO stack. This module
gives table_format.py the same seam:

- every metadata operation (version hints, metadata JSON, existence
  probes, namespace listing, drop) goes through a ``FileIO`` object;
- the data plane stays on Spark's Hadoop FileSystem layer
  (``df.write.parquet`` / ``spark.read.parquet``), which is already
  pluggable to S3/GCS/HDFS by deployment configuration (s3a:// URLs +
  the relevant jars) — re-abstracting it in Python would add a slower
  second path for no portability gain.

An S3 metadata backend is therefore one subclass (get/put/list on keys,
plus a URL-aware ``join``) and a location scheme — a config change, not
a refactor. ``InMemoryFileIO`` is the contract-test fake proving
nothing in the catalog reaches the local filesystem directly;
``ObjectStoreFileIO`` (below) is the S3-shaped backend proper, built
strictly on a put/get/delete/list client with NO rename and NO partial
writes, and documents exactly which guarantees the format needs from
the store (tests/test_fileio.py runs the same scenarios against all
backends, plus the atomic-commit and data-plane lifecycle tests
against the object store).
"""

from __future__ import annotations

import os
import shutil
import uuid
from abc import ABC, abstractmethod


class FileIO(ABC):
    """Small metadata-IO surface: text blobs + namespace operations.
    Paths are strings; ``join`` owns separator semantics so URL-style
    backends can override it."""

    @abstractmethod
    def read_text(self, path: str) -> str: ...

    @abstractmethod
    def write_text(self, path: str, text: str) -> None:
        """Write, creating parent namespaces as needed."""

    @abstractmethod
    def create_text(self, path: str, text: str) -> None:
        """Exclusive create: write ``path`` only if nothing is there,
        else raise ``FileExistsError``. The metadata commit's conflict
        check — two writers from one base both claim ``v{N+1}``, and
        exactly one create succeeds."""

    @abstractmethod
    def exists(self, path: str) -> bool: ...

    @abstractmethod
    def mkdirs(self, path: str) -> None:
        """Idempotent namespace creation."""

    @abstractmethod
    def delete_recursive(self, path: str) -> None:
        """Remove a path and everything under it; no-op if absent."""

    @abstractmethod
    def list_subdirs(self, path: str) -> list[str]:
        """Immediate child namespace names, sorted; [] if absent."""

    def join(self, base: str, *parts: str) -> str:
        return os.path.join(base, *parts)

    # binary object API (data-plane management; see the object-store
    # section below for why bulk data bytes do NOT flow through here)
    def read_bytes(self, path: str) -> bytes:
        raise NotImplementedError(type(self).__name__)

    def write_bytes(self, path: str, data: bytes) -> None:
        raise NotImplementedError(type(self).__name__)

    def list_files(self, path: str) -> list[str]:
        """All file/object paths under the prefix, relative to it,
        sorted."""
        raise NotImplementedError(type(self).__name__)

    def rename_dir(self, src: str, dst: str) -> None:
        """Move everything under ``src`` to ``dst`` (table rename).
        Default: per-object copy + delete built strictly from the
        bytes API — the S3 model, where no rename exists; O(#objects)
        and non-atomic, which is exactly why catalog-of-record
        backends (GlueLakeCatalog.rename_table) re-point the catalog
        entry and keep the LOCATION fixed instead, like Iceberg's own
        Glue rename. Filesystem backends override with an atomic
        rename."""
        for rel in self.list_files(src):
            self.write_bytes(
                self.join(dst, rel), self.read_bytes(self.join(src, rel))
            )
        self.delete_recursive(src)

    def to_options(self) -> "dict[str, str] | None":
        """Serialize a RECONSTRUCTIBLE handle to this backend as plain
        string options (the seam the log-driven streaming source
        needs: its reader runs in a separate worker process and
        re-reads the snapshot log every batch, so it must be able to
        build an equivalent LIVE view of the metadata from options
        alone — ``fileio_from_options`` is the inverse). Returns None
        when the backend is process-local (in-memory fakes) and no
        live handle can cross a process boundary."""
        return None


def fileio_from_options(options: "dict[str, str]") -> "FileIO":
    """Inverse of ``FileIO.to_options``: rebuild a backend from plain
    string options in ANOTHER process. Keys are lowercase (Spark
    lowercases data-source option names). A cloud deployment adds its
    backend here (e.g. ``{"io": "s3", ...}`` -> a boto3-backed FileIO);
    the dispatch table is the one extension point."""
    kind = options.get("io", "local")
    if kind == "local":
        return LocalFileIO()
    if kind == "object_store_dir":
        return ObjectStoreFileIO(DirectoryObjectStore(options["ioroot"]))
    if kind == "s3":
        return ObjectStoreFileIO(
            S3ObjectStore(
                bucket=options["iobucket"],
                prefix=options.get("ioprefix", ""),
                region=options.get("ioregion") or None,
                endpoint_url=options.get("ioendpoint") or None,
            )
        )
    raise ValueError(f"unknown FileIO backend {kind!r}")


class LocalFileIO(FileIO):
    """POSIX filesystem backend (the in-container default)."""

    def read_text(self, path: str) -> str:
        with open(path, encoding="utf-8") as f:
            return f.read()

    @staticmethod
    def _staged(path: str, data: bytes) -> str:
        """Write ``data`` to a sibling temp file and return its path."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as f:
            f.write(data)
        return tmp

    def write_text(self, path: str, text: str) -> None:
        """Atomic: write a sibling temp file, then rename over the
        target. A truncate-in-place write lets a concurrent reader
        (another handle, the streaming source's worker process)
        observe an EMPTY version-hint mid-commit — the torn read
        Iceberg's metadata protocol avoids the same way."""
        os.replace(self._staged(path, text.encode("utf-8")), path)

    def create_text(self, path: str, text: str) -> None:
        """Temp file + hard link: ``os.link`` refuses an existing
        target, so the create is exclusive, and the linked file is
        complete the moment it appears."""
        tmp = self._staged(path, text.encode("utf-8"))
        try:
            os.link(tmp, path)
        finally:
            os.remove(tmp)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def delete_recursive(self, path: str) -> None:
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)

    def list_subdirs(self, path: str) -> list[str]:
        if not os.path.isdir(path):
            return []
        return sorted(
            e for e in os.listdir(path)
            if os.path.isdir(os.path.join(path, e))
        )

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def write_bytes(self, path: str, data: bytes) -> None:
        os.replace(self._staged(path, data), path)

    def list_files(self, path: str) -> list[str]:
        out = []
        for dirpath, _dirs, files in os.walk(path):
            for f in files:
                out.append(
                    os.path.relpath(os.path.join(dirpath, f), path)
                )
        return sorted(out)

    def rename_dir(self, src: str, dst: str) -> None:
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)  # atomic on one filesystem; dst must not exist

    def to_options(self) -> dict[str, str]:
        return {"io": "local"}


class InMemoryFileIO(FileIO):
    """Dict-backed fake: a blob store keyed by path, with directories
    implied by key prefixes (exactly the object-store model an S3
    backend would have). Used by contract tests to prove the catalog's
    metadata plane never touches the local filesystem directly."""

    def __init__(self) -> None:
        self.blobs: dict[str, str] = {}
        self.dirs: set[str] = set()

    def _norm(self, path: str) -> str:
        return os.path.normpath(path)

    def read_text(self, path: str) -> str:
        key = self._norm(path)
        if key not in self.blobs:
            raise FileNotFoundError(path)
        return self.blobs[key]

    def write_text(self, path: str, text: str) -> None:
        key = self._norm(path)
        self.blobs[key] = text
        parent = os.path.dirname(key)
        while parent and parent not in self.dirs:
            self.dirs.add(parent)
            parent = os.path.dirname(parent)

    def create_text(self, path: str, text: str) -> None:
        if self._norm(path) in self.blobs:
            raise FileExistsError(path)
        self.write_text(path, text)

    def exists(self, path: str) -> bool:
        key = self._norm(path)
        return key in self.blobs or key in self.dirs

    def mkdirs(self, path: str) -> None:
        key = self._norm(path)
        while key and key not in self.dirs:
            self.dirs.add(key)
            key = os.path.dirname(key)

    def delete_recursive(self, path: str) -> None:
        prefix = self._norm(path)
        self.blobs = {
            k: v
            for k, v in self.blobs.items()
            if k != prefix and not k.startswith(prefix + os.sep)
        }
        self.dirs = {
            d
            for d in self.dirs
            if d != prefix and not d.startswith(prefix + os.sep)
        }

    def list_subdirs(self, path: str) -> list[str]:
        prefix = self._norm(path) + os.sep
        out = set()
        for d in self.dirs:
            if d.startswith(prefix):
                out.add(d[len(prefix):].split(os.sep, 1)[0])
        return sorted(out)

    def rename_dir(self, src: str, dst: str) -> None:
        sp, dp = self._norm(src), self._norm(dst)

        def _mv(key: str) -> str:
            if key == sp or key.startswith(sp + os.sep):
                return dp + key[len(sp):]
            return key

        self.blobs = {_mv(k): v for k, v in self.blobs.items()}
        self.dirs = {_mv(d) for d in self.dirs}
        self.mkdirs(os.path.dirname(dp))


# -- object-store backend ---------------------------------------------------
#
# What the table format REQUIRES from a store (and nothing more):
#   1. atomic whole-object PUT (readers see the old object or the new
#      one, never a partial write) — carries the version-hint update;
#   2. read-after-write consistency for the version hint (S3 provides
#      this since 2020; the hint names the metadata JSON, which is
#      immutable once written, so everything else only needs eventual
#      list consistency);
#   3. GET / DELETE by key and LIST by prefix;
#   4. a conditional PUT that fails when the key exists (S3's
#      ``If-None-Match: *``, ``put_object(..., if_absent=True)`` here)
#      — carries the commit's conflict check: two writers from one
#      base both claim ``v{N+1}.metadata.json`` and one create fails.
# Deliberately NOT required: rename (S3 has none — LocalFileIO's
# rename-based atomic write is an optimization, not a protocol
# dependency), append, partial write, directory objects (namespaces
# are pure key prefixes; mkdirs is a no-op).
#
# Data plane at scale: Spark's Hadoop FileSystem layer writes parquet
# straight to the store (s3a:// + jars) — routing 100 TB of data bytes
# through a Python FileIO would serialize the cluster's IO through the
# driver. The bytes API below exists so the FORMAT's own management
# ops (orphan reaping, expiration, snapshot promotion/restore) and the
# lifecycle contract tests can run against a store fake, proving the
# metadata protocol needs only the constraint set above.


class FakeObjectStore:
    """In-memory stand-in for an S3-class store, exposing ONLY the
    object-store primitive set: put/get/delete by key, list by prefix.
    No rename, no append, no partial writes, no directories."""

    def __init__(self) -> None:
        self._objects: dict[str, bytes] = {}

    def put_object(self, key: str, data: bytes, if_absent: bool = False) -> None:
        if if_absent and key in self._objects:
            raise FileExistsError(key)
        self._objects[key] = bytes(data)  # atomic whole-object PUT

    def get_object(self, key: str) -> bytes:
        if key not in self._objects:
            raise FileNotFoundError(key)
        return self._objects[key]

    def delete_object(self, key: str) -> None:
        self._objects.pop(key, None)  # idempotent, as in S3

    def list_objects(self, prefix: str) -> list[str]:
        return sorted(k for k in self._objects if k.startswith(prefix))


class DirectoryObjectStore:
    """File-backed object store: the PROCESS-SHAREABLE sibling of
    FakeObjectStore, exposing the same strict client surface
    (put/get/delete/list by key — no rename, no append, no partial
    writes AT THE INTERFACE). Objects live as files under a root
    directory, so another process — e.g. the log-driven streaming
    source's Python worker — opens a live view of the same store from
    the root path alone. PUT atomicity is implemented internally with
    a temp file + rename, the local stand-in for S3's internally
    atomic PUT; that is this stand-in's implementation detail, not a
    protocol dependency of the table format (the FileIO layer above
    never calls rename — the constraint the object-store backend
    exists to enforce)."""

    def __init__(self, root: str) -> None:
        self.root = str(root)
        os.makedirs(self.root, exist_ok=True)

    def _path(self, key: str) -> str:
        return os.path.join(self.root, key)

    def put_object(self, key: str, data: bytes, if_absent: bool = False) -> None:
        p = self._path(key)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = f"{p}.inflight.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as f:
            f.write(bytes(data))
        if not if_absent:
            os.replace(tmp, p)  # readers see the old object or the new one
            return
        try:
            os.link(tmp, p)  # refuses an existing object
        finally:
            os.remove(tmp)

    def get_object(self, key: str) -> bytes:
        with open(self._path(key), "rb") as f:  # FileNotFoundError
            return f.read()

    def delete_object(self, key: str) -> None:
        try:
            os.remove(self._path(key))
        except (FileNotFoundError, IsADirectoryError):
            # idempotent, as in S3 — and a bare prefix is not an
            # object (directories are implementation residue here;
            # list_objects only ever reports files)
            pass

    def list_objects(self, prefix: str) -> list[str]:
        out = []
        for dirpath, _dirs, files in os.walk(self.root):
            for f in files:
                if ".inflight." in f:
                    continue  # a concurrent PUT is not yet an object
                key = os.path.relpath(os.path.join(dirpath, f), self.root)
                if key.startswith(prefix):
                    out.append(key)
        return sorted(out)


class S3ObjectStore:
    """The REAL S3 client behind the same strict surface the fakes
    model: put/get/delete/list by key via boto3 — no rename, no
    append, no partial write, because S3 itself has none. Whole-object
    PUT atomicity and idempotent DELETE are S3 service guarantees
    (the exact constraint set `ObjectStoreFileIO` was designed
    against), so this class is a thin translation layer, not new
    semantics — the point the contract tests prove by running the
    identical scenario suite over the fakes and over this client
    (against a local moto endpoint; the reference's deployed posture,
    iceberg_helper.py:89-110 / lambda_helper.py:81-99, is the same
    boto3 surface pointed at real AWS).

    Credentials are NEVER serialized: workers resolve them through the
    standard AWS chain (env / instance profile), exactly as Spark's
    s3a data plane does. Only bucket/prefix/region/endpoint travel in
    ``to_options``. The boto3 client is built lazily per process and
    dropped on pickle — clients hold sockets and are not picklable."""

    def __init__(
        self,
        bucket: str,
        prefix: str = "",
        region: "str | None" = None,
        endpoint_url: "str | None" = None,
    ) -> None:
        self.bucket = bucket
        self.prefix = prefix.strip("/")
        self.region = region
        self.endpoint_url = endpoint_url
        self._client = None

    # -- plumbing ---------------------------------------------------------

    def __getstate__(self) -> dict:
        d = dict(self.__dict__)
        d["_client"] = None
        return d

    def _s3(self):
        if self._client is None:
            import boto3  # noqa: PLC0415 — optional dependency, import-gated

            self._client = boto3.client(
                "s3",
                region_name=self.region,
                endpoint_url=self.endpoint_url,
            )
        return self._client

    def _full(self, key: str) -> str:
        return f"{self.prefix}/{key}" if self.prefix else key

    # -- the strict surface -----------------------------------------------

    def put_object(self, key: str, data: bytes, if_absent: bool = False) -> None:
        """``if_absent`` is S3's conditional write (``If-None-Match:
        *``): the service answers 412 PreconditionFailed when the key
        exists, or 409 ConditionalRequestConflict when a concurrent
        conditional PUT of the same key is in flight."""
        from botocore.exceptions import ClientError  # noqa: PLC0415

        extra = {"IfNoneMatch": "*"} if if_absent else {}
        try:
            self._s3().put_object(
                Bucket=self.bucket, Key=self._full(key), Body=bytes(data),
                **extra,
            )
        except ClientError as e:
            code = e.response.get("Error", {}).get("Code", "")
            if if_absent and code in (
                "PreconditionFailed", "ConditionalRequestConflict"
            ):
                raise FileExistsError(key) from e
            raise

    def get_object(self, key: str) -> bytes:
        from botocore.exceptions import ClientError  # noqa: PLC0415

        try:
            resp = self._s3().get_object(
                Bucket=self.bucket, Key=self._full(key)
            )
        except ClientError as e:
            code = e.response.get("Error", {}).get("Code", "")
            if code in ("NoSuchKey", "404", "NoSuchBucket"):
                raise FileNotFoundError(key) from e
            raise
        return resp["Body"].read()

    def delete_object(self, key: str) -> None:
        # S3 DeleteObject is idempotent: deleting a missing key succeeds
        self._s3().delete_object(Bucket=self.bucket, Key=self._full(key))

    def list_objects(self, prefix: str) -> list[str]:
        full = self._full(prefix)
        strip = len(self.prefix) + 1 if self.prefix else 0
        out: list[str] = []
        paginator = self._s3().get_paginator("list_objects_v2")
        for page in paginator.paginate(Bucket=self.bucket, Prefix=full):
            for obj in page.get("Contents", []):
                out.append(obj["Key"][strip:])
        return sorted(out)


class ObjectStoreFileIO(FileIO):
    """FileIO over a raw object-store client — every method is built
    strictly from put/get/delete/list (the S3 constraint set).
    Namespaces are key prefixes: ``mkdirs`` is a no-op, ``exists`` on
    a 'directory' means 'any key under the prefix', and
    ``list_subdirs`` is an S3 delimiter listing (common prefixes)."""

    SEP = "/"

    def __init__(
        self,
        store: "FakeObjectStore | DirectoryObjectStore | S3ObjectStore | None" = None,
    ) -> None:
        self.store = store or FakeObjectStore()

    def to_options(self) -> dict[str, str] | None:
        if isinstance(self.store, DirectoryObjectStore):
            return {"io": "object_store_dir", "ioroot": self.store.root}
        if isinstance(self.store, S3ObjectStore):
            opts = {"io": "s3", "iobucket": self.store.bucket}
            if self.store.prefix:
                opts["ioprefix"] = self.store.prefix
            if self.store.region:
                opts["ioregion"] = self.store.region
            if self.store.endpoint_url:
                opts["ioendpoint"] = self.store.endpoint_url
            return opts
        return None  # in-memory store: not process-shareable

    def _key(self, path: str) -> str:
        # normalize OS separators to object keys; strip leading slashes
        return os.path.normpath(path).replace(os.sep, self.SEP).lstrip(
            self.SEP
        )

    def read_text(self, path: str) -> str:
        return self.store.get_object(self._key(path)).decode("utf-8")

    def write_text(self, path: str, text: str) -> None:
        # no temp-file + rename: the PUT itself is atomic (store
        # guarantee #1) — this is exactly why the protocol must not
        # depend on rename
        self.store.put_object(self._key(path), text.encode("utf-8"))

    def create_text(self, path: str, text: str) -> None:
        # a conditional PUT, not a probe-then-write: the check and the
        # write are one store operation
        self.store.put_object(
            self._key(path), text.encode("utf-8"), if_absent=True
        )

    def read_bytes(self, path: str) -> bytes:
        return self.store.get_object(self._key(path))

    def write_bytes(self, path: str, data: bytes) -> None:
        self.store.put_object(self._key(path), data)

    def exists(self, path: str) -> bool:
        key = self._key(path)
        objs = self.store.list_objects(key)
        # exact object, or 'directory' = any object under the prefix
        return key in objs or any(
            k.startswith(key + self.SEP) for k in objs
        )

    def mkdirs(self, path: str) -> None:
        # namespaces are implicit in keys — nothing to create
        return None

    def delete_recursive(self, path: str) -> None:
        key = self._key(path)
        self.store.delete_object(key)
        for k in self.store.list_objects(key + self.SEP):
            self.store.delete_object(k)

    def list_subdirs(self, path: str) -> list[str]:
        prefix = self._key(path) + self.SEP
        out = set()
        for k in self.store.list_objects(prefix):
            rest = k[len(prefix):]
            if self.SEP in rest:  # common prefix = child namespace
                out.add(rest.split(self.SEP, 1)[0])
        return sorted(out)

    def list_files(self, path: str) -> list[str]:
        """All object keys under the prefix, relative to it."""
        prefix = self._key(path) + self.SEP
        return [k[len(prefix):] for k in self.store.list_objects(prefix)]


def upload_dir(local_dir: str, io: FileIO, dest: str) -> list[str]:
    """Promote a locally-staged directory tree into a FileIO backend —
    one whole-object PUT per file (the object-store commit pattern:
    data files are immutable once referenced, so there is nothing to
    rename). Returns the uploaded relative paths."""
    uploaded: list[str] = []
    for dirpath, _dirs, files in os.walk(local_dir):
        for f in sorted(files):
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, local_dir)
            with open(full, "rb") as fh:
                io.write_bytes(io.join(dest, rel), fh.read())
            uploaded.append(rel)
    return uploaded


def download_dir(io: FileIO, src: str, local_dir: str) -> list[str]:
    """Materialize a FileIO prefix into a local directory (the read
    cache an engine-side scan of object-store data would use)."""
    fetched: list[str] = []
    for rel in io.list_files(src):
        dest = os.path.join(local_dir, rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        with open(dest, "wb") as fh:
            fh.write(io.read_bytes(io.join(src, rel)))
        fetched.append(rel)
    return fetched

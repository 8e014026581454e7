"""Pluggable storage backend for the format layer's metadata plane.

The round-1 verdict's interop ask: the engine reads/writes its own
parquet+JSON-manifest "Lance-style" layout because the `lance` pip SDK is
not installed in this environment — so the manifest/fragment abstraction
must expose a seam where a real-SDK backend can drop in without touching
operators. This module is that seam.

Split of responsibilities:

- **Metadata plane (this seam)** — version listing, manifest read, atomic
  manifest commit. Everything in `manifest.py` routes through the installed
  `StorageBackend`. A real Lance backend maps these to
  `lance.dataset(uri).versions()`, `lance.dataset(uri, version=n)`, and
  `lance.LanceDataset.commit(...)` respectively (public `lance` pip SDK
  API), translating Lance fragment metadata into `Manifest`/`Fragment`.
- **Data plane (not this seam)** — fragment bytes are read by Spark
  executors. The parquet backend hands Spark native file paths (zero-copy
  into Spark's vectorized reader); a real-SDK backend would instead swap
  the DataSource `read()` to `lance` fragment scanners yielding Arrow
  batches — the `format("lance")` reader is already Arrow-batch shaped
  (`sources/lance_datasource.py` `read()`), so only that method changes.

The default `DirectoryBackend` is today's local/posix implementation:
`_versions/<N>.manifest.json` with hard-link atomic commits (reference
conflict model, `LanceMetadata.java:1489-1513`).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Protocol, runtime_checkable


class CommitConflictError(RuntimeError):
    """Another transaction committed the same target version first
    (TRANSACTION_CONFLICT in the reference)."""


class VersionNotFoundError(ValueError):
    pass


VERSIONS_DIR = "_versions"


@runtime_checkable
class StorageBackend(Protocol):
    """Metadata-plane operations every backend must provide."""

    def list_versions(self, root: str) -> list[int]:
        ...

    def read_manifest_json(self, root: str, version: int) -> dict:
        """Raise VersionNotFoundError if the version does not exist."""
        ...

    def commit_manifest_json(self, root: str, version: int, payload: dict) -> None:
        """Atomically publish `payload` as `version`; raise
        CommitConflictError if that version was committed concurrently."""
        ...

    def delete_manifest(self, root: str, version: int) -> None:
        """Remove a version's manifest (vacuum); missing version is a no-op."""
        ...


class DirectoryBackend:
    """Local/posix directory layout with hard-link atomic commits."""

    @staticmethod
    def _vdir(root: str) -> str:
        return os.path.join(root, VERSIONS_DIR)

    @staticmethod
    def _mpath(root: str, version: int) -> str:
        return os.path.join(root, VERSIONS_DIR, f"{version}.manifest.json")

    def list_versions(self, root: str) -> list[int]:
        vdir = self._vdir(root)
        if not os.path.isdir(vdir):
            return []
        out = []
        for name in os.listdir(vdir):
            if name.endswith(".manifest.json"):
                try:
                    out.append(int(name.split(".", 1)[0]))
                except ValueError:
                    continue
        return sorted(out)

    def read_manifest_json(self, root: str, version: int) -> dict:
        p = self._mpath(root, version)
        if not os.path.exists(p):
            raise VersionNotFoundError(f"version {version} does not exist at {root}")
        with open(p) as f:
            return json.load(f)

    def commit_manifest_json(self, root: str, version: int, payload: dict) -> None:
        vdir = self._vdir(root)
        os.makedirs(vdir, exist_ok=True)
        tmp = os.path.join(vdir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(payload, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            # hard-link creation is atomic and fails with EEXIST if another
            # writer committed this version first → conflict, no partial
            # state ever visible.
            os.link(tmp, self._mpath(root, version))
        except FileExistsError as e:
            raise CommitConflictError(
                f"version {version} at {root} was committed by another transaction"
            ) from e
        finally:
            os.unlink(tmp)

    def delete_manifest(self, root: str, version: int) -> None:
        try:
            os.unlink(self._mpath(root, version))
        except FileNotFoundError:
            pass


@runtime_checkable
class ObjectStore(Protocol):
    """Minimal object-store surface the metadata plane needs. The one
    non-trivial primitive is `put_if_absent` — conditional create, the
    object-store equivalent of DirectoryBackend's hard-link commit. Real
    stores provide it natively: S3 `PUT If-None-Match: *`, GCS
    `x-goog-if-generation-match: 0`, ABFS `If-None-Match: *` — the same
    primitive the reference's coordinator relies on for manifest publication
    (`LanceMetadata.java:1489-1513` conflict model)."""

    def put_if_absent(self, key: str, data: bytes) -> bool:
        """Create `key` with `data`; False (no write) if the key exists."""
        ...

    def get(self, key: str) -> bytes | None:
        ...

    def list_prefix(self, prefix: str) -> list[str]:
        ...

    def delete(self, key: str) -> None:
        """Missing key is a no-op."""
        ...


class MemoryObjectStore:
    """Dict-backed ObjectStore with true conditional-put semantics — the
    conformance target proving the seam holds beyond posix paths (no
    filesystem involved at all). Thread-safe like a real store's
    conditional PUT.

    Picklable BY COPY: a binding shipped into a Spark task gives the
    worker a SNAPSHOT of the objects — reads work (distributed scans),
    but worker writes never propagate back, hence
    ``shared_across_processes = False`` (the native batch writer refuses
    to stage onto a non-shared remote store)."""

    shared_across_processes = False

    def __init__(self) -> None:
        import threading

        self._objects: dict[str, bytes] = {}
        self._mtimes: dict[str, float] = {}
        self._lock = threading.Lock()

    def __getstate__(self):
        return {"_objects": dict(self._objects),
                "_mtimes": dict(self._mtimes)}

    def __setstate__(self, state):
        import threading

        self._objects = state["_objects"]
        self._mtimes = state.get("_mtimes", {})
        self._lock = threading.Lock()

    def put_if_absent(self, key: str, data: bytes) -> bool:
        import time as _time

        with self._lock:
            if key in self._objects:
                return False
            self._objects[key] = bytes(data)
            self._mtimes[key] = _time.time()
            return True

    def get(self, key: str) -> bytes | None:
        return self._objects.get(key)

    def put(self, key: str, data: bytes) -> None:
        """Unconditional PUT (data-plane writes; commits stay conditional)."""
        import time as _time

        with self._lock:
            self._objects[key] = bytes(data)
            self._mtimes[key] = _time.time()

    def mtime(self, key: str) -> float | None:
        """Object last-modified (real stores expose LastModified; vacuum's
        debris grace gate needs it on the memory double too)."""
        return self._mtimes.get(key)

    def get_range(self, key: str, start: int, length: int) -> bytes:
        """Ranged GET — the primitive that keeps footer-seek metadata
        reads O(bytes asked) on real stores; callers are audited against
        it here (bytes served per call are exactly the range)."""
        return self._objects[key][start:start + length]

    def size(self, key: str) -> int | None:
        data = self._objects.get(key)
        return None if data is None else len(data)

    def list_prefix(self, prefix: str) -> list[str]:
        return sorted(k for k in self._objects if k.startswith(prefix))

    def delete(self, key: str) -> None:
        self._objects.pop(key, None)
        self._mtimes.pop(key, None)


class FsspecObjectStore:
    """fsspec-backed ObjectStore (s3://, gs://, abfs://, memory://...).

    Gated behind an import-try because fsspec is not installed in this
    environment. IMPORTANT atomicity note: generic fsspec filesystems do
    NOT expose conditional create, so `put_if_absent` here is
    check-then-write — atomic only for stores whose `_put` maps to a
    conditional request. Production use on S3/GCS should subclass and
    route the conditional headers through the store's native API; shipping
    a silently non-atomic commit path is exactly what this seam refuses to
    do, hence the loud warning on construction."""

    def __init__(self, protocol: str, **fs_kwargs):
        try:
            import fsspec
        except ImportError as e:  # pragma: no cover — env-dependent
            raise RuntimeError(
                "FsspecObjectStore requires the fsspec package (not "
                "installed in this environment); use MemoryObjectStore for "
                "tests or DirectoryBackend for posix paths"
            ) from e
        import warnings

        self.fs = fsspec.filesystem(protocol, **fs_kwargs)
        warnings.warn(
            "FsspecObjectStore.put_if_absent is check-then-write on generic "
            "fsspec filesystems; for S3/GCS route conditional-create through "
            "the store's native API before using this for concurrent commits",
            RuntimeWarning,
            stacklevel=2,
        )

    def put_if_absent(self, key: str, data: bytes) -> bool:
        if self.fs.exists(key):
            return False
        with self.fs.open(key, "wb") as f:
            f.write(data)
        return True

    def get(self, key: str) -> bytes | None:
        if not self.fs.exists(key):
            return None
        with self.fs.open(key, "rb") as f:
            return f.read()

    def list_prefix(self, prefix: str) -> list[str]:
        # fs.ls lists the parent directory; filter back down to the prefix
        # (the ObjectStore contract MemoryObjectStore implements), tolerant
        # of fsspec implementations that strip or add the protocol scheme.
        bare = prefix.split("://", 1)[-1]
        try:
            entries = self.fs.ls(prefix.rsplit("/", 1)[0])
        except FileNotFoundError:
            return []
        return sorted(
            p
            for p in entries
            if p.startswith(prefix) or p.split("://", 1)[-1].startswith(bare)
        )

    def mtime(self, key: str) -> float | None:
        """Last-modified epoch seconds — backs vacuum's debris-grace
        age gate (nio.mtime treats None as 'unknown age: keep', which
        would otherwise leak orphaned shard files forever on
        object-store datasets)."""
        try:
            m = self.fs.modified(key)
        except (FileNotFoundError, NotImplementedError, ValueError):
            return None
        if m is None:
            return None
        if m.tzinfo is None:
            from datetime import timezone

            m = m.replace(tzinfo=timezone.utc)
        return m.timestamp()

    def delete(self, key: str) -> None:
        try:
            self.fs.rm(key)
        except FileNotFoundError:
            pass


class PyArrowFsObjectStore:
    """ObjectStore over a `pyarrow.fs.FileSystem` (S3FileSystem,
    GcsFileSystem, LocalFileSystem for tests) — pyarrow IS installed in
    this environment, so this is the production-shaped adapter for
    remote native datasets. Keys under ``root_uri`` map onto
    ``base_path`` inside the filesystem; pyarrow filesystems pickle, so
    a binding ships into Spark tasks and workers talk to the SAME store
    (``shared_across_processes = True`` — distributed staging writes are
    legal, unlike MemoryObjectStore's copy semantics).

    Atomicity note, same stance as FsspecObjectStore: pyarrow.fs has no
    conditional create, so ``put_if_absent`` is check-then-write —
    production S3/GCS commits should subclass and route the conditional
    headers (`If-None-Match: *` / `if-generation-match: 0`) through the
    store's native API; the loud construction warning refuses to let a
    silently non-atomic commit path pass as safe."""

    shared_across_processes = True

    def __init__(self, fs, root_uri: str, base_path: str):
        import warnings

        self.fs = fs
        self._root = root_uri.rstrip("/")
        self._base = base_path.rstrip("/")
        warnings.warn(
            "PyArrowFsObjectStore.put_if_absent is check-then-write "
            "(pyarrow.fs exposes no conditional create); for S3/GCS "
            "route conditional-create through the store's native API "
            "before relying on concurrent commits",
            RuntimeWarning,
            stacklevel=2,
        )

    def _p(self, key: str) -> str:
        k = key.rstrip("/")
        if k == self._root:
            return self._base
        if not k.startswith(self._root + "/"):
            raise ValueError(f"key {key!r} outside root {self._root!r}")
        return f"{self._base}/{k[len(self._root) + 1:]}"

    def _k(self, path: str) -> str:
        return f"{self._root}/{path[len(self._base) + 1:]}"

    def get(self, key: str) -> bytes | None:
        try:
            with self.fs.open_input_stream(self._p(key)) as f:
                return f.read()
        except (FileNotFoundError, OSError):
            return None

    def get_range(self, key: str, start: int, length: int) -> bytes:
        with self.fs.open_input_file(self._p(key)) as f:
            return f.read_at(length, start)

    def size(self, key: str) -> int | None:
        import pyarrow.fs as pafs

        info = self.fs.get_file_info(self._p(key))
        if info.type != pafs.FileType.File:
            return None
        return int(info.size)

    def mtime(self, key: str) -> float | None:
        """Last-modified epoch seconds from FileInfo.mtime_ns — backs
        vacuum's debris-grace age gate (None = unknown = keep, so a
        store without mtimes would never reap orphaned shards)."""
        import pyarrow.fs as pafs

        info = self.fs.get_file_info(self._p(key))
        if info.type != pafs.FileType.File or info.mtime_ns is None:
            return None
        return info.mtime_ns / 1e9

    def put(self, key: str, data: bytes) -> None:
        p = self._p(key)
        parent = p.rsplit("/", 1)[0]
        self.fs.create_dir(parent, recursive=True)
        with self.fs.open_output_stream(p) as f:
            f.write(data)

    def put_if_absent(self, key: str, data: bytes) -> bool:
        if self.size(key) is not None:
            return False
        self.put(key, data)
        return True

    def list_prefix(self, prefix: str) -> list[str]:
        import pyarrow.fs as pafs

        p = self._p(prefix.rstrip("/")) if prefix.rstrip("/") != \
            self._root else self._base
        # prefix may name a directory or a key prefix inside one
        bare = prefix.rstrip("/")
        out = []
        sel_dir = p if prefix.endswith("/") or prefix.rstrip("/") in (
            self._root,) else p.rsplit("/", 1)[0]
        try:
            infos = self.fs.get_file_info(
                pafs.FileSelector(sel_dir, recursive=True))
        except (FileNotFoundError, OSError):
            return []
        for info in infos:
            if info.type == pafs.FileType.File:
                k = self._k(info.path)
                if k.startswith(prefix) or k.startswith(bare + "/"):
                    out.append(k)
        return sorted(out)

    def delete(self, key: str) -> None:
        try:
            self.fs.delete_file(self._p(key))
        except (FileNotFoundError, OSError):
            pass


class ObjectStoreBackend:
    """StorageBackend over any ObjectStore: manifests live at
    `<root>/_versions/<N>.manifest.json` keys; the atomic commit is the
    store's conditional put instead of a posix hard link. This is the
    object-store shape of the metadata plane — the layout and protocol are
    identical to DirectoryBackend, only the atomicity primitive differs."""

    def __init__(self, store: ObjectStore):
        self.store = store

    @staticmethod
    def _key(root: str, version: int) -> str:
        return f"{root.rstrip('/')}/{VERSIONS_DIR}/{version}.manifest.json"

    @staticmethod
    def _prefix(root: str) -> str:
        return f"{root.rstrip('/')}/{VERSIONS_DIR}/"

    def list_versions(self, root: str) -> list[int]:
        out = []
        for key in self.store.list_prefix(self._prefix(root)):
            name = key.rsplit("/", 1)[-1]
            if name.endswith(".manifest.json"):
                try:
                    out.append(int(name.split(".", 1)[0]))
                except ValueError:
                    continue
        return sorted(out)

    def read_manifest_json(self, root: str, version: int) -> dict:
        data = self.store.get(self._key(root, version))
        if data is None:
            raise VersionNotFoundError(
                f"no version {version} at {root}"
            )
        return json.loads(data)

    def commit_manifest_json(self, root: str, version: int, payload: dict) -> None:
        blob = json.dumps(payload).encode()
        if not self.store.put_if_absent(self._key(root, version), blob):
            raise CommitConflictError(
                f"version {version} at {root} was committed by another "
                "transaction"
            )

    def delete_manifest(self, root: str, version: int) -> None:
        self.store.delete(self._key(root, version))


_BACKEND: StorageBackend = DirectoryBackend()


def get_backend() -> StorageBackend:
    return _BACKEND


def set_backend(backend: StorageBackend) -> StorageBackend:
    """Install a backend (e.g. a real-`lance`-SDK adapter); returns the
    previous one so callers can restore it."""
    global _BACKEND
    prev = _BACKEND
    _BACKEND = backend
    return prev


def now_ms() -> int:
    return int(time.time() * 1000)

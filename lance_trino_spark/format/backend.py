"""Commit errors and the object stores behind remote dataset roots.

Both storage planes list, read, commit and delete through one
path-resolved layer, `native_io`: a posix path goes to the filesystem,
a scheme URI to the `ObjectStore` registered for its root. This module
holds what that layer and its callers share:

- `CommitConflictError` — a create-once publish lost the race (the
  reference's optimistic version commit, `LanceMetadata.java:1489-1513`),
  and `VersionNotFoundError`;
- the `ObjectStore` protocol, whose one non-trivial primitive is the
  conditional create `put_if_absent`;
- `MemoryObjectStore`, the in-process conformance double, and
  `PyArrowFsObjectStore`, the adapter over a `pyarrow.fs.FileSystem`.
"""

from __future__ import annotations

import time
from typing import Protocol, runtime_checkable


class CommitConflictError(RuntimeError):
    """Another transaction committed the same target version first
    (TRANSACTION_CONFLICT in the reference)."""


class VersionNotFoundError(ValueError):
    pass


@runtime_checkable
class ObjectStore(Protocol):
    """Minimal object-store surface `native_io` needs. The one
    non-trivial primitive is `put_if_absent` — conditional create, the
    object-store equivalent of the posix hard-link commit. Real
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


class PyArrowFsObjectStore:
    """ObjectStore over a `pyarrow.fs.FileSystem` (S3FileSystem,
    GcsFileSystem, LocalFileSystem for tests) — pyarrow IS installed in
    this environment, so this is the production-shaped adapter for
    remote native datasets. Keys under ``root_uri`` map onto
    ``base_path`` inside the filesystem; pyarrow filesystems pickle, so
    a binding ships into Spark tasks and workers talk to the SAME store
    (``shared_across_processes = True`` — distributed staging writes are
    legal, unlike MemoryObjectStore's copy semantics).

    Atomicity note: pyarrow.fs has no
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


def now_ms() -> int:
    return int(time.time() * 1000)

"""The one storage seam: every path both planes read, write, commit
or delete goes through this module.

The reference's deployment matrix is object-store-first — its query
runner wires MinIO/S3 roots straight into the connector
(`LanceQueryRunner.java:174-193`, `docker-compose.yml:1-17`) and the
Lance SDK underneath speaks ranged GETs + conditional PUTs. The native
path here historically assumed posix (`open`, `os.link`); this module
lifts both storage planes (own-format JSON manifests and tags, native
`.lance` files) to object stores while keeping posix exactly as fast
(every helper short-circuits to the native call when the path has no
scheme).

Design:

- **Full-path API.** Callers keep building paths with `os.path.join`
  (object-store keys use the same `/` separator), and every helper
  resolves the backing store from the path itself — no threading of
  filesystem handles through 60 call sites.
- **ObjectStore protocol.** Remote roots are served by an `ObjectStore`
  (`backend.py`: `put_if_absent` / `get` / `list_prefix` / `delete`) —
  one conditional-put primitive covers the manifest and tag commits of
  both planes. Optional methods (`put`, `get_range`, `size`) are
  consulted when present: `get_range` keeps footer-seek reads
  O(metadata bytes) (the ranged-GET shape; posix twin is mmap), `put`
  serves overwrite-hint files (`_latest.manifest`).
- **Registration, not guessing.** A remote root must be registered in
  THIS process via `register_object_store_root` (tests use
  `MemoryObjectStore`; a real store registers `PyArrowFsObjectStore`
  or an adapter with a native conditional PUT). Unregistered schemes fail loudly rather than
  be misread as posix paths. Executors that scan remote roots
  must register the store in their own process (the fan-out closures
  are the natural place); `MemoryObjectStore` is process-local by
  construction and therefore a DRIVER-SIDE conformance double only.

The commit primitive (`publish_if_absent`) is the only create-once
write in the package: posix = tmp file + `os.link` (create-once, EEXIST
loses the race loudly with `CommitConflictError`); object store =
conditional PUT (S3 `If-None-Match: *`, GCS `if-generation-match: 0`) —
the same first-writer-wins contract the reference's coordinator relies on
(`LanceMetadata.java:1489-1513`).
"""

from __future__ import annotations

import io
import os
import uuid

from .backend import CommitConflictError, ObjectStore

_REGISTERED: dict[str, ObjectStore] = {}
_VENDORS: dict[str, object] = {}  # root -> RefreshingOptions


def is_remote(path: str) -> bool:
    return "://" in path and not path.startswith("file://")


def register_object_store_root(root: str, store: ObjectStore,
                               options_provider=None) -> None:
    """Serve every path under ``root`` (a scheme URI like
    ``memory://bucket/prefix``) from ``store`` in THIS process.

    ``options_provider`` (a `storage_options.StorageOptionsProvider`)
    enables CREDENTIAL VENDING: before EVERY storage open under this
    root, the freshest vended option set is pushed to the store via its
    ``apply_options(dict)`` hook — cached while unexpired, re-vended on
    expiry, exactly the reference's refresh-inside-the-worker loop
    (`LancePageSourceProvider.java:123-156`: page sources re-vend table
    storage options when `expires_at_millis` passes mid-scan). Long
    scans and staged writers never fail on token expiry and never
    replan."""
    if not is_remote(root):
        raise ValueError(f"not an object-store root: {root!r}")
    key = root.rstrip("/")
    _REGISTERED[key] = store
    if options_provider is not None:
        from .storage_options import RefreshingOptions

        _VENDORS[key] = RefreshingOptions(options_provider)


def unregister_object_store_root(root: str) -> None:
    _REGISTERED.pop(root.rstrip("/"), None)
    _VENDORS.pop(root.rstrip("/"), None)


def binding_for(path: str):
    """(root, store) serving ``path``, or None for posix — captured
    DRIVER-SIDE into DSv2 reader/writer instances so the binding rides
    their pickled task closures into Spark workers (pyarrow filesystems
    pickle; MemoryObjectStore pickles by copy — reads only). This is how
    fragment scans on object-store roots fan out one task per fragment
    without any worker-side setup."""
    if not is_remote(path):
        return None
    p = path.rstrip("/")
    best = None
    for root, store in _REGISTERED.items():
        if p == root or p.startswith(root + "/"):
            if best is None or len(root) > len(best[0]):
                best = (root, store)
    return best


def restore_binding(binding) -> None:
    """Worker-side half: install a shipped (root, store) binding in this
    process if absent. Idempotent; a no-op for None (posix)."""
    if binding is None:
        return
    root, store = binding
    _REGISTERED.setdefault(root.rstrip("/"), store)


def spark_options(root: str) -> dict:
    """DSv2 options carrying this root's store binding into the PYTHON
    DATA SOURCE workers: Spark 4 runs a python data source's schema()/
    partitions() planning in a separate python worker process, where
    this module's registry starts empty — so `format("lance")` on an
    object-store root must ship the (root, store) pair through the one
    channel that reaches every worker, the string option map. Usage:
    ``spark.read.format("lance").options(**nio.spark_options(root))
    .load(root)``. Returns {} for posix roots (zero overhead)."""
    b = binding_for(root)
    if b is None:
        return {}
    import base64
    import pickle

    return {"store_binding":
            base64.b64encode(pickle.dumps(b)).decode("ascii")}


def restore_binding_option(options) -> None:
    """Restore a binding shipped via ``spark_options`` (no-op without
    one). Called at the top of every DataSource entry point."""
    try:
        v = options.get("store_binding")
    except AttributeError:  # pragma: no cover — exotic option mappings
        v = None
    if v:
        import base64
        import pickle

        restore_binding(pickle.loads(base64.b64decode(v)))


def _resolve(path: str) -> tuple[ObjectStore, str] | None:
    """(store, key) for a remote path; None for posix. Longest
    registered root wins (nested registrations compose)."""
    if not is_remote(path):
        return None
    p = path.rstrip("/")
    best = None
    for root, store in _REGISTERED.items():
        if p == root or p.startswith(root + "/"):
            if best is None or len(root) > len(best[0]):
                best = (root, store)
    if best is None:
        scheme = path.split("://", 1)[0]
        raise NotImplementedError(
            f"unregistered object-store root for {scheme}:// path "
            f"{path!r}; register_object_store_root() a store "
            "(MemoryObjectStore for tests, a pyarrow-fs adapter "
            "for real stores) in this process first"
        )
    root, store = best
    vendor = _VENDORS.get(root)
    if vendor is not None and hasattr(store, "apply_options"):
        # consult-before-every-open: unexpired sets are served from the
        # per-root cache; an expired set costs exactly one re-vend
        store.apply_options(vendor.fresh(root))
    return store, p


class _RangedReader(io.RawIOBase):
    """Seekable read-only file over an ObjectStore key. Uses the store's
    ``get_range``/``size`` when present (each ``read`` is one ranged GET
    — footer-seek metadata reads stay O(bytes asked)); otherwise one
    full GET is cached and served from memory."""

    def __init__(self, store: ObjectStore, key: str):
        self._store, self._key, self._pos = store, key, 0
        self._full: bytes | None = None
        self._size: int | None = None
        if not (hasattr(store, "get_range") and hasattr(store, "size")):
            data = store.get(key)
            if data is None:
                raise FileNotFoundError(key)
            self._full = data
            self._size = len(data)
        else:
            sz = store.size(key)
            if sz is None:
                raise FileNotFoundError(key)
            self._size = int(sz)

    def readable(self) -> bool:  # pragma: no cover — io plumbing
        return True

    def seekable(self) -> bool:  # pragma: no cover — io plumbing
        return True

    def seek(self, offset: int, whence: int = os.SEEK_SET) -> int:
        if whence == os.SEEK_SET:
            self._pos = offset
        elif whence == os.SEEK_CUR:
            self._pos += offset
        elif whence == os.SEEK_END:
            self._pos = self._size + offset
        return self._pos

    def tell(self) -> int:
        return self._pos

    def read(self, n: int = -1) -> bytes:
        end = self._size if n is None or n < 0 else min(
            self._size, self._pos + n)
        start = min(self._pos, self._size)
        if start >= end:
            return b""
        if self._full is not None:
            out = self._full[start:end]
        else:
            out = self._store.get_range(self._key, start, end - start)
        self._pos = start + len(out)
        return out


def open_read(path: str):
    """Seekable binary reader (posix file handle / ranged-GET reader)."""
    r = _resolve(path)
    if r is None:
        return open(path, "rb")
    return _RangedReader(*r)


def read_bytes(path: str) -> bytes:
    """Whole object as a buffer. Posix keeps the existing mmap shape
    (selective decodes fault in only touched ranges); remote is one GET
    — the boundedness there comes from `open_read` ranged metadata reads
    plus page-level decode on the buffer."""
    r = _resolve(path)
    if r is None:
        import mmap as _mmap

        fh = open(path, "rb")
        try:
            return _mmap.mmap(fh.fileno(), 0, access=_mmap.ACCESS_READ)
        except (ValueError, OSError):
            return fh.read()  # empty or unmappable file
        finally:
            fh.close()
    store, key = r
    data = store.get(key)
    if data is None:
        raise FileNotFoundError(path)
    return data


def write_bytes(path: str, data: bytes) -> None:
    """Unconditional publish (parents auto-created on posix). Remote
    prefers a native ``put``; a conditional-only store falls back to
    delete + put_if_absent (fine for uuid-named data files and
    advisory hint files — every RACED path goes through
    publish_if_absent instead)."""
    r = _resolve(path)
    if r is None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(data)
        return
    store, key = r
    if hasattr(store, "put"):
        store.put(key, bytes(data))
        return
    store.delete(key)
    if not store.put_if_absent(key, bytes(data)):  # pragma: no cover
        raise CommitConflictError(f"lost overwrite race on {path}")


def replace_bytes(path: str, data: bytes) -> None:
    """ATOMIC overwrite for maintenance metadata (index meta rewritten
    by an in-place extend): posix writes a tmp sibling and os.replace()s
    it — a concurrent reader sees the old or the new bytes, never a torn
    file; object stores PUT (single-key puts are atomic there)."""
    r = _resolve(path)
    if r is None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = os.path.join(
            os.path.dirname(path), f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "wb") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
        return
    write_bytes(path, data)


def write_text(path: str, text: str) -> None:
    write_bytes(path, text.encode())


def read_text(path: str) -> str:
    data = read_bytes(path)
    return bytes(data).decode() if not isinstance(data, bytes) \
        else data.decode()


def publish_if_absent(path: str, data: bytes) -> None:
    """First-writer-wins create — THE commit primitive. Raises
    CommitConflictError when the path already exists (someone else's
    commit landed first). A failed write publishes nothing."""
    r = _resolve(path)
    if r is None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        if os.path.exists(path):
            raise CommitConflictError(f"{path} already committed")
        tmp = os.path.join(
            os.path.dirname(path), f".tmp-{uuid.uuid4().hex}")
        try:
            with open(tmp, "wb") as fh:
                fh.write(data)
                fh.flush()
                os.fsync(fh.fileno())
            os.link(tmp, path)  # atomic: loses races loudly (EEXIST)
        except FileExistsError as e:
            raise CommitConflictError(
                f"{path} was committed by another transaction") from e
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass
        return
    store, key = r
    if not store.put_if_absent(key, bytes(data)):
        raise CommitConflictError(
            f"{path} was committed by another transaction")


def exists(path: str) -> bool:
    r = _resolve(path)
    if r is None:
        return os.path.exists(path)
    store, key = r
    if store.get(key) is not None:
        return True
    return bool(store.list_prefix(key + "/"))


def isdir(path: str) -> bool:
    r = _resolve(path)
    if r is None:
        return os.path.isdir(path)
    store, key = r
    return bool(store.list_prefix(key.rstrip("/") + "/"))


def listdir(path: str, missing_ok: bool = True) -> list[str]:
    """Immediate child names (object stores synthesize 'directories'
    from key prefixes). Missing path returns [] when ``missing_ok``."""
    r = _resolve(path)
    if r is None:
        if missing_ok and not os.path.isdir(path):
            return []
        return os.listdir(path)
    store, key = r
    prefix = key.rstrip("/") + "/"
    names = {k[len(prefix):].split("/", 1)[0]
             for k in store.list_prefix(prefix)}
    return sorted(names)


def size(path: str) -> int:
    r = _resolve(path)
    if r is None:
        return os.path.getsize(path)
    store, key = r
    if hasattr(store, "size"):
        sz = store.size(key)
        if sz is None:
            raise FileNotFoundError(path)
        return int(sz)
    data = store.get(key)
    if data is None:
        raise FileNotFoundError(path)
    return len(data)


def mtime(path: str) -> float | None:
    """Last-modified time (epoch seconds), or None when the backing
    store does not track it — callers needing an age gate (vacuum's
    debris grace window) must treat None as 'unknown age: keep'."""
    r = _resolve(path)
    if r is None:
        try:
            return os.path.getmtime(path)
        except FileNotFoundError:
            return None
    store, key = r
    if hasattr(store, "mtime"):
        return store.mtime(key)
    return None


def delete(path: str) -> None:
    """Missing path is a no-op (vacuum races benignly)."""
    r = _resolve(path)
    if r is None:
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass
        return
    store, key = r
    store.delete(key)


def rmtree(path: str) -> None:
    r = _resolve(path)
    if r is None:
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        return
    store, key = r
    for k in store.list_prefix(key.rstrip("/") + "/"):
        store.delete(k)


def makedirs(path: str) -> None:
    """mkdir -p; a pure no-op on object stores (keys have no parents)."""
    if _resolve(path) is None:
        os.makedirs(path, exist_ok=True)

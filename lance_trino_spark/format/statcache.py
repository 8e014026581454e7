"""Process-wide decode caches keyed by file stat identity — A18, the
reference's per-session index and metadata cache (`LanceRuntime.java:
96-183`, `docs/src/performance.md` "Caching").

One class serves every user:

- ``lance_native``: parsed native manifests; the index registry's
  records, one per index meta file (``index.idx`` of every btree,
  IVF_PQ and inverted family, ``hnsw.json``, ``ivf_hnsw.json``);
  decoded postings-file term dictionaries; and the IVF_PQ search
  bodies (``_VECTOR_BODIES``): probed partitions (PQ codes and row ids)
  and the float32 vector columns the exact refines gather from (only
  while a search's columns and index fit the budget together — a
  cyclic visit over more would miss every time).
- ``manifest``: parsed own-format JSON manifests.
- ``vector_index``: decoded HNSW shard graphs.

Every cached file is written once under a unique name (manifests,
postings files, native graphs, IVF cell shard files, data files) or
replaced atomically (index metadata, own-format graphs), so the stat
identity ``(path, st_ino, st_mtime_ns, st_size)`` is sound: a DROP +
re-CREATE at the same path gets a new inode and misses. A cached index
record also reads files next to its meta file; those are written before
the meta file, its commit point. A user that decodes one piece of a
file passes ``part`` (a column index, a partition's offset and rows),
which joins the key: each piece is its own entry, and all of them miss
once the file is replaced.
Remote (object-store) paths skip the cache — they have no cheap stat
identity. Each user bounds its cache by a byte budget of measured
decoded bytes, a module constant next to the cache; per-call state
(deletion and prefilter masks) is never cached.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from .native_io import is_remote


class StatLRU:
    """Decoded files keyed by stat identity, least recently used evicted
    first; the summed entry bytes never exceed ``budget`` (an entry
    larger than the whole budget is decoded but not kept)."""

    def __init__(self, budget: int):
        self.budget = budget
        self.nbytes = 0
        self._entries: OrderedDict = OrderedDict()  # key -> (value, nbytes)
        self._lock = threading.Lock()

    def load(self, path: str, decode, part=None) -> tuple:
        """(decoded value of the file at ``path``, whether this call
        decoded it cold); ``decode(path)`` returns ``(value, nbytes)``.
        ``part`` (hashable) names which piece of the file ``decode``
        reads — a column index, a byte range — and joins the key, so
        two parts of one file are two entries."""
        try:
            st = None if is_remote(path) else os.stat(path)
        except OSError:
            st = None
        if st is None:
            return decode(path)[0], True
        key = (path, st.st_ino, st.st_mtime_ns, st.st_size, part)
        with self._lock:
            hit = self._entries.get(key)
            if hit is not None:
                self._entries.move_to_end(key)
                return hit[0], False
        value, nbytes = decode(path)
        with self._lock:
            if key not in self._entries and nbytes <= self.budget:
                while self.nbytes + nbytes > self.budget:
                    _, (_old, old_bytes) = self._entries.popitem(last=False)
                    self.nbytes -= old_bytes
                self._entries[key] = (value, nbytes)
                self.nbytes += nbytes
        return value, True

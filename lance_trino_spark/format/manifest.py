"""Versioned manifests with atomic optimistic-concurrency commits.

Dataset directory layout (modeled on the Lance format the reference reads —
fixture layout `example_db/test_table1.lance/_versions/`, SURVEY §1.1 —
re-expressed with Parquet data files so Spark's native vectorized reader is
the scan path):

    <table>.lance/
      _versions/<N>.manifest.json   # one immutable manifest per version
      data/<uuid>.parquet           # fragment data files
      _deletions/<uuid>.parquet     # deletion vectors (fragment_id, row_index)

Commit protocol (reference: single-commit optimistic transactions,
`LanceMetadata.java:1489-1513` conflict detection):
  1. writer prepares all data/deletion files (any executor, any order)
  2. driver publishes the next manifest with `native_io.publish_if_absent`
     (posix: hard-link creation, which fails with EEXIST if another
     writer committed N+1 first; object store: conditional PUT) →
     CommitConflictError, no partial state ever visible. The JVM catalog
     commits with the same hard-link create, so the two conflict-detect
     against each other.

Readers pin a version at open time (snapshot isolation — the reference pins
`datasetVersion` in the table handle at planning time,
`LanceTableHandle.java:48,250-254`).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from . import native_io as nio

# The exceptions live in backend.py; re-exported here for callers.
from .backend import (  # noqa: F401
    CommitConflictError,
    VersionNotFoundError,
    now_ms,
)
from .statcache import StatLRU


@dataclass
class DeletionFile:
    path: str  # relative to dataset root
    num_deleted: int

    def to_json(self) -> dict:
        return {"path": self.path, "num_deleted": self.num_deleted}

    @staticmethod
    def from_json(d: dict | None) -> "DeletionFile | None":
        return DeletionFile(d["path"], d["num_deleted"]) if d else None


@dataclass
class Fragment:
    """Unit of layout and parallelism (SURVEY §1.1 "Fragment"): one data file
    holding a contiguous row range; id is stable across versions so row
    addresses (fragment_id << 32 | row_index) stay valid."""

    id: int
    path: str  # relative to dataset root
    physical_rows: int  # rows in the data file (before deletions)
    deletion: DeletionFile | None = None
    # Zone map: {column: {"min": v, "max": v, "nulls": n}} for top-level
    # scalar columns, aggregated from the parquet footer at write time
    # (executor-side). Scans prune fragments whose range cannot satisfy a
    # pushed filter — the Spark-side analogue of the reference's scalar
    # index / zonemap selection below the scan (SURVEY §1.1 "Scalar index",
    # `LanceFragmentPageSource.java:126` useScalarIndex).
    stats: dict | None = None

    @property
    def num_rows(self) -> int:
        """Deletion-aware row count (`LanceSplitManager.java:78-84`)."""
        return self.physical_rows - (self.deletion.num_deleted if self.deletion else 0)

    def to_json(self) -> dict:
        out = {
            "id": self.id,
            "path": self.path,
            "physical_rows": self.physical_rows,
            "deletion": self.deletion.to_json() if self.deletion else None,
        }
        if self.stats:
            out["stats"] = self.stats
        return out

    @staticmethod
    def from_json(d: dict) -> "Fragment":
        return Fragment(
            d["id"],
            d["path"],
            d["physical_rows"],
            DeletionFile.from_json(d["deletion"]),
            d.get("stats"),
        )


@dataclass
class Manifest:
    version: int
    schema_json: dict  # Spark StructType json
    fragments: list[Fragment] = field(default_factory=list)
    operation: str = "create"
    read_version: int | None = None
    timestamp_ms: int = 0
    max_fragment_id: int = -1
    properties: dict = field(default_factory=dict)  # e.g. streaming epochs
    # user-supplied provenance for THIS commit (Delta commitInfo.userMetadata
    # analogue): pipeline run ids, job names, source offsets... — surfaced by
    # DESCRIBE HISTORY, never interpreted by the engine
    commit_metadata: dict | None = None

    @property
    def total_rows(self) -> int:
        """O(1) row count for the COUNT(*) fast path
        (`ManifestSummary.getTotalRows()`, `LanceCountPageSource.java:90-95`)."""
        return sum(f.num_rows for f in self.fragments)

    def to_json(self) -> dict:
        return {
            "version": self.version,
            "schema": self.schema_json,
            "fragments": [f.to_json() for f in self.fragments],
            "operation": self.operation,
            "read_version": self.read_version,
            "timestamp_ms": self.timestamp_ms,
            "max_fragment_id": self.max_fragment_id,
            "properties": self.properties,
            **({"commit_metadata": self.commit_metadata}
               if self.commit_metadata else {}),
        }

    @staticmethod
    def from_json(d: dict) -> "Manifest":
        return Manifest(
            version=d["version"],
            schema_json=d["schema"],
            fragments=[Fragment.from_json(f) for f in d["fragments"]],
            operation=d["operation"],
            read_version=d.get("read_version"),
            timestamp_ms=d.get("timestamp_ms", 0),
            max_fragment_id=d.get("max_fragment_id", -1),
            properties=d.get("properties", {}),
            commit_metadata=d.get("commit_metadata"),
        )


VERSIONS_DIR = "_versions"
DATA_DIR = "data"
DELETIONS_DIR = "_deletions"


def schemas_compatible(a: dict, b: dict) -> bool:
    """Field names + types must match exactly (nullability ignored). Schema
    evolution is unsupported, like the reference
    (`TestLanceConnectorTest.java:139-146`) — appends with a different
    schema must fail loudly, never commit mismatched fragments."""

    def key(schema: dict):
        return [
            (f["name"], json.dumps(f["type"], sort_keys=True))
            for f in schema.get("fields", [])
        ]

    return key(a) == key(b)


def versions_dir(root: str) -> str:
    return os.path.join(root, VERSIONS_DIR)


def manifest_path(root: str, version: int) -> str:
    return os.path.join(versions_dir(root), f"{version}.manifest.json")


def list_versions(root: str) -> list[int]:
    stems = (name[: -len(".manifest.json")]
             for name in nio.listdir(versions_dir(root))
             if name.endswith(".manifest.json"))
    return sorted(int(s) for s in stems if s.isdecimal())


def latest_version(root: str) -> int:
    vs = list_versions(root)
    if not vs:
        raise VersionNotFoundError(f"no versions in {root}")
    return vs[-1]


def version_at_timestamp(root: str, ts_ms: int) -> int:
    """Latest version whose commit time <= ts (reference semantics:
    `LanceRuntime.java:361-388` getVersionAtTimestamp). Commit timestamps
    are monotone in version number, so binary search: O(log versions)
    manifest reads instead of O(versions) — matters at 10k+ commits."""
    vs = list_versions(root)
    lo, hi, best = 0, len(vs) - 1, None
    while lo <= hi:
        mid = (lo + hi) // 2
        if read_manifest(root, vs[mid]).timestamp_ms <= ts_ms:
            best = vs[mid]
            lo = mid + 1
        else:
            hi = mid - 1
    if best is None:
        raise VersionNotFoundError(
            f"no version at or before timestamp {ts_ms} in {root}"
        )
    return best


# Dataset-handle cache (A18, `LanceRuntime.java:96-183` — the reference keys
# its Guava cache by (user, path, version) with immutable-version snapshot
# isolation). Manifests are published once by `nio.publish_if_absent` and
# never rewritten, so statcache.StatLRU's stat identity is sound: DROP
# TABLE followed by CREATE at the same path reuses version 1 but gets a new
# inode, and a stat is far cheaper than re-reading and parsing a
# 10k-fragment manifest. Remote roots read uncached (StatLRU skips them:
# no cheap stat identity). Cached manifests are shared objects — treat them
# as immutable (all writers build fresh Manifest instances; nothing in the
# codebase mutates a read one). A parsed manifest retains 3.3-4.7x its JSON
# bytes (tracemalloc, 1-400 fragments with three-column zone-map stats);
# entries are charged 2 KiB + 8x file bytes.
MANIFEST_CACHE_BYTES = 32 << 20
_MANIFESTS = StatLRU(MANIFEST_CACHE_BYTES)


def read_manifest(root: str, version: int) -> Manifest:
    def decode(p: str) -> tuple:
        try:
            raw = bytes(nio.read_bytes(p))
        except FileNotFoundError:
            raise VersionNotFoundError(
                f"version {version} does not exist at {root}") from None
        return Manifest.from_json(json.loads(raw)), 2048 + 8 * len(raw)

    return _MANIFESTS.load(manifest_path(root, version), decode)[0]


def commit_manifest(root: str, manifest: Manifest) -> None:
    """Atomically publish `manifest` as its version; raise
    CommitConflictError if that version was committed concurrently."""
    manifest.timestamp_ms = now_ms()
    nio.publish_if_absent(manifest_path(root, manifest.version),
                          json.dumps(manifest.to_json()).encode())


def delete_manifest(root: str, version: int) -> None:
    """Remove a version's manifest (vacuum); a missing version is a
    no-op."""
    nio.delete(manifest_path(root, version))

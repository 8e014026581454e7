"""Named version refs (tags) — Lance's tags re-expressed on the manifest
store: a tag is an immutable alias for one committed version, stored as one
JSON file under `_refs/`. Creation is create-once through
`native_io.publish_if_absent` (the same primitive as manifest commits), so
two writers racing the same tag name conflict loudly and a failed write
publishes no tag; deletion removes the file. Tags resolve at read-planning
time, so `VERSION AS OF 'release-1'` pins the same snapshot forever
regardless of later commits (and VACUUM refuses to drop a tagged version's
manifest — see `LanceDataset.vacuum`).
"""

from __future__ import annotations

import json
import os

from . import native_io as nio
from .backend import CommitConflictError

REFS_DIR = "_refs"
_NAME_OK = __import__("re").compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,99}$")


class TagError(ValueError):
    pass


def _tag_path(root: str, name: str) -> str:
    if not _NAME_OK.match(name):
        raise TagError(
            f"invalid tag name {name!r} (alnum start, then alnum/._-)"
        )
    return os.path.join(root, REFS_DIR, f"{name}.json")


def create_tag(root: str, name: str, version: int) -> None:
    from .manifest import read_manifest

    read_manifest(root, version)  # must exist — raises VersionNotFoundError
    try:
        nio.publish_if_absent(_tag_path(root, name),
                              json.dumps({"version": int(version)}).encode())
    except CommitConflictError:
        raise TagError(f"tag {name!r} already exists") from None


def delete_tag(root: str, name: str) -> None:
    path = _tag_path(root, name)
    if not nio.exists(path):
        raise TagError(f"no such tag: {name!r}")
    nio.delete(path)


def _read_tag(path: str) -> int:
    return int(json.loads(bytes(nio.read_bytes(path)))["version"])


def resolve_tag(root: str, name: str) -> int:
    try:
        return _read_tag(_tag_path(root, name))
    except FileNotFoundError:
        raise TagError(f"no such tag: {name!r}") from None


def list_tags(root: str) -> dict[str, int]:
    d = os.path.join(root, REFS_DIR)
    return {fn[:-5]: _read_tag(os.path.join(d, fn))
            for fn in sorted(nio.listdir(d)) if fn.endswith(".json")}


def tagged_versions(root: str) -> set[int]:
    return set(list_tags(root).values())

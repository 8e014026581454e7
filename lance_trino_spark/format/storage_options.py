"""Storage-options pass-through + credential-vending seam.

The reference's table handle carries storage options with an
`expires_at_millis` and the page-source provider re-vends them on expiry
(`LanceTableHandle.java:153-173`, `LancePageSourceProvider.java:123-156`) —
the moment a table lives on S3 behind a vending namespace, every reader
needs fresh credentials without replanning the query.

Spark-side equivalent: a `StorageOptionsProvider` vends
`(options, expires_at_ms)`; long-lived consumers hold a
`RefreshingOptions` and call ``fresh(root)`` immediately before opening
storage — a cached, unexpired set is returned as-is, an expired one is
re-vended. Executors can hold their own `RefreshingOptions` (the provider
ships in the task closure), matching the reference's
refresh-inside-the-worker placement.

Posix roots need none of this. An object-store root gets vending by
passing a provider to `native_io.register_object_store_root`, which
pushes the fresh option set to the store before every storage open.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Protocol, runtime_checkable


def _now_ms() -> int:
    return int(time.time() * 1000)


@dataclass(frozen=True)
class StorageOptions:
    """A vended option set; ``expires_at_ms=None`` never expires."""

    options: dict = field(default_factory=dict)
    expires_at_ms: int | None = None

    def expired(self, now_ms: int | None = None) -> bool:
        if self.expires_at_ms is None:
            return False
        return (now_ms if now_ms is not None else _now_ms()) >= self.expires_at_ms


@runtime_checkable
class StorageOptionsProvider(Protocol):
    def vend(self, root: str) -> StorageOptions:
        """Return a currently-valid option set for a dataset root."""
        ...


class StaticProvider:
    """Non-expiring options (the plain `storage options` pass-through case —
    endpoint URLs, region, static keys)."""

    def __init__(self, options: dict):
        self._opts = StorageOptions(dict(options))

    def vend(self, root: str) -> StorageOptions:
        return self._opts


class RefreshingOptions:
    """Per-root cache with refresh-on-expiry — the reference's
    `LancePageSourceProvider` loop: consult before every storage open;
    only an expired set costs a vend call."""

    def __init__(self, provider: StorageOptionsProvider):
        self._provider = provider
        self._cache: dict[str, StorageOptions] = {}

    def fresh(self, root: str, now_ms: int | None = None) -> dict:
        cur = self._cache.get(root)
        if cur is None or cur.expired(now_ms):
            cur = self._provider.vend(root)
            self._cache[root] = cur
        return cur.options


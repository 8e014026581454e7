from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from lance_trino_spark.session import get_spark

    s = get_spark("tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


_REFERENCE_FIXTURES = Path(
    "/root/reference/plugin/trino-lance/src/test/resources/example_db"
)


def _fixture_census() -> dict[str, list[str]]:
    return {
        str(p.relative_to(_REFERENCE_FIXTURES)): None
        for p in sorted(_REFERENCE_FIXTURES.rglob("*"))
        if p.is_file()
    }


@pytest.fixture(scope="session", autouse=True)
def reference_fixtures_stay_pristine():
    """Tripwire: the reference fixture datasets are READ-ONLY input —
    tests must copy them to tmp before any write (a leaked commit once
    appended a version 7 to test_table1 and silently broke every
    version-pinned assertion). Fails the session loudly if the file
    census changed, naming exactly what appeared/vanished."""
    if not _REFERENCE_FIXTURES.is_dir():
        yield
        return
    before = _fixture_census()
    yield
    after = _fixture_census()
    added = sorted(set(after) - set(before))
    removed = sorted(set(before) - set(after))
    assert not added and not removed, (
        f"reference fixtures MUTATED during the test session: "
        f"added={added} removed={removed} — tests must copytree to tmp "
        f"before writing"
    )


@pytest.fixture
def routing_threshold(monkeypatch):
    """Pin a serial/distributed routing threshold for one test:
    ``routing_threshold("fts", 0)`` forces the distributed arm, a value
    above the fixture's row count forces the serial arm. Patches the one
    table in ``format.routing``; undone at teardown."""
    from lance_trino_spark.format import routing

    def pin(kind: str, rows: int) -> None:
        routing.route(kind, 0, None)  # unknown kinds raise
        monkeypatch.setitem(routing.DISTRIBUTED_MIN_ROWS, kind, rows)

    return pin

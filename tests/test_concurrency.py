"""Concurrency and property-based tests for the format layer.

The reference's contract (A17): appends are optimistic and retry through
conflicts (they commute); row-level Updates conflict with ANY concurrent
write and surface the error. The append stress test drives real concurrent
commits through the atomic hard-link protocol; the race tests line eight
writers up on one manifest version or one tag name, on a posix root and on
an object-store root, and check that exactly one wins. The hypothesis test checks
the MoR delete semantics against a plain filter for arbitrary data/predicate
combinations.
"""

from __future__ import annotations

import threading
import uuid
from concurrent.futures import ThreadPoolExecutor

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lance_trino_spark.format import native_io as nio
from lance_trino_spark.format.backend import MemoryObjectStore
from lance_trino_spark.format.dataset import LanceDataset
from lance_trino_spark.format.manifest import (
    CommitConflictError,
    Manifest,
    commit_manifest,
    read_manifest,
)
from lance_trino_spark.format.refs import TagError, create_tag, resolve_tag
from lance_trino_spark.operators import dml

RACERS = 8


@pytest.fixture(params=["posix", "memory"])
def race_root(request, tmp_path):
    if request.param == "posix":
        yield str(tmp_path / "race.lance")
        return
    base = f"memory://race-{uuid.uuid4().hex}"
    nio.register_object_store_root(base, MemoryObjectStore())
    try:
        yield f"{base}/race.lance"
    finally:
        nio.unregister_object_store_root(base)


def _race(attempt) -> tuple[list[int], list[int]]:
    """Run ``attempt(i)`` in RACERS threads released together; return
    (indices that returned, indices that raised the expected conflict)."""
    gate = threading.Barrier(RACERS)

    def run(i):
        gate.wait()
        try:
            attempt(i)
            return True
        except (CommitConflictError, TagError):
            return False

    with ThreadPoolExecutor(max_workers=RACERS) as ex:
        won = list(ex.map(run, range(RACERS)))
    return ([i for i, w in enumerate(won) if w],
            [i for i, w in enumerate(won) if not w])


def test_racing_manifest_commits_one_winner(race_root):
    schema = {"type": "struct", "fields": []}

    def commit(i):
        commit_manifest(race_root, Manifest(
            version=1, schema_json=schema, properties={"writer": str(i)}))

    winners, losers = _race(commit)
    assert len(winners) == 1 and len(losers) == RACERS - 1
    got = read_manifest(race_root, 1)
    assert got.properties == {"writer": str(winners[0])}


def test_racing_tag_creates_one_winner(race_root):
    schema = {"type": "struct", "fields": []}
    for v in range(1, RACERS + 1):
        commit_manifest(race_root, Manifest(version=v, schema_json=schema))

    winners, losers = _race(lambda i: create_tag(race_root, "rel", i + 1))
    assert len(winners) == 1 and len(losers) == RACERS - 1
    assert resolve_tag(race_root, "rel") == winners[0] + 1


def test_concurrent_appends_all_land(spark, tmp_path):
    path = str(tmp_path / "c.lance")
    base = spark.range(10).select(F.col("id").alias("x"))
    LanceDataset.create(path, base)

    def append_batch(i: int) -> int:
        ds = LanceDataset.open(path)  # every writer opens its own handle
        out = ds.append(
            spark.range(100 * (i + 1), 100 * (i + 1) + 10).select(
                F.col("id").alias("x")
            )
        )
        return out.version

    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = list(ex.map(append_batch, range(4)))

    final = LanceDataset.open(path)
    # every append committed exactly once despite version races
    assert final.count_rows() == 10 + 4 * 10
    assert final.version == 5
    assert sorted(versions) == [2, 3, 4, 5]
    rows = {r["x"] for r in final.to_df(spark).collect()}
    assert all(100 * (i + 1) in rows for i in range(4))


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    values=st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=60),
    cutoff=st.integers(min_value=-50, max_value=50),
)
def test_mor_delete_equals_filter_property(spark, tmp_path_factory, values, cutoff):
    """For ANY data and predicate: MoR delete over fragments+DVs must equal
    a plain filter of the source — the end-to-end law of the merge-on-read
    stack (fragments, rowaddr mapping, DV anti-join)."""
    path = str(tmp_path_factory.mktemp("prop") / "t.lance")
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], ["i", "v"])
    ds = LanceDataset.create(path, df.coalesce(1), max_rows_per_file=7)
    ds = dml.delete(ds, spark, f"v < {cutoff}")
    got = sorted((r["i"], r["v"]) for r in ds.to_df(spark).collect())
    want = sorted((i, v) for i, v in enumerate(values) if not (v < cutoff))
    assert got == want
    assert ds.count_rows() == len(want)


def test_concurrent_append_storm_with_tag_and_index(spark, tmp_path):
    """Heavier race: 8 threads appending while a tag is created mid-storm —
    every append lands exactly once, the tag pins whatever version it saw,
    and the scalar index built afterwards covers every fragment."""
    path = str(tmp_path / "storm.lance")
    LanceDataset.create(path, spark.range(10).select(F.col("id").alias("x")))

    def append_batch(i: int) -> int:
        ds = LanceDataset.open(path)
        out = ds.append(
            spark.range(1000 * (i + 1), 1000 * (i + 1) + 20).select(
                F.col("id").alias("x")
            )
        )
        if i == 3:
            out.create_tag(f"mid-{out.version}")
        return out.version

    with ThreadPoolExecutor(max_workers=8) as ex:
        versions = sorted(ex.map(append_batch, range(8)))

    final = LanceDataset.open(path)
    assert final.count_rows() == 10 + 8 * 20
    assert versions == list(range(2, 10))  # unique, gap-free commits
    tags = final.tags()
    assert len(tags) == 1
    (tag_name, tag_v), = tags.items()
    assert LanceDataset.open(path, tag=tag_name).version == tag_v
    idx = final.create_scalar_index(spark, "x")
    got = {
        r["x"]
        for r in idx.to_df(spark, filter="x = 5005").collect()
    }
    assert got == {5005}

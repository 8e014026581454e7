"""Serial/distributed routing (format/routing.py): every kind in the
threshold table writes the same files (a search: returns the same hits)
on both arms, and the arm a test forces is the arm that actually ran
(counted in Spark jobs)."""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import uuid

import numpy as np
import pytest

import lance_trino_spark.format.lance_native as ln
from lance_trino_spark.format import routing

# uuid directory names and the 8-hex suffixes of shard file names
_RANDOM = re.compile(
    r"[0-9a-f]{8}(?:-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})?")


def _sidecars(root: str) -> dict:
    """Every file under ``root/_indices`` as {relative path: bytes}.
    Random names (uuid index dirs, uuid-suffixed shard files) are
    replaced, in paths and inside every file, by a digest of the bytes
    they name, so two runs that write the same files compare equal."""
    base = os.path.join(root, "_indices")
    files = {}
    for dp, _, names in os.walk(base):
        for n in names:
            p = os.path.join(dp, n)
            with open(p, "rb") as fh:
                files[os.path.relpath(p, base)] = fh.read()
    rename = {}
    for rel, data in files.items():
        name = os.path.basename(rel)
        if _RANDOM.search(name):
            rename[name] = "f-" + hashlib.sha1(data).hexdigest()[:12]

    def canon(data: bytes) -> bytes:
        for old, new in rename.items():
            data = data.replace(old.encode(), new.encode())
        return data

    by_dir: dict = {}
    for rel, data in files.items():
        d, name = os.path.split(rel)
        by_dir.setdefault(d, {})[rename.get(name, name)] = canon(data)
    out = {}
    for d, content in by_dir.items():
        if _RANDOM.fullmatch(d):
            digest = hashlib.sha1(repr(sorted(content)).encode())
            new_d = "d-" + digest.hexdigest()[:12]
            content = {k: v.replace(d.encode(), new_d.encode())
                       for k, v in content.items()}
            d = new_d
        for name, data in content.items():
            out[os.path.join(d, name)] = data
    return out


def _compacted_rows(root: str) -> dict:
    """Fragment row counts and every row, with its address, in address
    order — what a compaction must reproduce on both arms."""
    m = ln.read_native_manifest(root)
    frags = sorted(m.fragments, key=lambda f: f.id)
    tables = [ln.read_native_fragment(root, f, m, with_row_address=True)
              for f in frags]
    return {
        "fragment_rows": [t.num_rows for t in tables],
        "rows": [r for t in tables for r in t.to_pylist()],
    }


def _vectors(n: int, dim: int = 8, seed: int = 7) -> list:
    rng = np.random.default_rng(seed)
    return [v.tolist() for v in rng.normal(size=(n, dim)).astype(np.float32)]


# Each case: build(spark, root) -> row count routed, call(spark, root),
# snapshot(root), or None to compare what the call returned. The fixture
# is built once and copied per arm, so data file names (which own-format
# sidecar names embed) match on both arms.

def _native_ivf_build(spark, root):
    vecs = _vectors(400)
    ln.write_native_dataset(root, {
        "vec_id": list(range(300)), "vector": vecs[:300]})
    # sharded base: the extend below appends in place
    ln.write_native_vector_index(root, "vector", n_cells=4, nsub=4,
                                 spark=spark)
    ln.append_native_rows(root, {
        "vec_id": list(range(300, 400)), "vector": vecs[300:]})
    return 400


def _native_fts_build(spark, root):
    ln.write_native_dataset(root, {
        "doc_id": list(range(500)),
        "text": [f"tok{i % 7} tok{i % 3} filler{i}" for i in range(500)],
    })
    return 500


def _native_btree_build(spark, root):
    rng = np.random.default_rng(3)
    ln.write_native_dataset(root, {
        "k": [int(x) for x in rng.permutation(2000)]})
    return 2000


def _native_compact_build(spark, root):
    ln.write_native_dataset(root, {
        "k": list(range(100)), "v": [f"a{i}" for i in range(100)]})
    for j in range(1, 4):
        ln.append_native_rows(root, {
            "k": list(range(100 * j + 59, 100 * j - 1, -1)),
            "v": [f"b{i}" for i in range(60)]})
    return 280


def _native_hnsw_build(spark, root):
    vecs = _vectors(400)
    ln.write_native_dataset(root, {
        "vec_id": list(range(200)), "vector": vecs[:200]})
    ln.append_native_rows(root, {
        "vec_id": list(range(200, 400)), "vector": vecs[200:]})
    ln.write_native_hnsw_index(root, "vector", m=4, ef_construction=16)
    ln.native_delete(root, {0: [3, 150], 1: [10]})
    return 400


def _native_hnsw_search(spark, root):
    assert ln.latest_native_index(root, "vector", "hnsw").n_shards == 2
    res = ln.native_hnsw_search(root, _vectors(6, seed=9), k=5,
                                ef_search=16, column="vector", spark=spark)
    return {f"q{i}": (r["neighbors"], r["sims"]) for i, r in enumerate(res)}


def _own_build(spark, root):
    from lance_trino_spark.format.dataset import LanceDataset

    vecs = _vectors(300)
    df = spark.createDataFrame(
        [(i, i % 11, vecs[i]) for i in range(300)],
        "k long, label long, emb array<float>")
    LanceDataset.create(root, df.coalesce(1), max_rows_per_file=100)
    return 300


def _own(root):
    from lance_trino_spark.format.dataset import LanceDataset

    return LanceDataset.open(root)


CASES = {
    "ivf_extend": (
        _native_ivf_build,
        lambda spark, root: ln.extend_native_vector_index(
            root, "vector", spark=spark),
        _sidecars,
    ),
    "fts": (
        _native_fts_build,
        lambda spark, root: ln.write_native_fts_index(
            root, "text", n_buckets=4, spark=spark),
        _sidecars,
    ),
    "hnsw_search": (_native_hnsw_build, _native_hnsw_search, None),
    "btree": (
        _native_btree_build,
        lambda spark, root: ln.write_native_scalar_index(
            root, "k", page_rows=256, spark=spark, shard_rows=512),
        _sidecars,
    ),
    "compact": (
        _native_compact_build,
        lambda spark, root: ln.native_compact(
            root, small_fragment_rows=100, spark=spark,
            rows_per_fragment=120, sort_by="k"),
        _compacted_rows,
    ),
    "vindex": (
        _own_build,
        lambda spark, root: _own(root).create_vector_index(
            spark, "emb", n_cells=4, sample=300),
        _sidecars,
    ),
    "vindex_hnsw": (
        _own_build,
        lambda spark, root: _own(root).create_vector_index(
            spark, "emb", index_type="HNSW", hnsw_m=4,
            hnsw_ef_construction=16),
        _sidecars,
    ),
    "sindex": (
        _own_build,
        lambda spark, root: _own(root).create_scalar_index(spark, "label"),
        _sidecars,
    ),
}


def _jobs_run_by(spark, fn) -> tuple[list, object]:
    """Ids of the Spark jobs ``fn`` launched (its own job group), and
    what it returned."""
    sc = spark.sparkContext
    group = f"routing-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.mark.parametrize("kind", sorted(routing.DISTRIBUTED_MIN_ROWS))
def test_both_arms_write_identical_sidecars(kind, tmp_path, spark,
                                            routing_threshold):
    build, call, snapshot = CASES[kind]
    src = str(tmp_path / "src")
    rows = build(spark, src)
    got = {}
    for arm, threshold in (("distributed", 0), ("serial", rows + 1)):
        root = str(tmp_path / arm)
        shutil.copytree(src, root)
        routing_threshold(kind, threshold)
        jobs, out = _jobs_run_by(spark, lambda: call(spark, root))
        if arm == "distributed":
            assert jobs, f"{kind}: forced distributed arm launched no job"
        else:
            assert not jobs, f"{kind}: forced serial arm launched {jobs}"
        got[arm] = snapshot(root) if snapshot else out
    assert got["serial"], f"{kind}: nothing written"
    assert sorted(got["serial"]) == sorted(got["distributed"])
    for name in got["serial"]:
        assert got["serial"][name] == got["distributed"][name], (kind, name)


def test_route_raises_on_unknown_kind():
    session = object()
    with pytest.raises(KeyError, match="unknown routing kind 'fst'"):
        routing.route("fst", 10, session)
    assert routing.route("fts", 0, session) is None
    assert routing.route("fts", 1 << 40, session) is session
    assert routing.route("fts", 1 << 40, None) is None

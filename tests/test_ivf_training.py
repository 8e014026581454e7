"""IVF_PQ training and encoding in bounded memory: ``lance_native._nearest``
evaluates the nearest-centroid expression over row chunks, and every
result — assignments, k-means centroids, PQ codes and the index file —
is what the one-shot [n, k, dim] expression it replaced produced."""

from __future__ import annotations

import os

import numpy as np
import pytest

import lance_trino_spark.format.lance_native as ln


def _one_shot(data, cent):
    """The expression ``_nearest`` replaced, kept as the reference."""
    return ((data[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)


def _reference_kmeans(data, k: int, iters: int, seed: int):
    """``_kmeans`` as it was before the chunked assignment, verbatim."""
    data = np.asarray(data, dtype=np.float32)
    n = len(data)
    rng = np.random.default_rng(seed)
    init = rng.permutation(n)[:k]
    cent = data[init].copy()
    if len(cent) < k:
        cent = np.concatenate([cent, data[rng.integers(0, n, k - len(cent))]])
    for _ in range(iters):
        d = ((data[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(k):
            m = assign == c
            if m.any():
                cent[c] = data[m].mean(axis=0)
    return cent


def _data(n: int, dim: int, seed: int = 3) -> np.ndarray:
    rng = np.random.default_rng(seed)
    x = rng.normal(size=(n, dim)).astype(np.float32)
    x[n // 2: n // 2 + 7] = x[0]  # exact duplicates: argmin ties
    return x


def test_nearest_spans_several_chunks_at_the_default_bound():
    data, cent = _data(1700, 128), _data(256, 128, seed=4)
    cent[9] = cent[200]  # duplicate centroid: the first index must win
    step = ln.NEAREST_CHUNK_BYTES // (256 * 128 * 4)
    assert len(data) > 3 * step
    got = ln._nearest(data, cent)
    assert got.dtype == np.intp
    assert np.array_equal(got, _one_shot(data, cent))


@pytest.mark.parametrize("bound", [1, 4096, 4096 * 7 + 3])
def test_nearest_matches_one_shot_at_any_chunk_size(monkeypatch, bound):
    data, cent = _data(333, 16), _data(24, 16, seed=5)
    monkeypatch.setattr(ln, "NEAREST_CHUNK_BYTES", bound)
    # a strided column slice, as the PQ sub-quantizers pass
    sub = data[:, 4:12]
    assert np.array_equal(ln._nearest(data, cent), _one_shot(data, cent))
    assert np.array_equal(ln._nearest(sub, cent[:, 4:12]),
                          _one_shot(sub, cent[:, 4:12]))
    assert len(ln._nearest(data[:0], cent)) == 0


def test_kmeans_and_pq_codes_are_byte_identical(monkeypatch):
    data = _data(900, 32)
    monkeypatch.setattr(ln, "NEAREST_CHUNK_BYTES", 32 * 32 * 4 * 50)
    cent = ln._kmeans(data, 32, 4, seed=1)
    assert cent.tobytes() == _reference_kmeans(data, 32, 4, seed=1).tobytes()
    codebook = np.stack([ln._kmeans(data[:, s * 8:(s + 1) * 8], 256, 2, s)
                         for s in range(4)])
    a, codes = ln._pq_encode_block(data, cent, codebook)
    ref_a = _one_shot(data, cent)
    r = data - cent[ref_a]
    assert np.array_equal(a, ref_a)
    for s in range(4):
        assert np.array_equal(
            codes[:, s], _one_shot(r[:, s * 8:(s + 1) * 8], codebook[s]))


def test_index_file_is_the_same_at_any_chunk_size(tmp_path, monkeypatch):
    rng = np.random.default_rng(11)
    v = rng.normal(size=(600, 16)).astype(np.float32)
    root = str(tmp_path / "vec.lance")
    ln.write_native_dataset(
        root, {"id": list(range(600)), "vec": [r.tolist() for r in v]},
        file_version=2)

    def index_bytes() -> bytes:
        uid = ln.write_native_vector_index(
            root, "vec", n_cells=8, nsub=4, sample=500, iters=3)
        with open(os.path.join(root, "_indices", uid, "index.idx"),
                  "rb") as fh:
            return fh.read()

    default = index_bytes()
    monkeypatch.setattr(ln, "NEAREST_CHUNK_BYTES", 1)  # one row per chunk
    assert index_bytes() == default

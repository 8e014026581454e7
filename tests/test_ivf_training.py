"""The IVF kernels of both storage planes in bounded memory:
``vector_index.nearest`` evaluates the nearest-centroid expression over
row chunks, ``lloyd`` is the one Lloyd loop and ``pq_encode`` the one PQ
encoder. Every result — assignments, k-means centroids, PQ codes and the
index files — is what the one-shot [n, k, dim] expressions they replaced
produced; those are kept here, verbatim, as the references."""

from __future__ import annotations

import os

import numpy as np
import pytest

import lance_trino_spark.format.lance_native as ln
import lance_trino_spark.format.vector_index as vi


def _one_shot(data, cent):
    """The nearest-centroid expression ``nearest`` replaced."""
    return ((data[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)


def _one_shot_n(data, cent, n):
    """The n-nearest expression of ``nearest_cells`` and the IVF probe
    assigner, before the chunked kernel."""
    d = ((data[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
    return np.argsort(d, axis=1)[:, :n]


def _reference_kmeans(data, k: int, iters: int, seed: int):
    """``lance_native._kmeans`` before the chunked assignment, verbatim."""
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


def _reference_kmeans_deterministic(x, n_cells: int, iters: int):
    """``vector_index.kmeans_deterministic`` before the shared Lloyd
    loop, verbatim."""
    x = np.asarray(x, dtype=np.float64)
    centroids = x[:n_cells].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - centroids[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for j in range(n_cells):
            members = x[assign == j]
            if len(members):
                centroids[j] = members.mean(0)
    return centroids


def _reference_train_ivf_pq(x, n_cells, iters, pq_m, pq_iters):
    """``vector_index.train_index(..., "IVF_PQ")`` before the shared
    kernels, verbatim."""
    x = np.asarray(x, dtype=np.float64)
    centroids = _reference_kmeans_deterministic(x, n_cells, iters)
    sub = x.shape[1] // pq_m
    d = ((x[:, None, :] - centroids[None, :, :]) ** 2).sum(-1)
    resid = x - centroids[d.argmin(1).astype("int32")]
    n_codes = min(256, len(x))
    books = np.stack([
        _reference_kmeans_deterministic(
            resid[:, i * sub:(i + 1) * sub], n_codes, pq_iters)
        for i in range(pq_m)
    ])
    return centroids, books


def _data(n: int, dim: int, seed: int = 3) -> np.ndarray:
    rng = np.random.default_rng(seed)
    x = rng.normal(size=(n, dim)).astype(np.float32)
    x[n // 2: n // 2 + 7] = x[0]  # exact duplicates: argmin ties
    return x


def test_nearest_spans_several_chunks_at_the_default_bound():
    data, cent = _data(1700, 128), _data(256, 128, seed=4)
    cent[9] = cent[200]  # duplicate centroid: the first index must win
    step = vi.NEAREST_CHUNK_BYTES // (256 * 128 * 4)
    assert len(data) > 3 * step
    got = vi.nearest(data, cent)
    assert got.dtype == np.intp
    assert np.array_equal(got, _one_shot(data, cent))


@pytest.mark.parametrize("bound", [1, 4096, 4096 * 7 + 3])
def test_nearest_matches_one_shot_at_any_chunk_size(monkeypatch, bound):
    data, cent = _data(333, 16), _data(24, 16, seed=5)
    monkeypatch.setattr(vi, "NEAREST_CHUNK_BYTES", bound)
    # a strided column slice, as the PQ sub-quantizers pass
    sub = data[:, 4:12]
    assert np.array_equal(vi.nearest(data, cent), _one_shot(data, cent))
    assert np.array_equal(vi.nearest(sub, cent[:, 4:12]),
                          _one_shot(sub, cent[:, 4:12]))
    assert len(vi.nearest(data[:0], cent)) == 0


@pytest.mark.parametrize("bound", [1, 24 * 16 * 8 * 10 + 5, 64 << 20])
@pytest.mark.parametrize("n", [1, 3, 24, 40])
def test_nearest_n_matches_one_shot_argsort(monkeypatch, bound, n):
    """``nearest(data, cent, n)`` is ``np.argsort(d)[:, :n]`` row for
    row, across chunk bounds, with duplicate centroids (ties) and with
    ``n`` above the number of centroids."""
    data = _data(301, 16).astype(np.float64)
    cent = _data(24, 16, seed=6).astype(np.float64)
    cent[7] = cent[2]
    cent[19] = cent[2]
    monkeypatch.setattr(vi, "NEAREST_CHUNK_BYTES", bound)
    got = vi.nearest(data, cent, n)
    assert got.shape == (len(data), min(n, len(cent)))
    assert np.array_equal(got, _one_shot_n(data, cent, n))
    assert vi.nearest(data[:0], cent, n).shape == (0, min(n, len(cent)))


def test_nearest_cells_keeps_the_argmin_tie_rule(monkeypatch):
    """n=1 is argmin (first index wins a tie), not argsort's first
    column; n>1 is the argsort prefix. Both as int32 [rows, n]."""
    data = _data(200, 8).astype(np.float64)
    cent = _data(12, 8, seed=8).astype(np.float64)
    cent[10] = cent[4]  # duplicate: rows nearest to it must get 4
    data[:5] = cent[4]  # exact hits on the duplicated centroid
    monkeypatch.setattr(vi, "NEAREST_CHUNK_BYTES", 12 * 8 * 8 * 7)
    one = vi.nearest_cells(data, cent)
    assert one.dtype == np.int32 and one.shape == (200, 1)
    assert np.array_equal(one[:, 0], _one_shot(data, cent))
    assert (one[:5, 0] == 4).all()
    three = vi.nearest_cells(data, cent, 3)
    assert three.dtype == np.int32
    assert np.array_equal(three, _one_shot_n(data, cent, 3))


def test_kmeans_and_pq_codes_are_byte_identical(monkeypatch):
    data = _data(900, 32)
    monkeypatch.setattr(vi, "NEAREST_CHUNK_BYTES", 32 * 32 * 4 * 50)
    cent = ln._kmeans(data, 32, 4, seed=1)
    assert cent.tobytes() == _reference_kmeans(data, 32, 4, seed=1).tobytes()
    codebook = np.stack([ln._kmeans(data[:, s * 8:(s + 1) * 8], 256, 2, s)
                         for s in range(4)])
    a, codes = ln._pq_encode_block(data, cent, codebook)
    ref_a = _one_shot(data, cent)
    r = data - cent[ref_a]
    assert np.array_equal(a, ref_a)
    assert codes.dtype == np.uint8
    for s in range(4):
        assert np.array_equal(
            codes[:, s], _one_shot(r[:, s * 8:(s + 1) * 8], codebook[s]))


@pytest.mark.parametrize("bound", [1, 64 << 20])
def test_own_format_training_is_byte_identical(monkeypatch, bound):
    """The own-format plane's float64 first-n k-means and its IVF_PQ
    training equal the one-shot code they replaced, byte for byte."""
    x = _data(700, 16)
    monkeypatch.setattr(vi, "NEAREST_CHUNK_BYTES", bound)
    assert (vi.kmeans_deterministic(x, 12, 5).tobytes()
            == _reference_kmeans_deterministic(x, 12, 5).tobytes())
    cent, books = vi.train_index(x, 8, iters=4, index_type="IVF_PQ",
                                 pq_m=4, pq_iters=3)
    ref_cent, ref_books = _reference_train_ivf_pq(x, 8, 4, 4, 3)
    assert cent.tobytes() == ref_cent.tobytes()
    assert books.shape == ref_books.shape
    assert books.tobytes() == ref_books.tobytes()
    with pytest.raises(ValueError, match="smaller than n_cells"):
        vi.kmeans_deterministic(x[:5], 6, 1)


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
    monkeypatch.setattr(vi, "NEAREST_CHUNK_BYTES", 1)  # one row per chunk
    assert index_bytes() == default


def test_serial_encode_skips_null_vectors_as_before(tmp_path):
    """The serial IVF_PQ encode reads each fragment's vectors once and
    leaves NULL rows unindexed: its buckets equal the read + mask +
    one-shot encode it replaced, address for address."""
    rng = np.random.default_rng(13)
    v = rng.normal(size=(500, 16)).astype(np.float32)
    rows = [r.tolist() for r in v]
    for i in (0, 1, 17, 260, 261, 499):
        rows[i] = None
    root = str(tmp_path / "nulls.lance")
    ln.write_native_dataset(
        root, {"id": list(range(250)), "vec": rows[:250]}, file_version=2)
    ln.append_native_rows(
        root, {"id": list(range(250, 500)), "vec": rows[250:]},
        file_version=2)
    manifest = ln.read_native_manifest(root)
    nfield = next(f for f in manifest.top_level_fields() if f.name == "vec")
    cent = ln._kmeans(v, 4, 3, seed=0)
    codebook = np.stack([ln._kmeans(v[:, s * 4:(s + 1) * 4], 256, 2, s)
                         for s in range(4)])

    want = [([], []) for _ in range(4)]
    for frag in manifest.fragments:
        dfile, col_idx = frag.file_for_field(nfield.id)
        arr = ln.read_file_column(root, dfile, col_idx, nfield, manifest)
        x = np.asarray(arr.values, dtype=np.float32).reshape(-1, 16)
        addr = (np.uint64(frag.id) << np.uint64(32)) + np.arange(
            len(x), dtype=np.uint64)
        vmask = np.asarray(arr.is_valid())
        x, addr = x[vmask], addr[vmask]
        a = _one_shot(x, cent)
        r = x - cent[a]
        codes = np.stack([_one_shot(r[:, s * 4:(s + 1) * 4], codebook[s])
                          for s in range(4)], axis=1).astype(np.uint8)
        for c in range(4):
            m = a == c
            if m.any():
                want[c][0].append(codes[m])
                want[c][1].append(addr[m])

    got = ln._encode_fragments_into_buckets(
        root, manifest, nfield, manifest.fragments, cent, codebook)
    assert len(manifest.fragments) == 2
    indexed = 0
    for (gc, ga), (wc, wa) in zip(got, want):
        assert len(gc) == len(wc)
        for g, w in zip(gc, wc):
            assert g.dtype == w.dtype and g.tobytes() == w.tobytes()
        for g, w in zip(ga, wa):
            assert g.tobytes() == w.tobytes()
        indexed += sum(len(a) for a in ga)
    assert indexed == 500 - 6


@pytest.mark.parametrize("index_type", ["IVF_FLAT", "IVF_PQ"])
def test_all_null_fragment_gets_empty_postings(tmp_path, index_type):
    """A fragment whose vectors are all NULL indexes no row; the IVF_PQ
    encode of zero rows is an empty code matrix, not a broadcast error."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"e": pa.array([None, None], type=pa.list_(pa.float64()))}),
        tmp_path / "f.parquet")
    x = _data(300, 8).astype(np.float64)
    cent, books = vi.train_index(x, 4, index_type=index_type, pq_m=2)
    rel = vi.build_fragment_postings(str(tmp_path), "f.parquet", "e", cent,
                                     books)
    t = pq.read_table(tmp_path / rel)
    assert t.num_rows == 0
    assert t.column_names[:2] == ["cell", "row_index"]

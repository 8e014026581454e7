"""IVF_PQ search served from the process-wide decode cache
(``lance_native._VECTOR_BODIES``): probed partitions and the vector
columns of the exact refine are decoded once per process, and every
search returns what the per-call reads it replaced returned — the same
neighbors, bit-equal distances and the same proof fields."""

from __future__ import annotations

import os

import numpy as np
import pytest

import lance_trino_spark.format.lance_native as ln
from lance_trino_spark.format import native_io as nio
from lance_trino_spark.format.statcache import StatLRU

DIM = 16
PROOF = ("cells_probed", "n_candidates", "n_refined", "stale_dropped",
         "index_bytes_read")


def _reference_partition(index, cell: int):
    """The per-call partition read the cache replaced, kept verbatim."""
    n = index.part_lengths[cell]
    nsub = index.pq_nsub
    if index.cell_shards:
        names = index.cell_shards[cell]
        if not names:  # empty cell: no shard file was written
            return (np.empty((0, nsub), dtype="u1"),
                    np.empty(0, dtype="<u8"))
        base = os.path.dirname(index.path)
        codes_parts, rid_parts = [], []
        for name in names:
            part = nio.read_bytes(os.path.join(base, name))
            m = len(part) // (nsub + 8)
            codes_parts.append(np.frombuffer(
                part, dtype="u1", count=m * nsub).reshape(m, nsub))
            rid_parts.append(np.frombuffer(
                part, dtype="<u8", count=m, offset=m * nsub))
        codes = np.concatenate(codes_parts)
        rids = np.concatenate(rid_parts)
        return codes, rids
    else:
        with nio.open_read(index.path) as fh:
            fh.seek(index.part_offsets[cell])
            body = fh.read(n * (nsub + 8))
    codes = np.frombuffer(body, dtype="u1", count=n * nsub).reshape(n, nsub)
    rids = np.frombuffer(body, dtype="<u8", count=n, offset=n * nsub)
    return codes, rids


def _reference_search(root, index, queries, k=10, nprobe=1, manifest=None,
                      max_candidates=200_000, refine_factor=None,
                      skip_missing_fragments=False, mask_deletions=False,
                      allowed_by_fragment=None):
    """``native_index_search`` as it was before the cache (per-call
    partition reads, selective column reads, full stable argsort), kept
    verbatim as the reference."""
    if manifest is None:
        manifest = ln.read_native_manifest(root, index.dataset_version)
    q = np.asarray(queries, dtype=np.float32)
    if q.ndim == 1:
        q = q.reshape(1, -1)
    nprobe = max(1, min(nprobe, index.n_cells))
    nsub, subdim = index.pq_nsub, index.dim // index.pq_nsub
    cb = index.pq_codebook
    frag_by_id = {f.id: f for f in manifest.fragments}
    part_cache: dict[int, tuple] = {}
    dead_cache: dict[int, np.ndarray] = {}
    results = []
    for qi in range(q.shape[0]):
        qv = q[qi]
        cells = np.argsort(((index.centroids - qv) ** 2).sum(axis=1))[:nprobe]
        cand_rids = []
        cand_dist = []
        bytes_read = 0
        for cell in cells:
            cell = int(cell)
            if cell not in part_cache:
                part_cache[cell] = _reference_partition(index, cell)
            codes, rids = part_cache[cell]
            bytes_read += index.part_lengths[cell] * (nsub + 8)
            cand_rids.append(rids)
            if refine_factor is not None:
                resid = (qv - index.centroids[cell]).reshape(nsub, 1, subdim)
                lut = ((cb - resid) ** 2).sum(axis=2)
                d = lut[np.arange(nsub)[:, None], codes.T].sum(axis=0)
                cand_dist.append(d)
        rids = np.concatenate(cand_rids)
        n_candidates = len(rids)
        if refine_factor is not None and len(rids) > k * refine_factor:
            approx = np.concatenate(cand_dist)
            keep = np.argpartition(approx, k * refine_factor - 1)[
                : k * refine_factor]
            rids = rids[keep]
        if len(rids) > max_candidates:
            raise ln.LanceNativeError("too many candidates")
        exact = np.empty(len(rids), dtype=np.float64)
        stale_dropped = 0
        order = np.argsort(rids)
        srids = rids[order]
        fids = (srids >> np.uint64(32)).astype(np.int64)
        rows = (srids & np.uint64(0xFFFFFFFF)).astype(np.int64)
        for pos, end in ln._fragment_runs(fids):
            fid = int(fids[pos])
            frag = frag_by_id.get(fid)
            if frag is None:
                if skip_missing_fragments:
                    exact[order[pos:end]] = np.inf
                    stale_dropped += end - pos
                    continue
                raise ln.LanceNativeError(
                    f"index references unknown fragment {fid}")
            grp_rows = rows[pos:end]
            live_m = None
            if mask_deletions and frag.deletion is not None:
                if fid not in dead_cache:
                    dead_cache[fid] = ln._deleted_rows_np(
                        root, frag.deletion)
                live_m = ~np.isin(grp_rows, dead_cache[fid])
                if not live_m.all():
                    exact[order[pos:end][~live_m]] = np.inf
                    stale_dropped += int((~live_m).sum())
            if allowed_by_fragment is not None:
                al = allowed_by_fragment.get(fid)
                al_m = (np.isin(grp_rows, al) if al is not None
                        else np.zeros(len(grp_rows), dtype=bool))
                exact[order[pos:end][~al_m]] = np.inf
                live_m = al_m if live_m is None else (live_m & al_m)
            if live_m is not None and not live_m.any():
                continue
            nfield = next(
                f for f in manifest.top_level_fields()
                if f.name == index.column)
            dfile, col_idx = frag.file_for_field(nfield.id)
            sel = grp_rows if live_m is None else grp_rows[live_m]
            arr = ln.read_file_column(
                root, dfile, col_idx, nfield, manifest, indices=sel)
            vec = np.asarray(
                arr.flatten(), dtype=np.float32).reshape(-1, index.dim)
            dst = (order[pos:end] if live_m is None
                   else order[pos:end][live_m])
            exact[dst] = ((vec - qv) ** 2).sum(axis=1)
        top = np.argsort(exact, kind="stable")[:k]
        top = top[np.isfinite(exact[top])]
        results.append({
            "neighbors": [int(r) for r in rids[top]],
            "distances": [float(x) for x in exact[top]],
            "cells_probed": int(nprobe),
            "n_candidates": int(n_candidates),
            "n_refined": int(len(rids)),
            "stale_dropped": int(stale_dropped),
            "index_bytes_read": int(bytes_read),
        })
    return results


def _reference_cosine_merge(root, live, column, q, k, uncovered,
                            allowed_by_frag, cand, dedup=False):
    """``_exact_cosine_merge`` as it was before the cache (one whole
    column decode per fragment per call), kept verbatim."""
    nfield = next(
        (f for f in live.top_level_fields() if f.name == column), None)
    qn = q / np.maximum(
        np.linalg.norm(q, axis=1, keepdims=True), 1e-30)
    frag_by_id = {f.id: f for f in live.fragments}
    exact_rows = 0
    for fid in uncovered:
        frag = frag_by_id[fid]
        dfile, col_idx = frag.file_for_field(nfield.id)
        arr = ln.read_file_column(root, dfile, col_idx, nfield, live)
        vmask = np.asarray(arr.is_valid())
        if frag.deletion is not None:
            vmask[ln._deleted_rows_np(root, frag.deletion)] = False
        if allowed_by_frag is not None:
            am = np.zeros(len(vmask), dtype=bool)
            rows = allowed_by_frag.get(fid, [])
            if len(rows):
                am[np.asarray(rows, dtype=np.int64)] = True
            vmask &= am
        if not vmask.any():
            continue
        dim = q.shape[1]
        v = np.asarray(arr.values, dtype=np.float32).reshape(-1, dim)
        rows_sel = np.nonzero(vmask)[0]
        v = v[vmask]
        exact_rows += len(v)
        vn = v / np.maximum(
            np.linalg.norm(v, axis=1, keepdims=True), 1e-30)
        sims = vn @ qn.T
        addr_base = np.uint64(fid) << np.uint64(32)
        for qi in range(q.shape[0]):
            s = sims[:, qi]
            top = np.argsort(-s, kind="stable")[:k]
            for i in top:
                cand[qi].append(
                    (float(s[i]), int(addr_base | np.uint64(rows_sel[i]))))
    results = []
    for qi in range(q.shape[0]):
        pool = set(cand[qi]) if dedup else cand[qi]
        best = sorted(pool, key=lambda t: (-t[0], t[1]))[:k]
        results.append({
            "neighbors": [a for _s, a in best],
            "sims": [s for s, _a in best],
            "uncovered_fragments": len(uncovered),
            "exact_rows": int(exact_rows),
        })
    return results


def _vectors(rng, n: int) -> np.ndarray:
    """``n`` float32 vectors clustered around six random centers."""
    centers = rng.normal(size=(6, DIM)).astype(np.float32) * 4
    return (centers[rng.integers(0, 6, n)]
            + rng.normal(size=(n, DIM))).astype(np.float32)


def _append(root: str, v: np.ndarray, first_id: int, fv: int,
            nulls=()) -> None:
    vl = [r.tolist() for r in v]
    for i in nulls:
        vl[i] = None
    cols = {"id": list(range(first_id, first_id + len(v))), "vec": vl}
    if os.path.isdir(root):
        ln.append_native_rows(root, cols, file_version=fv)
    else:
        ln.write_native_dataset(root, cols, file_version=fv)


def _corpus(tmp_path, fv: int, layout: str):
    """(root, index handle, tie vectors): four 160-row fragments with
    NULL embeddings, each holding 12 exact copies of two of the four tie
    vectors, so a tie vector's k-th distance falls inside a run of
    equal distances. ``single``
    indexes all four in the single-file layout; ``extended`` builds over
    two, then extends twice — the first extend folds the single-file
    base into one shard file per cell, the second appends one delta
    file per touched cell in place."""
    rng = np.random.default_rng(40 + fv)
    root = str(tmp_path / f"ivf_{layout}_v{fv}.lance")
    parts = [_vectors(rng, 160) for _ in range(4)]
    ties = parts[0][:4].copy()
    for f, v in enumerate(parts):
        v[rng.choice(np.arange(8, 160), 12, replace=False)] = ties[f % 4]
        v[rng.choice(np.arange(8, 160), 12, replace=False)] = \
            ties[(f + 1) % 4]
    for f in range(2 if layout == "extended" else 4):
        _append(root, parts[f], 160 * f, fv, nulls=(5, 77 + f))
    ln.write_native_vector_index(root, "vec", n_cells=8, nsub=4,
                                 sample=320, iters=3)
    if layout == "extended":
        for f in (2, 3):
            _append(root, parts[f], 160 * f, fv, nulls=(5,))
            ln.extend_native_vector_index(root, "vec")
    idx = ln.latest_native_index(root, "vec", "ivf_pq")
    assert bool(idx.cell_shards) == (layout == "extended")
    if layout == "extended":
        assert max(len(fs) for fs in idx.cell_shards) == 2
    return root, idx, ties


def _assert_same(got, want, ctx):
    assert len(got) == len(want), ctx
    for g, w in zip(got, want):
        assert g["neighbors"] == w["neighbors"], ctx
        assert (np.array(g["distances"]).tobytes()
                == np.array(w["distances"]).tobytes()), ctx
        assert {f: g[f] for f in PROOF} == {f: w[f] for f in PROOF}, ctx


@pytest.mark.parametrize("fv", [1, 2])
@pytest.mark.parametrize("layout", ["single", "extended"])
def test_cached_search_matches_the_per_call_reads(tmp_path, fv, layout):
    root, idx, ties = _corpus(tmp_path, fv, layout)
    rng = np.random.default_rng(7)
    q = np.concatenate([ties, ties + 0.01,
                        rng.normal(size=(3, DIM)).astype(np.float32) * 4])
    man = ln.read_native_manifest(root)
    allowed = {f.id: np.arange(f.id % 2, f.physical_rows, 3)
               for f in man.fragments[1:]}

    def both(**kw):
        got = ln.native_index_search(root, idx, q, **kw)
        want = _reference_search(root, idx, q, **kw)
        _assert_same(got, want, kw)
        return got

    ks = (1, 10, 10_000)
    for nprobe in (1, 4, idx.n_cells):
        for k in ks:
            for rf in (None, 2):
                res = both(k=k, nprobe=nprobe, refine_factor=rf)
                if k == 10_000 and rf is None:
                    # more than every candidate: all of them come back
                    assert all(len(r["neighbors"]) == r["n_candidates"]
                               for r in res)
                both(k=k, nprobe=nprobe, refine_factor=rf,
                     allowed_by_fragment=allowed)
    # each tie query's k = 10 cuts through a longer run of exact copies
    every = ln.native_index_search(root, idx, ties, k=10_000,
                                   nprobe=idx.n_cells)
    assert all(r["distances"].count(0.0) > 10 for r in every)

    # a repeated call decodes nothing
    res = ln.native_index_search(root, idx, q, k=10, nprobe=idx.n_cells)
    assert {(r["cells_decoded"], r["vectors_decoded"]) for r in res} \
        == {(0, 0)}

    # deletions committed after a cached search are masked
    ln.native_delete(root, {0: np.arange(0, 160, 2),
                            2: np.arange(0, 160, 5)})
    cur = ln.read_native_manifest(root)
    for rf in (None, 2):
        res = both(k=10, nprobe=4, refine_factor=rf, manifest=cur,
                   mask_deletions=True)
        assert sum(r["stale_dropped"] for r in res) > 0
        both(k=10, nprobe=4, refine_factor=rf, manifest=cur,
             mask_deletions=True, allowed_by_fragment=allowed)
    # and fragments compacted away are skipped
    ln.native_compact(root)
    cur = ln.read_native_manifest(root)
    assert {f.id for f in cur.fragments}.isdisjoint({0, 2})
    for k in ks:
        res = both(k=k, nprobe=idx.n_cells, manifest=cur,
                   skip_missing_fragments=True, mask_deletions=True)
        assert sum(r["stale_dropped"] for r in res) > 0


def test_stable_topk_keeps_tie_order():
    rng = np.random.default_rng(3)
    for n, k in ((0, 3), (5, 10), (50, 1), (200, 10), (200, 199)):
        x = rng.integers(0, 6, n).astype(np.float64)
        x[rng.integers(0, max(n, 1), n // 7)] = np.inf
        x[rng.integers(0, max(n, 1), n // 11)] = np.nan
        want = np.argsort(x, kind="stable")[:k]
        want = want[np.isfinite(x[want])]
        assert ln._stable_topk(x, k).tolist() == want.tolist(), (n, k)


def test_extend_handle_decodes_only_the_new_cell_files(tmp_path):
    root, old, _ties = _corpus(tmp_path, 1, "extended")
    q = np.random.default_rng(9).normal(size=(4, DIM)).astype(np.float32)
    kw = dict(k=10_000, nprobe=old.n_cells)
    before = ln.native_index_search(root, old, q, **kw)
    rng = np.random.default_rng(11)
    _append(root, _vectors(rng, 40), 640, 1)
    assert ln.extend_native_vector_index(root, "vec") == \
        os.path.basename(os.path.dirname(old.path))  # in place
    new = ln.latest_native_index(root, "vec", "ivf_pq")
    added = [f for c in range(new.n_cells)
             for f in new.cell_shards[c][len(old.cell_shards[c]):]]
    assert added and all(
        new.cell_shards[c][:len(old.cell_shards[c])] == old.cell_shards[c]
        for c in range(new.n_cells))
    got = ln.native_index_search(root, new, q, **kw)
    want = _reference_search(root, new, q, **kw)
    _assert_same(got, want, "new handle")
    assert {(r["cells_decoded"], r["vectors_decoded"]) for r in got} \
        == {(len(added), 1)}
    new_frag = max(f.id for f in ln.read_native_manifest(root).fragments)
    assert any(a >> 32 == new_frag for r in got for a in r["neighbors"])
    # the handle taken before the extend still serves its own rows
    again = ln.native_index_search(root, old, q, **kw)
    _assert_same(again, before, "old handle")
    assert not any(a >> 32 == new_frag
                   for r in again for a in r["neighbors"])


@pytest.mark.parametrize("layout", ["single", "extended"])
def test_cached_arrays_are_read_only_and_own_their_memory(tmp_path, layout):
    root, idx, _ties = _corpus(tmp_path, 1, layout)
    arrays = []
    for c in range(idx.n_cells):
        pieces, _cold = ln._partition_pieces(idx, c)
        arrays += [a for piece in pieces for a in piece]
    man = ln.read_native_manifest(root)
    nfield = next(f for f in man.top_level_fields() if f.name == "vec")
    for frag in man.fragments:
        (vecs, valid), _cold = ln._vector_column(root, frag, nfield, man)
        assert vecs.shape == (frag.physical_rows, DIM)
        assert valid.dtype == bool and not valid.all()  # NULL embeddings
        arrays += [vecs, valid]
    assert arrays
    for a in arrays:
        assert a.flags.owndata and a.base is None
        assert not a.flags.writeable
        with pytest.raises(ValueError):
            a[...] = 0


def test_two_parts_of_one_file_are_distinct_entries(tmp_path):
    path = str(tmp_path / "blob.bin")
    with open(path, "wb") as fh:
        fh.write(b"abcdef")
    cache = StatLRU(1 << 20)
    calls = []

    def part(lo, hi):
        def decode(p):
            calls.append((lo, hi))
            with open(p, "rb") as fh:
                return fh.read()[lo:hi], hi - lo
        return decode

    assert cache.load(path, part(0, 3), part=(0, 3)) == (b"abc", True)
    assert cache.load(path, part(3, 6), part=(3, 6)) == (b"def", True)
    assert cache.load(path, part(0, 3), part=(0, 3)) == (b"abc", False)
    assert cache.load(path, part(3, 6), part=(3, 6)) == (b"def", False)
    assert cache.nbytes == 6 and len(calls) == 2
    # an atomically replaced file (new inode) misses for every part
    nio.replace_bytes(path, b"uvwxyz")
    assert cache.load(path, part(0, 3), part=(0, 3)) == (b"uvw", True)
    assert cache.load(path, part(3, 6), part=(3, 6)) == (b"xyz", True)
    assert len(calls) == 4


def test_fresh_graph_search_exact_arm_matches_the_per_call_decode(tmp_path):
    """``_exact_cosine_merge`` (the exact arm of the fresh HNSW and
    IVF_HNSW searches) returns what the per-fragment whole-column decode
    returned, and masking never writes into the shared validity."""
    root, _idx, ties = _corpus(tmp_path, 2, "single")
    ln.native_delete(root, {1: np.arange(0, 160, 4)})
    live = ln.read_native_manifest(root)
    q = np.concatenate([ties, np.random.default_rng(5).normal(
        size=(3, DIM)).astype(np.float32)])
    uncovered = [f.id for f in live.fragments]
    nfield = next(f for f in live.top_level_fields() if f.name == "vec")
    valid_before = [ln._vector_column(root, f, nfield, live)[0][1].copy()
                    for f in live.fragments]
    for allowed in (None, {0: np.arange(0, 160, 3), 3: np.arange(7)}):
        for dedup in (False, True):
            got = ln._exact_cosine_merge(
                root, live, "vec", q, 10, uncovered, allowed,
                [[] for _ in q], dedup)
            want = _reference_cosine_merge(
                root, live, "vec", q, 10, uncovered, allowed,
                [[] for _ in q], dedup)
            assert got == want
    for f, before in zip(live.fragments, valid_before):
        after = ln._vector_column(root, f, nfield, live)[0][1]
        assert np.array_equal(after, before)


def _column_reads(monkeypatch):
    """Record, per ``read_file_column`` call, whether it read only the
    given row indices (``True``) or the whole column (``False``)."""
    calls = []
    real = ln.read_file_column

    def spy(*a, indices=None, **kw):
        calls.append(indices is not None)
        return real(*a, indices=indices, **kw)

    monkeypatch.setattr(ln, "read_file_column", spy)
    return calls


def _cached_columns(root: str) -> list:
    data = os.path.join(root, "data")
    return [key for key in ln._VECTOR_BODIES._entries
            if key[0].startswith(data)]


@pytest.mark.parametrize("layout", ["single", "extended"])
def test_search_over_the_budget_reads_only_candidate_rows(
        tmp_path, monkeypatch, layout):
    """Columns and index that together exceed ``VECTOR_CACHE_BYTES`` are
    not cached (a cyclic visit would miss an LRU every time): each
    refine reads only the candidate rows, with the same results. The
    bound is the manifest's row counts — at exactly the working set the
    columns are cached."""
    root, idx, ties = _corpus(tmp_path, 1, layout)
    man = ln.read_native_manifest(root)
    need = (sum(f.physical_rows for f in man.fragments) * (DIM * 4 + 1)
            + sum(idx.part_lengths) * (idx.pq_nsub + 8))
    q = np.concatenate([ties, np.random.default_rng(8).normal(
        size=(3, DIM)).astype(np.float32)])
    allowed = {f.id: np.arange(0, f.physical_rows, 2)
               for f in man.fragments}
    monkeypatch.setattr(ln, "VECTOR_CACHE_BYTES", need - 1)
    reads = _column_reads(monkeypatch)
    for kw in (dict(k=1, nprobe=1), dict(k=10, nprobe=4),
               dict(k=10_000, nprobe=idx.n_cells),
               dict(k=10, nprobe=4, refine_factor=2),
               dict(k=10, nprobe=idx.n_cells, allowed_by_fragment=allowed)):
        for _ in range(2):
            got = ln.native_index_search(root, idx, q, **kw)
            assert {r["vectors_decoded"] for r in got} != {0}, kw
            _assert_same(got, _reference_search(root, idx, q, **kw), kw)
    assert reads and all(reads)
    assert not _cached_columns(root)
    ln.native_delete(root, {1: np.arange(0, 160, 3)})
    cur = ln.read_native_manifest(root)
    kw = dict(k=10, nprobe=4, manifest=cur, mask_deletions=True)
    _assert_same(ln.native_index_search(root, idx, q, **kw),
                 _reference_search(root, idx, q, **kw), "deleted")
    assert all(reads) and not _cached_columns(root)

    monkeypatch.setattr(ln, "VECTOR_CACHE_BYTES", need)
    del reads[:]
    ln.native_index_search(root, idx, q, k=10, nprobe=idx.n_cells)
    got = ln.native_index_search(root, idx, q, k=10, nprobe=idx.n_cells)
    assert {r["vectors_decoded"] for r in got} == {0}
    assert reads and not any(reads)  # whole columns, once
    assert len(_cached_columns(root)) == len(man.fragments)


def test_remote_root_reads_only_candidate_rows(monkeypatch):
    """A remote root has no process-wide cache: its refine keeps reading
    just the candidate rows, never the whole column per call."""
    from lance_trino_spark.format.backend import MemoryObjectStore

    nio.register_object_store_root("memory://ivfbucket", MemoryObjectStore())
    try:
        root = "memory://ivfbucket/t.lance"
        v = _vectors(np.random.default_rng(12), 200)
        for lo, write in ((0, ln.write_native_dataset),
                          (100, ln.append_native_rows)):
            write(root, {"id": list(range(lo, lo + 100)),
                         "vec": [r.tolist() for r in v[lo:lo + 100]]})
        ln.write_native_vector_index(root, "vec", n_cells=4, nsub=4,
                                     sample=200, iters=3)
        idx = ln.latest_native_index(root, "vec", "ivf_pq")
        reads = _column_reads(monkeypatch)
        for kw in (dict(k=5, nprobe=2), dict(k=10_000, nprobe=4),
                   dict(k=5, nprobe=4, refine_factor=2)):
            got = ln.native_index_search(root, idx, v[:6], **kw)
            _assert_same(got, _reference_search(root, idx, v[:6], **kw), kw)
        assert reads and all(reads)
        assert not any(key[0].startswith(root)
                       for key in ln._VECTOR_BODIES._entries)
    finally:
        nio.unregister_object_store_root("memory://ivfbucket")


def test_fresh_exact_arm_over_the_budget_is_not_cached(tmp_path,
                                                       monkeypatch):
    root, _idx, ties = _corpus(tmp_path, 1, "single")
    live = ln.read_native_manifest(root)
    uncovered = [f.id for f in live.fragments]
    monkeypatch.setattr(ln, "VECTOR_CACHE_BYTES", 1)
    args = (root, live, "vec", ties, 10, uncovered, None)
    assert (ln._exact_cosine_merge(*args, [[] for _ in ties])
            == _reference_cosine_merge(*args, [[] for _ in ties]))
    assert not _cached_columns(root)


def test_driver_memory_default_is_half_the_smaller_limit(monkeypatch):
    import io

    from lance_trino_spark import session

    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    real = open

    def cgroup_limit(text):
        def fake(path, *a, **kw):
            if path == "/sys/fs/cgroup/memory.max":
                return io.StringIO(text)
            return real(path, *a, **kw)
        return fake

    half = min(48 << 30, phys >> 1) >> 20
    monkeypatch.setattr(session, "open", cgroup_limit("max\n"),
                        raising=False)
    assert session._default_driver_mem() == f"{half}m"
    monkeypatch.setattr(session, "open", cgroup_limit("2147483648\n"),
                        raising=False)
    assert session._default_driver_mem() == f"{min(half, 1024)}m"

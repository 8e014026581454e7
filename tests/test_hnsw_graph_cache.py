"""The decoded HNSW graph LRU (format/vector_index.py ``hnsw_graph``):
the vectorized decode searches exactly like the per-call string-parse
decode it replaced, cached graphs are read-only and bounded by a byte
budget, and a cache hit never serves stale data or skips a mask."""

from __future__ import annotations

import io
import os
import shutil

import numpy as np
import pyarrow as pa
import pytest

import lance_trino_spark.format.lance_native as ln
from lance_trino_spark.format import vector_index as vi
from lance_trino_spark.format.statcache import StatLRU


def _reference_search(
    t, query_vecs, k: int, ef_search: int,
    deletion_set=None, allowed_set=None,
):
    """The per-call decode + search this cache replaced, kept verbatim
    as the reference (dict-of-lists adjacency from "lvl:nb" strings, a
    bytes-keyed dup map rebuilt per call)."""
    import heapq

    import numpy as np

    n = len(t)
    if n == 0:
        return None
    xn = np.array([np.asarray(v, np.float32) for v in t.column("vec").to_pylist()])
    # Exact-duplicate short-circuit (fingerprint join): graph ROUTING can
    # strand a byte-identical twin on duplicate-dense corpora — an
    # inherent HNSW failure mode (the sf1 value sweep measured 1-2/15
    # self-match misses even at ef_search=256). Byte equality needs no
    # routing: hash every node's raw float32 bytes once per shard load
    # (O(n), amortized over the query batch) and probe per query; hits
    # are force-merged into the beam result below.
    dup_map: dict[bytes, list[int]] = {}
    for i in range(n):
        dup_map.setdefault(xn[i].tobytes(), []).append(i)
    norms = np.linalg.norm(xn, axis=1)
    norms[norms == 0] = 1.0
    xn = xn / norms[:, None]
    levels = t.column("level").to_numpy()
    entry = int(np.flatnonzero(t.column("is_entry").to_numpy())[0])
    neighbors: dict[tuple[int, int], list[int]] = {}
    for i, s in enumerate(t.column("adj").to_pylist()):
        if not s:
            continue
        for part in s.split(","):
            lvl, nb = part.split(":")
            neighbors.setdefault((int(lvl), i), []).append(int(nb))
    ridx = t.column("row_index").to_numpy()
    blocked = set()
    if deletion_set:
        blocked |= {i for i in range(n) if int(ridx[i]) in deletion_set}
    if allowed_set is not None:
        blocked |= {i for i in range(n) if int(ridx[i]) not in allowed_set}
    allowed_nodes = (
        np.array([i for i in range(n) if i not in blocked], dtype=np.int64)
        if blocked
        else np.arange(n, dtype=np.int64)
    )
    if len(allowed_nodes) == 0:
        return [[] for _ in range(len(query_vecs))]
    qm = np.asarray(query_vecs, dtype=np.float64)
    qnorm = np.linalg.norm(qm, axis=1)
    qnorm[qnorm == 0] = 1.0
    out = []
    # Selective-filter fallback: when few nodes remain allowed, one
    # vectorized matmul over them beats graph routing AND is exact.
    exact_fallback = len(allowed_nodes) <= max(4 * ef_search, 4 * k)
    for qi in range(len(qm)):
        q = (qm[qi] / qnorm[qi]).astype(np.float32)
        if exact_fallback:
            sims = xn[allowed_nodes] @ q
            order = np.lexsort((ridx[allowed_nodes], -sims))[:k]
            out.append(
                [(float(sims[j]), int(ridx[allowed_nodes[j]])) for j in order]
            )
            continue
        ep = entry
        for lvl in range(int(levels.max()), 0, -1):
            improved = True
            while improved:
                improved = False
                for nb in neighbors.get((lvl, ep), ()):
                    if float(xn[nb] @ q) > float(xn[ep] @ q):
                        ep, improved = nb, True
        # level-0 beam: `best` holds ALLOWED candidates only (the result
        # beam); blocked nodes still enter `cand` and route. Termination
        # requires a full allowed beam — a selective filter therefore
        # widens exploration instead of silently returning < k hits.
        visited = {ep}
        ep_sim = float(xn[ep] @ q)
        cand = [(-ep_sim, ep)]
        best = [(ep_sim, ep)] if ep not in blocked else []
        while cand:
            negs, c = heapq.heappop(cand)
            if len(best) >= ef_search and -negs < best[-1][0]:
                break
            for nb in neighbors.get((0, c), ()):
                if nb in visited:
                    continue
                visited.add(nb)
                sim = float(xn[nb] @ q)
                if len(best) < ef_search or sim > best[-1][0]:
                    heapq.heappush(cand, (-sim, nb))
                    if nb not in blocked:
                        best.append((sim, nb))
                        best.sort(key=lambda x: (-x[0], x[1]))
                        del best[ef_search:]
        dups = [i for i in dup_map.get(
            np.asarray(qm[qi], dtype=np.float32).tobytes(), ())
            if i not in blocked]
        if dups:
            seen = {i for _, i in best}
            best.extend(
                (float(xn[i] @ q), i) for i in dups if i not in seen)
            best.sort(key=lambda x: (-x[0], x[1]))
        out.append([(s, int(ridx[i])) for s, i in best[:k]])
    return out


def _graph_table(vecs, row_index=None, m=4, ef=16) -> pa.Table:
    vecs = np.asarray(vecs, dtype=np.float32)
    levels, neighbors, entry = vi.build_hnsw(vecs, m, ef)
    rows = range(len(vecs)) if row_index is None else row_index
    data = ln._hnsw_graph_to_bytes(rows, vecs, levels, neighbors, entry)
    return pa.ipc.open_stream(pa.BufferReader(data)).read_all()


def _write_graph(path: str, tbl: pa.Table) -> None:
    buf = io.BytesIO()
    with pa.ipc.new_stream(buf, tbl.schema) as w:
        w.write_table(tbl)
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(buf.getvalue())
    os.replace(tmp, path)


def _read(path: str) -> pa.Table:
    with open(path, "rb") as fh:
        return pa.ipc.open_stream(pa.BufferReader(fh.read())).read_all()


def _decode(path: str) -> tuple:
    g = vi._decode_hnsw_graph(_read(path))
    return g, g.nbytes


def _corpus(rng, n: int, dim: int) -> np.ndarray:
    """Random vectors with exact duplicates, a zero vector and -0.0
    components (byte-distinct from +0.0, so not duplicates)."""
    x = rng.normal(size=(n, dim)).astype(np.float32)
    x[rng.integers(0, n, n // 10)] = x[1]      # a duplicate-dense twin
    x[5] = x[n - 1]
    x[7] = 0.0
    x[9, 0] = -0.0
    x[11] = x[9]
    x[11, 0] = 0.0
    return x


@pytest.mark.parametrize("n,dim,seed", [(1, 4, 0), (7, 3, 1), (300, 8, 2),
                                        (900, 16, 3)])
def test_vectorized_decode_matches_string_parse_reference(n, dim, seed):
    rng = np.random.default_rng(seed)
    x = (_corpus(rng, n, dim) if n >= 12
         else rng.normal(size=(n, dim)).astype(np.float32))
    t = _graph_table(x, row_index=[100 + 3 * i for i in range(n)])
    g = vi._decode_hnsw_graph(t)
    queries = np.concatenate([
        rng.normal(size=(6, dim)), x[rng.integers(0, n, 4)],
        x[[min(9, n - 1), min(11, n - 1), 0]]])
    rows = [100 + 3 * i for i in range(n)]
    masks = [
        (None, None),
        (set(rows[::5]), None),
        (None, set(rows[::2])),
        (set(rows[1::7]), set(rows[::3])),
        (set(), set()),
    ]
    for k, ef in ((5, 4), (10, 16), (3, 64)):
        for dead, allow in masks:
            want = _reference_search(t, queries, k, ef, dead, allow)
            got = vi._search_hnsw_graph(
                g, queries, k, ef,
                None if dead is None else np.array(sorted(dead), np.int64),
                None if allow is None else np.array(sorted(allow), np.int64))
            assert got == want, (k, ef, dead is None, allow is None)


def test_duplicate_probe_is_byte_exact():
    rng = np.random.default_rng(4)
    x = _corpus(rng, 300, 8)
    g = vi._decode_hnsw_graph(_graph_table(x))
    twins = np.flatnonzero((x == x[1]).all(axis=1)).tolist()
    assert len(twins) > 5 and g.duplicates_of(x[1]) == twins
    assert g.duplicates_of(x[9]) == [9]     # holds a -0.0 component
    assert g.duplicates_of(x[11]) == [11]   # same values, +0.0
    assert g.duplicates_of(x[1] + 1) == []
    # the short-circuit surfaces every twin at a degenerate beam width
    hits = vi._search_hnsw_graph(g, x[[1]], len(twins), 2)[0]
    assert sorted(r for _s, r in hits) == twins


def test_cached_arrays_are_read_only(tmp_path):
    path = str(tmp_path / "g.idx")
    _write_graph(path, _graph_table(np.random.default_rng(1).normal(
        size=(50, 4))))
    g, _cold = StatLRU(1 << 30).load(path, _decode)
    arrays = [g.row_index, g.raw, g.xn, g.levels, g.dup_keys, g.dup_nodes,
              *g.indptr, *g.indices]
    assert all(isinstance(a, np.ndarray) for a in arrays)
    for a in arrays:
        with pytest.raises(ValueError, match="read-only"):
            a[0] = 0


def test_lru_evicts_least_recently_used_within_budget(tmp_path):
    rng = np.random.default_rng(2)
    paths = []
    for i in range(4):
        p = str(tmp_path / f"g{i}.idx")
        _write_graph(p, _graph_table(rng.normal(size=(200, 8))))
        paths.append(p)
    size = vi._decode_hnsw_graph(_read(paths[0])).nbytes
    lru = StatLRU(int(2.5 * size))
    a, b, c, d = paths
    assert lru.load(a, _decode)[1] and lru.load(b, _decode)[1]
    assert not lru.load(a, _decode)[1]   # hit: a is now most recent
    assert lru.load(c, _decode)[1]       # evicts b, the least recent
    assert lru.nbytes <= lru.budget
    assert not lru.load(a, _decode)[1]
    assert not lru.load(c, _decode)[1]
    assert lru.load(b, _decode)[1]       # was evicted: decoded cold again
    assert lru.nbytes <= lru.budget
    # a graph bigger than the whole budget is served, never kept
    tiny = StatLRU(size // 2)
    g, cold = tiny.load(d, _decode)
    assert cold and g.n == 200 and tiny.nbytes == 0
    assert tiny.load(d, _decode)[1]


def test_lru_keys_on_file_identity(tmp_path):
    """A file replaced at the same path (new inode) misses the cache."""
    rng = np.random.default_rng(3)
    path = str(tmp_path / "g.idx")
    x1, x2 = rng.normal(size=(2, 40, 4)).astype(np.float32)
    lru = StatLRU(1 << 30)
    _write_graph(path, _graph_table(x1))
    g1, _ = lru.load(path, _decode)
    assert not lru.load(path, _decode)[1]
    _write_graph(path, _graph_table(x2))
    g2, cold = lru.load(path, _decode)
    assert cold and np.array_equal(g2.raw, x2)
    assert np.array_equal(g1.raw, x1)  # the old graph was never mutated


def _brute(vecs, q, k):
    xn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = xn @ (q / np.linalg.norm(q))
    return sorted(range(len(vecs)), key=lambda i: (-sims[i], i))[:k]


def test_recreated_dataset_returns_new_neighbours(tmp_path):
    root = str(tmp_path / "r.lance")
    for seed in (1, 2):
        shutil.rmtree(root, ignore_errors=True)
        vecs = np.random.default_rng(seed).normal(
            size=(120, 6)).astype(np.float32)
        ln.write_native_dataset(root, {"vec_id": list(range(120)),
                                       "vector": vecs.tolist()})
        ln.write_native_hnsw_index(root, "vector")
        q = vecs[[4, 60]] + 0.01
        for _ in range(2):  # a cold and a warm search
            res = ln.native_hnsw_search(root, q, k=5, ef_search=200,
                                        column="vector")
            assert [r["neighbors"] for r in res] == [
                _brute(vecs, qv, 5) for qv in q]


def test_delete_after_cached_search_is_masked(tmp_path):
    root = str(tmp_path / "d.lance")
    vecs = np.random.default_rng(5).normal(size=(300, 8)).astype(
        np.float32)
    ln.write_native_dataset(root, {"vec_id": list(range(300)),
                                   "vector": vecs.tolist()})
    ln.write_native_hnsw_index(root, "vector", m=4, ef_construction=16)
    first = ln.native_hnsw_search(root, vecs[[42]], k=3, ef_search=8,
                                  column="vector")
    assert first[0]["neighbors"][0] == 42
    assert first[0]["graphs_decoded"] == 1
    ln.native_delete(root, {0: [42]})
    after = ln.native_hnsw_search(root, vecs[[42]], k=3, ef_search=8,
                                  column="vector")
    assert after[0]["graphs_decoded"] == 0  # served from the cache
    assert 42 not in after[0]["neighbors"]
    assert len(after[0]["neighbors"]) == 3


def test_ivf_hnsw_extend_searches_the_new_run_graph(tmp_path):
    root = str(tmp_path / "e.lance")
    vecs = np.random.default_rng(6).normal(size=(260, 8)).astype(
        np.float32)
    ln.write_native_dataset(root, {"vec_id": list(range(200)),
                                   "vector": vecs[:200].tolist()})
    ln.write_native_ivf_hnsw_index(root, "vector", n_cells=2, sample=200)
    kw = dict(k=3, nprobe=2, ef_search=300, column="vector")
    r0 = ln.native_ivf_hnsw_search(root, vecs[[230]], **kw)
    assert r0[0]["graphs_decoded"] == r0[0]["graphs_searched"] == 2
    assert ln.native_ivf_hnsw_search(
        root, vecs[[230]], **kw)[0]["graphs_decoded"] == 0
    ln.append_native_rows(root, {"vec_id": list(range(200, 260)),
                                 "vector": vecs[200:].tolist()})
    ln.extend_native_ivf_hnsw_index(root, "vector")
    r1 = ln.native_ivf_hnsw_search(root, vecs[[230]], **kw)
    assert r1[0]["neighbors"][0] == (1 << 32) | 30
    assert r1[0]["graphs_searched"] > r0[0]["graphs_searched"]
    # only the extend's new run graphs were decoded cold
    assert r1[0]["graphs_decoded"] == (
        r1[0]["graphs_searched"] - r0[0]["graphs_searched"])


def test_flat_search_reports_cold_decodes(tmp_path):
    root = str(tmp_path / "f.lance")
    vecs = np.random.default_rng(7).normal(size=(200, 8)).astype(
        np.float32)
    ln.write_native_dataset(root, {"vec_id": list(range(100)),
                                   "vector": vecs[:100].tolist()})
    ln.append_native_rows(root, {"vec_id": list(range(100, 200)),
                                 "vector": vecs[100:].tolist()})
    ln.write_native_hnsw_index(root, "vector")
    runs = [ln.native_hnsw_search(root, vecs[[3]], k=2, column="vector")[0]
            for _ in range(2)]
    assert runs[0]["shards_searched"] == 2
    assert [r["graphs_decoded"] for r in runs] == [2, 0]
    assert runs[0]["neighbors"] == runs[1]["neighbors"]

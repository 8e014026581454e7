"""Persisted IVF vector-index sidecars — the Lance vector-index analogue.

Lance's flagship capability is persisted ANN indexes (IVF_FLAT / IVF_PQ)
stored under `_indices/` and opened through the session index cache the
reference sizes explicitly (`docs/src/performance.md:21-58` "Index Cache:
Caches opened vector indices"; fixture `example_db/test_table4.lance/
_indices/`). The reference connector consumes those indexes below its scan;
this module re-expresses them Spark-first:

    <table>.lance/_indices/<column>.ivf/
      index.json                     # {index_type, n_cells, dim, pq_m, ...}
      centroids.parquet              # coarse codebook (cell, centroid)
      pq_codebooks.parquet           # IVF_PQ only: (sub, code, centroid)
      frags/<data-file-basename>     # per-fragment postings, SORTED BY cell

Each per-fragment postings file holds `(cell, row_index, vec | pq_code)`
sorted by cell and written with small row groups, so probing `nprobe` of
`n_cells` cells is a row-group-stats-pruned read of ~nprobe/n_cells of the
index bytes — the IO shape of Lance's IVF partitions (the index stores its
own copy of the vectors/codes precisely so a probe never rescans the data
file). IVF_PQ stores 8-bit product-quantization codes (m bytes/vector
instead of 4·dim) and refines the ADC shortlist against exact vectors with
a bounded `read_rows_by_index` on the data file.

Scale shape:
  * train: driver k-means over a bounded, deterministic sample (the
    standard IVF recipe — FAISS/Lance train on samples too); cost is
    independent of corpus size.
  * build: one Spark task per fragment (mapInPandas over the fragment
    list) — each task sorts only its own fragment's assignments, no
    shuffle, exactly like the scalar-index build (`index.py`).
  * search: fragment-parallel tasks read only probed-cell row groups of
    the postings files, score locally, emit per-fragment top-k; the global
    merge is a tiny (fragments x queries x k)-row window. Deletion vectors
    mask postings at read time, so MoR deletes never resurrect neighbors.
  * maintenance: compaction writes fresh fragment files; missing postings
    are rebuilt from the PERSISTED codebooks (ensure_vector_index_files) —
    centroids are never retrained behind the user's back.
"""

from __future__ import annotations

import functools
import json
import os
import uuid
from dataclasses import dataclass

from .index import INDICES_DIR
from .statcache import StatLRU

VINDEX_PROP = "vector_indexes"  # manifest.properties: {column: meta dict}
VINDEX_ROW_GROUP = 1024


def vindex_dir(column: str) -> str:
    return os.path.join(INDICES_DIR, f"{column}.ivf")


def vindex_meta_rel(column: str) -> str:
    return os.path.join(vindex_dir(column), "index.json")


def centroids_rel(column: str) -> str:
    return os.path.join(vindex_dir(column), "centroids.parquet")


def pq_codebooks_rel(column: str) -> str:
    return os.path.join(vindex_dir(column), "pq_codebooks.parquet")


def postings_rel(column: str, frag_rel_path: str) -> str:
    return os.path.join(vindex_dir(column), "frags",
                        os.path.basename(frag_rel_path))


def _atomic_write_table(tbl, out_path: str, row_group_size: int) -> None:
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(out_path), f".tmp-{uuid.uuid4().hex}")
    pq.write_table(tbl, tmp, row_group_size=row_group_size)
    os.replace(tmp, out_path)


# Row-chunk bound for nearest's [rows, k, dim] distance temporaries: one
# shot over an 8,192-row sample and 256 128-dim centroids built 1 GiB each.
NEAREST_CHUNK_BYTES = 64 << 20


def nearest(data, cent, n: int | None = None):
    """Per row of ``data``, the index of its nearest row of ``cent``
    (``n`` None: ``d.argmin(axis=1)``) or of its ``n`` nearest
    (``np.argsort(d, axis=1)[:, :n]``), where ``d`` is the squared L2
    distance ``((data[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)``.
    ``d`` is evaluated over row chunks so each [rows, k, dim] temporary
    stays under ``NEAREST_CHUNK_BYTES``; each row's distances are computed
    as in the one-shot expression, so the result is the same. The one
    nearest-centroid kernel of both storage planes: IVF assignment,
    k-means and PQ encoding all go through it."""
    import numpy as np

    k, dim = cent.shape
    per_row = k * dim * np.result_type(data, cent).itemsize
    step = max(1, NEAREST_CHUNK_BYTES // max(1, per_row))
    shape = (len(data),) if n is None else (len(data), min(n, k))
    out = np.empty(shape, dtype=np.intp)
    for i in range(0, len(data), step):
        x = data[i:i + step]
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        out[i:i + step] = (d.argmin(axis=1) if n is None
                           else np.argsort(d, axis=1)[:, :n])
    return out


def lloyd(x, cent, iters: int):
    """``iters`` Lloyd iterations from ``cent`` (updated in place and
    returned): assign every row of ``x`` to its nearest centroid, then
    move each centroid that got rows to their mean; an empty cell keeps
    its centroid. Callers own the initialisation and the dtype."""
    for _ in range(iters):
        assign = nearest(x, cent)
        for c in range(len(cent)):
            m = assign == c
            if m.any():
                cent[c] = x[m].mean(axis=0)
    return cent


def pq_encode(resid, books):
    """uint8 [rows, nsub] product-quantization codes of ``resid``: column
    ``s`` is the nearest code of ``books[s]`` (shape [nsub, codes, sub])
    to the ``s``-th ``sub``-wide slice of each row."""
    import numpy as np

    nsub, _codes, sub = books.shape
    codes = np.empty((len(resid), nsub), dtype=np.uint8)
    for s in range(nsub):
        codes[:, s] = nearest(resid[:, s * sub:(s + 1) * sub], books[s])
    return codes


def kmeans_deterministic(x, n_cells: int, iters: int):
    """Deterministic k-means in float64: first-n init, fixed iteration
    count. Trains the own-format coarse quantizer, every PQ
    sub-quantizer and `operators/similarity.train_ivf_centroids`, so an
    index built twice from the same sample is byte-identical."""
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    if len(x) < n_cells:
        raise ValueError(f"sample ({len(x)}) smaller than n_cells ({n_cells})")
    return lloyd(x, x[:n_cells].copy(), iters)


def nearest_cells(vecs, centroids, n: int = 1):
    """(len(vecs), n) int32 matrix of the n nearest centroid ids (n=1
    keeps argmin's first-index tie rule)."""
    import numpy as np

    m = np.asarray(vecs, dtype=np.float64)
    if n == 1:
        return nearest(m, centroids).astype("int32")[:, None]
    return nearest(m, centroids, n).astype("int32")


# --------------------------------------------------------------------- train
def train_index(
    sample_vecs,
    n_cells: int,
    iters: int = 5,
    index_type: str = "IVF_FLAT",
    pq_m: int = 8,
    pq_iters: int = 5,
):
    """Driver-side training on a bounded sample. Returns
    (centroids, pq_codebooks | None); pq_codebooks has shape
    (pq_m, 256, dim/pq_m) — each sub-quantizer trained on the RESIDUAL of
    the sample to its coarse centroid, the standard IVF_PQ formulation."""
    import numpy as np

    x = np.asarray(sample_vecs, dtype=np.float64)
    centroids = kmeans_deterministic(x, n_cells, iters)
    if index_type == "IVF_FLAT":
        return centroids, None
    if index_type != "IVF_PQ":
        raise ValueError(f"unknown index_type {index_type!r}")
    dim = x.shape[1]
    if dim % pq_m:
        raise ValueError(f"dim {dim} not divisible by pq_m {pq_m}")
    sub = dim // pq_m
    resid = x - centroids[nearest(x, centroids)]
    n_codes = min(256, len(x))
    books = np.stack([
        kmeans_deterministic(resid[:, i * sub:(i + 1) * sub], n_codes, pq_iters)
        for i in range(pq_m)
    ])
    return centroids, books


def write_index_meta(
    root: str, column: str, centroids, pq_books, index_type: str
) -> dict:
    """Persist codebooks + metadata; returns the meta dict recorded in the
    manifest property (small scalars only — codebooks live in parquet)."""
    import numpy as np
    import pyarrow as pa

    n_cells, dim = centroids.shape
    _atomic_write_table(
        pa.table({
            "cell": pa.array(range(n_cells), type=pa.int32()),
            "centroid": pa.array([c.tolist() for c in centroids],
                                 type=pa.list_(pa.float64())),
        }),
        os.path.join(root, centroids_rel(column)), VINDEX_ROW_GROUP,
    )
    meta = {"index_type": index_type, "n_cells": int(n_cells),
            "dim": int(dim), "metric": "cosine"}
    if pq_books is not None:
        pq_m, n_codes, sub = pq_books.shape
        rows = [(i, j, pq_books[i, j].tolist())
                for i in range(pq_m) for j in range(n_codes)]
        _atomic_write_table(
            pa.table({
                "sub": pa.array([r[0] for r in rows], type=pa.int32()),
                "code": pa.array([r[1] for r in rows], type=pa.int32()),
                "centroid": pa.array([r[2] for r in rows],
                                     type=pa.list_(pa.float64())),
            }),
            os.path.join(root, pq_codebooks_rel(column)), VINDEX_ROW_GROUP,
        )
        meta.update(pq_m=int(pq_m), pq_codes=int(n_codes), pq_sub=int(sub))
    out = os.path.join(root, vindex_meta_rel(column))
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = out + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, out)
    return meta


def load_index_meta(root: str, column: str) -> dict:
    with open(os.path.join(root, vindex_meta_rel(column))) as f:
        return json.load(f)


def load_centroids(root: str, column: str):
    """(n_cells, dim) float64 matrix, row i = centroid of cell i."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(root, centroids_rel(column)))
    cells = t.column("cell").to_numpy()
    vecs = t.column("centroid").to_pylist()
    return np.stack([
        np.asarray(vecs[i], dtype=np.float64) for i in cells.argsort()
    ])


def load_pq_codebooks(root: str, column: str, meta: dict):
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(root, pq_codebooks_rel(column)))
    books = np.zeros((meta["pq_m"], meta["pq_codes"], meta["pq_sub"]))
    subs = t.column("sub").to_numpy()
    codes = t.column("code").to_numpy()
    cents = t.column("centroid").to_pylist()
    for s, c, v in zip(subs, codes, cents):
        books[s, c] = v
    return books


# --------------------------------------------------------------------- build
def build_fragment_postings(
    root: str,
    frag_rel_path: str,
    column: str,
    centroids,
    pq_books=None,
    row_group_size: int = VINDEX_ROW_GROUP,
) -> str:
    """Executor-side: one fragment's postings file — (cell, row_index,
    vec | pq_code) sorted by cell. Atomic + idempotent under task retries,
    same contract as `index.build_fragment_index`."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(os.path.join(root, frag_rel_path))
    if column not in pf.schema_arrow.names:
        # fragment predates a metadata-only ADD COLUMN — no postings; the
        # search treats absent postings as an empty cell set
        return None
    data = pq.read_table(os.path.join(root, frag_rel_path), columns=[column])
    raw = data.column(column).to_pylist()
    # NULL vectors are legal (enforce_vector_columns allows them); they are
    # simply unindexed — keep the ORIGINAL row indices for the non-null
    # rows so postings row_index still addresses the fragment file.
    row_idx = np.array(
        [i for i, v in enumerate(raw) if v is not None], dtype=np.int64
    )
    vecs = (
        np.array([np.asarray(raw[i], dtype=np.float64) for i in row_idx])
        if len(row_idx)
        else np.zeros((0, centroids.shape[1]), dtype=np.float64)
    )
    cells = nearest(vecs, centroids).astype(np.int32)
    order = np.argsort(cells, kind="stable")
    cols = {
        "cell": pa.array(cells[order], type=pa.int32()),
        "row_index": pa.array(row_idx[order]),
    }
    if pq_books is None:
        cols["vec"] = pa.array(
            [vecs[i].astype(np.float32).tolist() for i in order],
            type=pa.list_(pa.float32()),
        )
    else:
        codes = pq_encode(vecs - centroids[cells], pq_books)
        cols["pq_code"] = pa.array(
            [codes[i].tobytes() for i in order], type=pa.binary())
    rel = postings_rel(column, frag_rel_path)
    _atomic_write_table(pa.table(cols), os.path.join(root, rel), row_group_size)
    return rel


# -------------------------------------------------------------------- search
def probe_postings(postings_path: str, cells):
    """Row-group-stats-pruned read of the probed cells from one postings
    file (sorted by cell, so each cell spans O(1) contiguous row groups)."""
    import pyarrow.dataset as pads

    ds = pads.dataset(postings_path, format="parquet")
    return ds.to_table(filter=pads.field("cell").isin([int(c) for c in cells]))


def search_fragment(
    root: str,
    frag_rel_path: str,
    column: str,
    centroids,
    pq_books,
    query_ids,
    query_vecs,
    query_cells,
    k: int,
    id_columns: list[str],
    deletion_indices=None,
    refine: int = 0,
    allowed_indices=None,
):
    """One fragment's local top-k per query. Returns a list of python rows
    (query_id, *id_column values, cosine, row_index) plus the count of
    postings rows actually decoded (the bounded-IO proof).

    IVF_FLAT scores exact cosine straight from the postings (the index
    carries the vectors). IVF_PQ scores by asymmetric distance (per-query
    lookup tables over the residual codebooks), keeps `refine` candidates,
    and re-scores those exactly with a bounded read of the data file."""
    import numpy as np

    from .index import read_rows_by_index

    union_cells = sorted({int(c) for row in query_cells for c in row})
    postings_path = os.path.join(root, postings_rel(column, frag_rel_path))
    if not os.path.exists(postings_path):
        # consult-if-present: fragments that predate the column (or whose
        # maintenance rebuild hasn't run) contribute no candidates
        return [], 0
    t = probe_postings(postings_path, union_cells)
    postings_read = len(t)
    if postings_read == 0:
        return [], 0
    cells = t.column("cell").to_numpy()
    row_idx = t.column("row_index").to_numpy()
    if allowed_indices is not None:
        # PREFILTER (filtered ANN): only rows passing the metadata predicate
        # compete for top-k — recall over the filtered population is the
        # same as unfiltered recall, unlike post-filtering a shortlist
        ok = np.isin(row_idx, np.asarray(allowed_indices, dtype=np.int64))
        cells, row_idx = cells[ok], row_idx[ok]
        t = t.take(np.flatnonzero(ok))
        if len(row_idx) == 0:
            return [], postings_read
    if deletion_indices is not None and len(deletion_indices):
        live = ~np.isin(row_idx, np.asarray(deletion_indices, dtype=np.int64))
        cells, row_idx = cells[live], row_idx[live]
        t = t.take(np.flatnonzero(live))
    if len(row_idx) == 0:
        return [], postings_read
    qm = np.asarray(query_vecs, dtype=np.float64)
    qn = np.linalg.norm(qm, axis=1)
    out_rows = []

    if pq_books is None:
        vecs = np.array([np.asarray(v, np.float64)
                         for v in t.column("vec").to_pylist()])
        vn = np.linalg.norm(vecs, axis=1)
        per_query_hits = []
        for qi in range(len(qm)):
            mask = np.isin(cells, np.asarray(query_cells[qi], dtype=np.int32))
            idx = np.flatnonzero(mask)
            if not idx.size:
                per_query_hits.append((np.empty(0, np.int64), np.empty(0)))
                continue
            cos = (vecs[idx] @ qm[qi]) / (vn[idx] * qn[qi])
            top = np.argsort(-cos, kind="stable")[:k]
            per_query_hits.append((row_idx[idx[top]], cos[top]))
        need = np.unique(np.concatenate(
            [h[0] for h in per_query_hits if h[0].size] or
            [np.empty(0, np.int64)]))
    else:
        pq_m, _, sub = pq_books.shape
        codes = np.frombuffer(
            b"".join(t.column("pq_code").to_pylist()), dtype=np.uint8
        ).reshape(len(row_idx), pq_m)
        per_query_short = []
        for qi in range(len(qm)):
            mask = np.isin(cells, np.asarray(query_cells[qi], dtype=np.int32))
            idx = np.flatnonzero(mask)
            if not idx.size:
                per_query_short.append(np.empty(0, np.int64))
                continue
            # ADC: approx dot(q, v) = dot(q, centroid[cell]) + LUT over the
            # residual codes; enough to rank a shortlist for exact refine
            approx = qm[qi] @ centroids[cells[idx]].T
            for i in range(pq_m):
                lut = pq_books[i] @ qm[qi][i * sub:(i + 1) * sub]
                approx = approx + lut[codes[idx, i]]
            keep = np.argsort(-approx, kind="stable")[:max(refine, k)]
            per_query_short.append(row_idx[idx[keep]])
        need = np.unique(np.concatenate(
            [s for s in per_query_short if s.size] or [np.empty(0, np.int64)]))

    if not need.size:
        return [], postings_read
    # bounded refinement / id fetch: only the row groups holding shortlisted
    # rows are decoded from the data file
    fetch_cols = list(dict.fromkeys(list(id_columns) + [column]))
    tbl, _ = read_rows_by_index(
        os.path.join(root, frag_rel_path), need.tolist(), columns=fetch_cols
    )
    pos_of = {int(r): i for i, r in enumerate(need)}
    exact = np.array([np.asarray(v, np.float64)
                      for v in tbl.column(column).to_pylist()])
    en = np.linalg.norm(exact, axis=1)
    id_arrays = [tbl.column(c).to_pylist() for c in id_columns]

    if pq_books is None:
        for qi in range(len(qm)):
            hits_idx, hits_cos = per_query_hits[qi]
            for r, cos in zip(hits_idx, hits_cos):
                p = pos_of[int(r)]
                out_rows.append(
                    (query_ids[qi], *(a[p] for a in id_arrays),
                     float(cos), int(r))
                )
    else:
        for qi in range(len(qm)):
            short = per_query_short[qi]
            if not short.size:
                continue
            p = np.array([pos_of[int(r)] for r in short])
            cos = (exact[p] @ qm[qi]) / (en[p] * qn[qi])
            top = np.argsort(-cos, kind="stable")[:k]
            for j in top:
                out_rows.append(
                    (query_ids[qi], *(a[p[j]] for a in id_arrays),
                     float(cos[j]), int(short[j]))
                )
    return out_rows, postings_read


# --------------------------------------------------------------------- HNSW
# Per-fragment HNSW graphs — the latency-optimal ANN index family,
# complementing IVF (which is IO-optimal: it reads ~nprobe/n_cells of the
# index; HNSW loads a whole fragment's graph but computes far fewer
# distances). Deterministic construction: insertion in row order, levels
# from a hash-derived uniform (no RNG), greedy+beam search identical on
# every run — so recall gates replay exactly. The sidecar serializes graph
# + float32 vectors per fragment; search is fragment-parallel with a tiny
# global top-k merge, the disk-ANN-style sharded-graph layout.

HNSW_M = 8           # neighbors per node per level
HNSW_EF_CONSTRUCTION = 64
HNSW_EF_SEARCH = 48
HNSW_BUILD_BATCH = 16  # frontier nodes expanded per vectorized round
# Graph insertion is sequential per graph; shards bound it so a big
# fragment's index builds as independent parallel tasks (scale unit).
HNSW_SHARD_ROWS = 16384


def _hash_uniform(i: int) -> float:
    """Deterministic pseudo-uniform in (0, 1) from a row index (md5-based,
    same provenance as h32) — replaces HNSW's RNG level draw."""
    import hashlib

    h = int(hashlib.md5(f"hnsw:{i}".encode()).hexdigest()[:8], 16)
    return (h + 1) / (0xFFFFFFFF + 2)


def build_hnsw(vecs, m: int = HNSW_M, ef: int = HNSW_EF_CONSTRUCTION,
               batch: int = HNSW_BUILD_BATCH):
    """Construct the layered graph for one fragment's vectors (cosine via
    normalized dot). Returns (levels, neighbors, entry): levels[i] = top
    level of node i; neighbors = dict[(level, i)] -> list[int].

    Throughput-shaped for large fragments: every distance evaluation is a
    BATCHED numpy matvec (all of a node's unvisited neighbors scored in
    one `xn[nbs] @ q`), the beam is a pair of heaps instead of a
    sort-per-insert list, and the bidirectional prune ranks with one
    vectorized lexsort. Deterministic: the level draw is hash-based, heap
    tie-handling is reproducible for distinct node ids, and the prune's
    tie-break is (sim desc, node asc) — identical inputs rebuild an
    identical graph."""
    import heapq
    import math

    import numpy as np

    n = len(vecs)
    x = np.asarray(vecs, dtype=np.float32)
    norms = np.linalg.norm(x, axis=1)
    norms[norms == 0] = 1.0
    xn = np.ascontiguousarray(x / norms[:, None])
    ml = 1.0 / math.log(max(2, m))
    levels = [int(-math.log(_hash_uniform(i)) * ml) for i in range(n)]
    # Upper layers (>=1) hold ~n/m^lvl nodes — a dict of lists is fine.
    # Layer 0 carries ~95% of the search work: fixed-capacity int32
    # adjacency (n x m, -1-filled) + counts, so a whole frontier batch's
    # neighborhoods gather as one fancy-index with no Python per-edge work.
    neighbors: dict[tuple[int, int], list[int]] = {}
    adj0 = np.full((n, m), -1, dtype=np.int32)
    cnt0 = np.zeros(n, dtype=np.int32)
    vis = np.zeros(n, dtype=np.int64)  # generation stamps (no per-search set)
    gen = 0
    entry = 0
    max_level = -1

    def _search_layer(q, ep, level, width):
        """Beam search on an UPPER layer (>=1, tiny node population) from
        entry points `ep`; returns up to `width` (sim, node) best, sorted
        desc (ties: node id asc)."""
        visited = set(ep)
        sims0 = xn[ep] @ q
        cand = [(-float(s), e) for s, e in zip(sims0, ep)]
        heapq.heapify(cand)
        best = [(float(s), e) for s, e in zip(sims0, ep)]
        heapq.heapify(best)
        while len(best) > width:
            heapq.heappop(best)
        while cand:
            negs, c = heapq.heappop(cand)
            if len(best) >= width and -negs < best[0][0]:
                break
            nbs = [nb for nb in neighbors.get((level, c), ())
                   if nb not in visited]
            if not nbs:
                continue
            visited.update(nbs)
            sims = (xn[nbs] @ q).tolist()
            thr = best[0][0] if len(best) >= width else -math.inf
            for nb, s in zip(nbs, sims):
                if len(best) < width or s > thr:
                    heapq.heappush(cand, (-s, nb))
                    heapq.heappush(best, (s, nb))
                    if len(best) > width:
                        heapq.heappop(best)
                        thr = best[0][0]
        return sorted(best, key=lambda t: (-t[0], t[1]))

    def _search_level0(q, ep, width, batch=batch):
        """Layer-0 beam with BATCHED expansion: pop up to `batch` frontier
        nodes, gather all their neighborhoods in one fancy-index, stamp
        visited via the generation array, and score every fresh neighbor
        in a single matvec. A popped candidate below the beam floor is
        discarded permanently (the floor only rises, so it could never be
        expanded later either) — expansion ORDER relaxes vs the canonical
        one-pop loop but the visit set and termination rule are the same."""
        nonlocal gen
        gen += 1
        eps = np.asarray(ep, dtype=np.int64)
        vis[eps] = gen
        sims0 = xn[eps] @ q
        cand = [(-float(s), int(e)) for s, e in zip(sims0, eps)]
        heapq.heapify(cand)
        best = [(float(s), int(e)) for s, e in zip(sims0, eps)]
        heapq.heapify(best)
        while len(best) > width:
            heapq.heappop(best)
        while cand:
            pops = []
            while cand and len(pops) < batch:
                negs, c = heapq.heappop(cand)
                if len(best) >= width and -negs < best[0][0]:
                    break
                pops.append(c)
            if not pops:
                break
            rows = adj0[np.asarray(pops, dtype=np.int64)]
            flat = rows[rows >= 0]
            if flat.size == 0:
                continue
            fresh = np.unique(flat[vis[flat] != gen])
            if fresh.size == 0:
                continue
            vis[fresh] = gen
            sims = xn[fresh] @ q
            full = len(best) >= width
            if full:
                # vectorized floor cut: anything at or below the current
                # beam floor can never enter `best` nor be expanded later
                keep = sims > best[0][0]
                fresh, sims = fresh[keep], sims[keep]
                if fresh.size == 0:
                    continue
            # best-first insertion raises the floor as early as possible,
            # so later (worse) neighbors fail the cheap `s > thr` test
            ord_ = np.argsort(-sims, kind="stable")
            thr = best[0][0] if full else -math.inf
            for nb, s in zip(fresh[ord_].tolist(), sims[ord_].tolist()):
                if len(best) < width:
                    heapq.heappush(cand, (-s, nb))
                    heapq.heappush(best, (s, nb))
                elif s > thr:
                    heapq.heappush(cand, (-s, nb))
                    heapq.heappushpop(best, (s, nb))
                    thr = best[0][0]
        return sorted(best, key=lambda t: (-t[0], t[1]))

    for i in range(n):
        li = levels[i]
        if max_level < 0:  # first node
            for lvl in range(1, li + 1):
                neighbors[(lvl, i)] = []
            entry, max_level = i, li
            continue
        q = xn[i]
        ep = [entry]
        for lvl in range(max_level, li, -1):
            if lvl == 0:
                ep = [_search_level0(q, ep, 1)[0][1]]
            else:
                ep = [_search_layer(q, ep, lvl, 1)[0][1]]
        for lvl in range(min(max_level, li), 0, -1):
            found = _search_layer(q, ep, lvl, ef)
            chosen = [e for _, e in found[:m]]
            neighbors[(lvl, i)] = list(chosen)
            for e in chosen:  # bidirectional, pruned to m by similarity
                lst = neighbors.setdefault((lvl, e), [])
                if i not in lst:
                    lst.append(i)
                    if len(lst) > m:
                        arr = np.array(lst)
                        sims_e = xn[arr] @ xn[e]
                        order = np.lexsort((arr, -sims_e))[:m]
                        neighbors[(lvl, e)] = [int(arr[j]) for j in order]
            ep = [e for _, e in found]
        # layer 0 (always inserted)
        found = _search_level0(q, ep, ef)
        chosen = [e for _, e in found[:m]]
        adj0[i, : len(chosen)] = chosen
        cnt0[i] = len(chosen)
        for e in chosen:  # bidirectional, pruned to m by similarity
            k_e = int(cnt0[e])
            row = adj0[e]
            if i in row[:k_e]:
                continue
            if k_e < m:
                row[k_e] = i
                cnt0[e] = k_e + 1
            else:
                cand_ids = np.append(row[:k_e], np.int32(i))
                sims_e = xn[cand_ids] @ xn[e]
                order = np.lexsort((cand_ids, -sims_e))[:m]
                adj0[e] = cand_ids[order]
        if li > max_level:
            for lvl in range(max_level + 1, li + 1):
                neighbors.setdefault((lvl, i), [])
            entry, max_level = i, li
    # Bootstrap repair: EARLY nodes ran their forward searches against a
    # graph smaller than the beam (the first node against an EMPTY one),
    # so their level-0 adjacency reflects whatever happened to exist at
    # insert time; semantic neighbors inserted later can only link back
    # if THEIR build-time searches reach the early node — a
    # chicken-and-egg that can strand early nodes outside their true
    # neighborhoods entirely (observed: an exact-duplicate query for the
    # first node missing at any beam width). Re-searching the early
    # cohort against the FINISHED graph and linking bidirectionally
    # closes the hole at O(ef) extra searches.
    for j in range(min(n - 1, 2 * ef)):
        qj = xn[j]
        ep = [entry]
        for lvl in range(max_level, 0, -1):
            ep = [_search_layer(qj, ep, lvl, 1)[0][1]]
        found = _search_level0(qj, ep, ef)
        chosen = [e for _, e in found if e != j][:m]
        have = set(adj0[j, : int(cnt0[j])].tolist())
        merged = sorted(have | set(chosen))
        if len(merged) > m:
            arr = np.array(merged, dtype=np.int32)
            simsj = xn[arr] @ qj
            order = np.lexsort((arr, -simsj))[:m]
            merged = [int(arr[jj]) for jj in order]
        adj0[j, : len(merged)] = merged
        cnt0[j] = len(merged)
        for e in chosen:
            k_e = int(cnt0[e])
            row = adj0[e]
            if j in row[:k_e]:
                continue
            if k_e < m:
                row[k_e] = j
                cnt0[e] = k_e + 1
            else:
                cand_ids = np.append(row[:k_e], np.int32(j))
                sims_e = xn[cand_ids] @ xn[e]
                order = np.lexsort((cand_ids, -sims_e))[:m]
                adj0[e] = cand_ids[order]
    for i in range(n):
        neighbors[(0, i)] = [int(v) for v in adj0[i, : int(cnt0[i])]]
    return levels, neighbors, entry


def hnsw_rel(column: str, frag_rel_path: str) -> str:
    return os.path.join(
        INDICES_DIR, f"{column}.hnsw", os.path.basename(frag_rel_path)
    )


def hnsw_n_shards(physical_rows: int) -> int:
    return max(1, -(-int(physical_rows) // HNSW_SHARD_ROWS))


def hnsw_shard_rel(
    column: str, frag_rel_path: str, shard: int, n_shards: int
) -> str:
    return hnsw_rel(column, frag_rel_path) + f".s{shard:04d}-of-{n_shards:04d}"


def hnsw_shard_files(root: str, column: str, frag_rel_path: str) -> list[str]:
    """Absolute paths of the fragment's COMPLETE HNSW shard set, oldest
    naming first: the sharded `.sK-of-N` files when every one of the N is
    present, else the legacy single-file sidecar, else [] (unindexed —
    consult-if-present). An incomplete shard set counts as unindexed: a
    torn build must not silently search half a fragment."""
    import glob

    base = os.path.join(root, hnsw_rel(column, frag_rel_path))
    shards = sorted(glob.glob(base + ".s*-of-*"))
    if shards:
        n = int(shards[0].rsplit("-of-", 1)[1])
        return shards if len(shards) == n else []
    return [base] if os.path.exists(base) else []


def build_fragment_hnsw(
    root: str, frag_rel_path: str, column: str,
    m: int = HNSW_M, ef: int = HNSW_EF_CONSTRUCTION,
    shard: int | None = None, n_shards: int | None = None,
) -> str | None:
    """Executor-side HNSW sidecar build. Each SHARD covers a contiguous
    ~HNSW_SHARD_ROWS row range of the fragment and gets its own layered
    graph file `<frag>.sK-of-N` — the scale unit: graph insertion is
    inherently sequential per graph, so a 1M-row fragment builds as N
    independent tasks instead of one 1M-insert loop (the driver fans
    (fragment, shard) pairs out as separate Spark tasks). Search probes
    every shard graph and merges by similarity; at the default shard size
    the per-shard beam cost keeps fragment search latency flat.

    `shard=None` builds every shard serially (compat path for direct
    calls and small fragments). Atomic + idempotent per shard;
    returns None when the column predates the fragment file."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(os.path.join(root, frag_rel_path))
    if column not in pf.schema_arrow.names:
        return None
    total = pf.metadata.num_rows
    n = hnsw_n_shards(total) if n_shards is None else int(n_shards)
    if shard is None:
        rel = None
        for s in range(n):
            rel = _build_hnsw_shard(root, frag_rel_path, column, s, n, m, ef)
        return rel
    return _build_hnsw_shard(
        root, frag_rel_path, column, int(shard), n, m, ef
    )


def _build_hnsw_shard(
    root: str, frag_rel_path: str, column: str,
    shard: int, n_shards: int, m: int, ef: int,
) -> str:
    """One shard's graph: row-group-bounded read of the shard's row range
    (never the whole fragment), NULL vectors skipped, node row_index =
    ORIGINAL fragment row position."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(root, frag_rel_path)
    pf = pq.ParquetFile(path)
    total = pf.metadata.num_rows
    span = -(-total // n_shards) if total else 0
    lo = min(shard * span, total)
    hi = min(lo + span, total)
    md = pf.metadata
    groups, g_start, off = [], None, 0
    for gi in range(md.num_row_groups):
        nr = md.row_group(gi).num_rows
        if off < hi and off + nr > lo:
            groups.append(gi)
            if g_start is None:
                g_start = off
        off += nr
    if groups:
        data = pf.read_row_groups(groups, columns=[column])
        data = data.slice(lo - g_start, hi - lo)
        raw = data.column(column).to_pylist()
    else:
        raw = []
    # NULL vectors are legal and simply unindexed; graph node ids are
    # positions in the non-null subset, and the sidecar's row_index column
    # carries the ORIGINAL fragment row index per node.
    row_idx = [lo + i for i, v in enumerate(raw) if v is not None]
    vecs = np.array(
        [np.asarray(raw[i - lo], dtype=np.float32) for i in row_idx]
    )
    n = len(row_idx)
    if n == 0:
        levels, neighbors, entry = [], {}, -1
    else:
        levels, neighbors, entry = build_hnsw(vecs, m, ef)
    adj = [
        ",".join(
            f"{lvl}:{nb}"
            for lvl in range(levels[i] + 1)
            for nb in neighbors.get((lvl, i), ())
        )
        for i in range(n)
    ]
    tbl = pa.table({
        "row_index": pa.array(row_idx, type=pa.int64()),
        "vec": pa.array([v.tolist() for v in vecs] if n else [],
                        type=pa.list_(pa.float32())),
        "level": pa.array(levels, type=pa.int32()),
        "adj": pa.array(adj, type=pa.string()),
        "is_entry": pa.array([i == entry for i in range(n)]),
    })
    rel = hnsw_shard_rel(column, frag_rel_path, shard, n_shards)
    _atomic_write_table(tbl, os.path.join(root, rel), VINDEX_ROW_GROUP)
    return rel


# Decoded shard graphs are served from one process-wide stat-keyed LRU
# (statcache.StatLRU, A18's index cache). The decoded form is numpy
# arrays only (~0.6 KB per 64-dim node), so the budget bounds real memory.
HNSW_CACHE_BYTES = 256 << 20


@dataclass(frozen=True, eq=False)
class HnswGraph:
    """One decoded shard graph; every array is read-only. Node ids are
    positions in the (non-null) indexed subset."""
    row_index: "np.ndarray"  # int64 (n,): node -> fragment row (or address)
    raw: "np.ndarray"        # float32 (n, d): stored vectors
    xn: "np.ndarray"         # float32 (n, d): unit-normalized vectors
    levels: "np.ndarray"     # int32 (n,): top level of each node
    entry: int
    indptr: tuple            # per level: int32 (n + 1,) CSR offsets
    indices: tuple           # per level: int32 neighbor ids, in file order
    dup_keys: "np.ndarray"   # uint64 (n,): sorted hashes of raw row bytes
    dup_nodes: "np.ndarray"  # int64 (n,): node of each dup_keys entry

    @property
    def n(self) -> int:
        return len(self.row_index)

    @property
    def nbytes(self) -> int:
        return sum(a.nbytes for a in (
            self.row_index, self.raw, self.xn, self.levels, self.dup_keys,
            self.dup_nodes, *self.indptr, *self.indices))

    def duplicates_of(self, v) -> list[int]:
        """Nodes whose stored float32 bytes equal ``v``'s, ascending."""
        import numpy as np

        bits = np.ascontiguousarray(v, dtype=np.float32).view(np.uint32)
        key = _row_keys(bits[None, :])[0]
        lo, hi = (int(np.searchsorted(self.dup_keys, key, side="left")),
                  int(np.searchsorted(self.dup_keys, key, side="right")))
        if lo == hi:
            return []
        cand = self.dup_nodes[lo:hi]  # ascending: the sort was stable
        same = (self.raw[cand].view(np.uint32) == bits).all(axis=1)
        return cand[same].tolist()


@functools.lru_cache(maxsize=None)
def _key_mult(dim: int):
    import numpy as np

    mult = np.random.default_rng(0x45A3).integers(
        1, 1 << 63, size=dim, dtype=np.uint64) | np.uint64(1)
    mult.flags.writeable = False
    return mult


def _row_keys(bits):
    """uint64 hash of each row of a (n, d) uint32 bit matrix (equal
    bytes, equal key; a collision only costs a byte compare)."""
    import numpy as np

    return (bits.astype(np.uint64) * _key_mult(bits.shape[1])).sum(
        axis=1, dtype=np.uint64)


def _decode_hnsw_graph(t) -> HnswGraph:
    """Vectorized decode of one graph table (row_index / vec / level /
    adj "lvl:nb,..." / is_entry). Every array is copied out of the Arrow
    buffers (a view would pin the whole file) and frozen."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = t.num_rows
    flat = t.column("vec").combine_chunks().flatten()
    dim = len(flat) // n if n else 0
    raw = flat.to_numpy(zero_copy_only=False).astype(
        np.float32).reshape(n, dim)
    norms = np.linalg.norm(raw, axis=1)
    norms[norms == 0] = 1.0
    xn = raw / norms[:, None]
    levels = np.array(t.column("level").to_numpy(), dtype=np.int32)
    entry = (int(np.flatnonzero(t.column("is_entry").to_numpy())[0])
             if n else -1)
    parts = pc.split_pattern(t.column("adj").combine_chunks(), ",")
    edges = pc.list_flatten(parts)
    owner = pc.list_parent_indices(parts).to_numpy()
    real = pc.not_equal(edges, "")  # an edgeless node splits to [""]
    pair = pc.split_pattern(edges.filter(real), ":")
    owner = owner[real.to_numpy(zero_copy_only=False)]
    lvl = pc.list_element(pair, 0).cast(pa.int32()).to_numpy()
    nbr = pc.list_element(pair, 1).cast(pa.int32()).to_numpy()
    top = max(int(levels.max()) if n else 0,
              int(lvl.max()) if len(lvl) else 0)
    indptr, indices = [], []
    for level in range(top + 1):
        on = lvl == level
        counts = np.bincount(owner[on], minlength=n)
        indptr.append(np.concatenate([[0], np.cumsum(counts)]).astype(
            np.int32))
        indices.append(nbr[on].astype(np.int32))
    keys = _row_keys(raw.view(np.uint32))
    order = np.argsort(keys, kind="stable")
    g = HnswGraph(
        row_index=np.array(t.column("row_index").to_numpy(), np.int64),
        raw=raw, xn=xn, levels=levels, entry=entry,
        indptr=tuple(indptr), indices=tuple(indices),
        dup_keys=keys[order], dup_nodes=order.astype(np.int64))
    for a in (g.row_index, g.raw, g.xn, g.levels, g.dup_keys, g.dup_nodes,
              *g.indptr, *g.indices):
        a.flags.writeable = False
    return g


_HNSW_GRAPHS = StatLRU(HNSW_CACHE_BYTES)


def hnsw_graph(path: str, read) -> tuple[HnswGraph, bool]:
    """The decoded graph at ``path`` from the process-wide LRU, and
    whether this call decoded it cold; ``read(path)`` returns the
    graph's Arrow table."""
    def decode(p):
        g = _decode_hnsw_graph(read(p))
        return g, g.nbytes
    return _HNSW_GRAPHS.load(path, decode)


def _search_hnsw_graph(
    g: HnswGraph, query_vecs, k: int, ef_search: int,
    deleted_rows=None, allowed_rows=None,
):
    """Beam-search one decoded shard graph for every query; returns a
    list (per query) of up to k (sim, row_index) hits, or None for an
    empty graph.

    deleted_rows / allowed_rows (int64 arrays, or None for no mask) speak
    in the graph's row_index values. The RESULT beam counts only ALLOWED
    candidates (blocked nodes still route) — standard filtered-HNSW — and
    when the allowed set is small an exact scan over it replaces routing
    entirely (recall over the filtered population then EQUALS unfiltered
    recall)."""
    import heapq

    import numpy as np

    n = g.n
    if n == 0:
        return None
    xn, ridx = g.xn, g.row_index
    blocked = None
    if deleted_rows is not None and len(deleted_rows):
        blocked = np.isin(ridx, np.asarray(deleted_rows, dtype=np.int64))
    if allowed_rows is not None:
        outside = ~np.isin(ridx, np.asarray(allowed_rows, dtype=np.int64))
        blocked = outside if blocked is None else blocked | outside
    if blocked is not None and blocked.any():
        allowed_nodes = np.flatnonzero(~blocked)
        blk = blocked.tolist()
    else:
        allowed_nodes = np.arange(n, dtype=np.int64)
        blk = None
    if len(allowed_nodes) == 0:
        return [[] for _ in range(len(query_vecs))]
    qm = np.asarray(query_vecs, dtype=np.float64)
    qnorm = np.linalg.norm(qm, axis=1)
    qnorm[qnorm == 0] = 1.0
    out = []
    # Selective-filter fallback: when few nodes remain allowed, one
    # vectorized matmul over them beats graph routing AND is exact.
    exact_fallback = len(allowed_nodes) <= max(4 * ef_search, 4 * k)
    top = int(g.levels.max())
    ptr0, ind0 = g.indptr[0], g.indices[0]
    for qi in range(len(qm)):
        q = (qm[qi] / qnorm[qi]).astype(np.float32)
        if exact_fallback:
            sims = xn[allowed_nodes] @ q
            order = np.lexsort((ridx[allowed_nodes], -sims))[:k]
            out.append(
                [(float(sims[j]), int(ridx[allowed_nodes[j]])) for j in order]
            )
            continue
        ep = g.entry
        for lvl in range(top, 0, -1):
            ptr, ind = g.indptr[lvl], g.indices[lvl]
            improved = True
            while improved:
                improved = False
                for nb in ind[ptr[ep]:ptr[ep + 1]].tolist():
                    if float(xn[nb] @ q) > float(xn[ep] @ q):
                        ep, improved = nb, True
        # level-0 beam: `best` holds ALLOWED candidates only (the result
        # beam); blocked nodes still enter `cand` and route. Termination
        # requires a full allowed beam — a selective filter therefore
        # widens exploration instead of silently returning < k hits.
        visited = {ep}
        ep_sim = float(xn[ep] @ q)
        cand = [(-ep_sim, ep)]
        best = [(ep_sim, ep)] if blk is None or not blk[ep] else []
        while cand:
            negs, c = heapq.heappop(cand)
            if len(best) >= ef_search and -negs < best[-1][0]:
                break
            for nb in ind0[ptr0[c]:ptr0[c + 1]].tolist():
                if nb in visited:
                    continue
                visited.add(nb)
                sim = float(xn[nb] @ q)
                if len(best) < ef_search or sim > best[-1][0]:
                    heapq.heappush(cand, (-sim, nb))
                    if blk is None or not blk[nb]:
                        best.append((sim, nb))
                        best.sort(key=lambda x: (-x[0], x[1]))
                        del best[ef_search:]
        # Exact-duplicate short-circuit: graph ROUTING can strand a
        # byte-identical twin on duplicate-dense corpora — an inherent
        # HNSW failure mode (the sf1 value sweep measured 1-2/15
        # self-match misses even at ef_search=256). Byte equality needs
        # no routing: every node's raw float32 bytes are hashed once per
        # decoded file (HnswGraph.dup_keys, cached with the graph), each
        # query probes it, and hits are force-merged into the beam result.
        dups = [i for i in g.duplicates_of(qm[qi])
                if blk is None or not blk[i]]
        if dups:
            seen = {i for _, i in best}
            best.extend(
                (float(xn[i] @ q), i) for i in dups if i not in seen)
            best.sort(key=lambda x: (-x[0], x[1]))
        out.append([(s, int(ridx[i])) for s, i in best[:k]])
    return out


def search_fragment_hnsw(
    root: str,
    frag_rel_path: str,
    column: str,
    query_ids,
    query_vecs,
    k: int,
    id_columns: list[str],
    deletion_indices=None,
    ef_search: int = HNSW_EF_SEARCH,
    allowed_indices=None,
    shard_paths=None,
):
    """One fragment's HNSW top-k per query: beam-search shard graphs (see
    build_fragment_hnsw for the sharding rationale), merge the per-shard
    hits by similarity, then resolve id columns with one bounded read of
    the data file. Returns (rows, n_indexed).

    `shard_paths=None` searches every shard of the fragment serially;
    the caller may instead pass an explicit subset — vector_search fans
    one Spark task out PER SHARD and merges globally, so big fragments
    search wide instead of deep."""
    from .index import read_rows_by_index

    if shard_paths is None:
        shard_paths = hnsw_shard_files(root, column, frag_rel_path)
    if not shard_paths:
        return [], 0
    import pyarrow.parquet as pq

    n_total = 0
    per_query = [[] for _ in range(len(query_ids))]
    for sp in shard_paths:
        g, _cold = hnsw_graph(sp, pq.read_table)
        n_total += g.n
        hits = _search_hnsw_graph(
            g, query_vecs, k, ef_search, deletion_indices, allowed_indices
        )
        if hits is None:
            continue
        for qi, h in enumerate(hits):
            per_query[qi].extend(h)
    hits_per_query = [
        sorted(h, key=lambda x: (-x[0], x[1]))[:k] for h in per_query
    ]
    need = sorted({r for hits in hits_per_query for _, r in hits})
    if not need:
        return [], n_total
    tbl, _ = read_rows_by_index(
        os.path.join(root, frag_rel_path), need, columns=list(id_columns)
    )
    pos_of = {r: j for j, r in enumerate(need)}
    id_arrays = [tbl.column(c).to_pylist() for c in id_columns]
    out_rows = []
    for qi, hits in enumerate(hits_per_query):
        for sim, r in hits:
            p = pos_of[r]
            out_rows.append(
                (query_ids[qi], *(a[p] for a in id_arrays), float(sim), r)
            )
    return out_rows, n_total

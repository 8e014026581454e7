"""The decoded postings-dictionary LRU (format/lance_native.py
``_fts_postings_locate``): the cached decode locates exactly like the
per-call string-parse decode it replaced, cached arrays are read-only
and bounded by a byte budget, a cache hit never serves a stale
dictionary or skips a deletion mask, and a lookup reads each
dictionary once per call on remote paths, which bypass the cache."""

from __future__ import annotations

import os
import shutil
import struct

import numpy as np
import pytest

import lance_trino_spark.format.lance_native as ln
from lance_trino_spark.format.statcache import StatLRU


def _reference_locate(path: str) -> tuple:
    """The per-call string-parse decode the cache replaced: ({token ->
    (body_offset, count)}, has_positions, skipmeta | None), skipmeta =
    (token_index_by_token, skip_prefix, sample_addrs, sample_cumtf)."""
    with open(path, "rb") as fh:
        fh.seek(0, os.SEEK_END)
        fsize = fh.tell()
        fh.seek(fsize - 16)
        tail = fh.read(16)
        assert tail[-4:] == b"LANC"
        pos = struct.unpack_from("<Q", tail, 0)[0]
        fh.seek(pos)
        metar = fh.read(fsize - pos)
    n = struct.unpack_from("<I", metar, 0)[0]
    meta = metar[4:4 + n]
    toks_raw = counts = offsets = None
    has_pos = False
    skip_counts = skip_addrs = skip_cumtf = None
    for f, _wt, v in ln.pb_items(meta):
        if f == 1:
            toks_raw = v
        elif f == 2:
            counts = ln._packed_varints(v)
        elif f == 3:
            offsets = ln._packed_varints(v)
        elif f == 4:
            has_pos = bool(v)
        elif f == 5:
            skip_counts = ln._packed_varints(v)
        elif f == 6:
            skip_addrs = np.frombuffer(v, dtype="<u8")
        elif f == 7:
            skip_cumtf = np.frombuffer(v, dtype="<u8")
    tokens = ln._dec_values_block("string", toks_raw, len(counts))
    skipmeta = None
    if skip_counts is not None and skip_addrs is not None \
            and skip_cumtf is not None:
        prefix = [0]
        for c in skip_counts:
            prefix.append(prefix[-1] + c)
        skipmeta = ({t: i for i, t in enumerate(tokens)}, prefix,
                    skip_addrs, skip_cumtf)
    return ({t: (offsets[i], counts[i]) for i, t in enumerate(tokens)},
            has_pos, skipmeta)


def _reference_skips(skipmeta, term: str):
    if skipmeta is None:
        return None
    by_tok, prefix, addrs, cumtf = skipmeta
    i = by_tok.get(term)
    if i is None:
        return None
    return addrs[prefix[i]:prefix[i + 1]], cumtf[prefix[i]:prefix[i + 1]]


def _docs(rng, n: int, vocab: int = 400) -> list[str]:
    words = [f"w{i}" for i in range(vocab)] + ["naïve", "日本", "x"]
    return [" ".join(rng.choice(words, size=int(rng.integers(1, 12))))
            for _ in range(n)]


def _mk(root: str, rng, n: int = 600) -> None:
    ln.write_native_dataset(root, {
        "doc_id": list(range(n)), "text": _docs(rng, n),
        "source": [["web", "news", "wiki"][i % 3] for i in range(n)]})


def _postings_files(root: str) -> list[str]:
    out = []
    for idx in ln.list_native_indices(root, ln.INVERTED_FAMILIES):
        d = os.path.dirname(idx.path)
        out += [os.path.join(d, b) for run in idx.run_files for b in run
                if b]
    return out


def test_cached_locate_equals_string_parse_reference(tmp_path):
    """Every token of every postings file — positional text runs, an
    extend's second run and a bitmap sidecar — locates to the same
    (offset, count), positions flag and skip samples."""
    rng = np.random.default_rng(1)
    root = str(tmp_path / "ref.lance")
    _mk(root, rng)
    ln.write_native_fts_index(root, "text", n_buckets=4)
    ln.write_native_bitmap_index(root, "source", n_buckets=2)
    ln.append_native_rows(root, {
        "doc_id": [1000, 1001], "text": ["w1 w2 fresh", "brand new w3"],
        "source": ["web", "mail"]})
    ln.extend_native_fts_index(root, "text")
    paths = _postings_files(root)
    assert len(paths) >= 8
    n_tokens = 0
    for p in paths:
        want, want_pos, want_skip = _reference_locate(p)
        td, _cold = ln._fts_postings_locate(p)
        assert td.has_pos == want_pos
        assert (td.skip_prefix is None) == (want_skip is None)
        assert list(td.index) == list(want)  # file order, every token
        for t, loc in want.items():
            assert td.loc(t) == loc
            assert all(type(x) is int for x in td.loc(t))
            got_s, ref_s = td.skips(t), _reference_skips(want_skip, t)
            if ref_s is None:
                assert got_s is None
            else:
                assert got_s[0].tolist() == ref_s[0].tolist()
                assert got_s[1].tolist() == ref_s[1].tolist()
                assert got_s[0].dtype == ref_s[0].dtype
        assert td.loc("absent-token") is None
        assert td.skips("absent-token") is None
        n_tokens += len(want)
    assert n_tokens > 400


def test_cached_arrays_are_read_only(tmp_path):
    rng = np.random.default_rng(3)
    root = str(tmp_path / "ro.lance")
    _mk(root, rng, 200)
    ln.write_native_fts_index(root, "text", n_buckets=2)
    td, _cold = ln._fts_postings_locate(_postings_files(root)[0])
    arrays = [td.offsets, td.counts, td.skip_prefix, td.sample_addrs,
              td.sample_cumtf]
    assert all(isinstance(a, np.ndarray) for a in arrays)
    for a in arrays:
        with pytest.raises(ValueError, match="read-only"):
            a[0] = 0
    with pytest.raises(TypeError):
        td.index["w1"] = 0
    t = next(iter(td.index))
    with pytest.raises(ValueError, match="read-only"):
        td.skips(t)[0][0] = 0


def test_lru_evicts_least_recently_used_within_budget(tmp_path):
    rng = np.random.default_rng(4)
    paths = []
    for i in range(4):
        tokens = sorted({f"t{i}-{j}" for j in rng.integers(0, 10**6, 300)})
        blob = ln._fts_postings_blob(
            tokens, [np.arange(3, dtype="<u8")] * len(tokens),
            [np.ones(3, dtype="<u4")] * len(tokens),
            [np.zeros(3, dtype="<u4")] * len(tokens))
        p = str(tmp_path / f"post{i}.idx")
        with open(p, "wb") as fh:
            fh.write(blob)
        paths.append(p)
    size = ln._decode_fts_dict(paths[0])[1]
    assert size == ln._decode_fts_dict(paths[0])[0].nbytes > 300 * 50
    lru = StatLRU(int(2.5 * size))
    a, b, c, d = paths
    load = ln._decode_fts_dict
    assert lru.load(a, load)[1] and lru.load(b, load)[1]
    assert not lru.load(a, load)[1]   # hit: a is now most recent
    assert lru.load(c, load)[1]       # evicts b, the least recent
    assert lru.nbytes <= lru.budget
    assert not lru.load(a, load)[1]
    assert not lru.load(c, load)[1]
    assert lru.load(b, load)[1]       # was evicted: decoded cold again
    assert lru.nbytes <= lru.budget
    # an entry bigger than the whole budget is served, never kept
    tiny = StatLRU(size // 2)
    td, cold = tiny.load(d, load)
    assert cold and len(td.index) == 300 and tiny.nbytes == 0
    assert tiny.load(d, load)[1]


def test_repeated_query_decodes_nothing(tmp_path):
    rng = np.random.default_rng(5)
    root = str(tmp_path / "rep.lance")
    _mk(root, rng)
    ln.write_native_fts_index(root, "text", n_buckets=4)
    q = "w1 w7 w300"
    got, st = ln.native_fts_search(root, "text", q, k=10)
    assert st["files_opened"] >= 1
    assert st["dicts_decoded"] == st["files_opened"]
    again, st2 = ln.native_fts_search(root, "text", q, k=10)
    assert again == got
    assert st2["dicts_decoded"] == 0
    assert st2["files_opened"] == st["files_opened"]
    # the fresh search shares the cache
    fresh, st3 = ln.native_fts_search_fresh(root, "text", q, k=10)
    assert fresh == got and st3["dicts_decoded"] == 0


def test_dropped_and_recreated_dataset_returns_new_hits(tmp_path):
    root = str(tmp_path / "drop.lance")
    ln.write_native_dataset(root, {
        "doc_id": [0, 1], "text": ["alpha beta", "gamma"]})
    ln.write_native_fts_index(root, "text", n_buckets=1)
    got, _ = ln.native_fts_search(root, "text", "alpha zeta", k=5)
    assert [a for a, _dl, _s in got] == [0]
    shutil.rmtree(root)
    ln.write_native_dataset(root, {
        "doc_id": [0, 1, 2], "text": ["zeta", "beta", "zeta alpha zeta"]})
    ln.write_native_fts_index(root, "text", n_buckets=1)
    got, st = ln.native_fts_search(root, "text", "alpha zeta", k=5)
    assert [a for a, _dl, _s in got] == [2, 0]
    assert st["dicts_decoded"] == 1


def test_extend_new_run_terms_are_the_only_cold_decodes(tmp_path):
    rng = np.random.default_rng(6)
    root = str(tmp_path / "ext.lance")
    _mk(root, rng)
    ln.write_native_fts_index(root, "text", n_buckets=4)
    q = "w1 w2 w3 w4 w5 w6 w7 w8 brandnew"
    _got, st = ln.native_fts_search(root, "text", q, k=10)
    assert st["terms_found"] == 8
    ln.append_native_rows(root, {
        "doc_id": [900], "text": ["brandnew w1"],
        "source": ["web"]})
    ln.extend_native_fts_index(root, "text")
    idx = ln.latest_native_index(root, "text", ln.TEXT_FAMILIES)
    assert idx.n_runs == 2
    got, st2 = ln.native_fts_search(root, "text", q, k=10)
    assert st2["terms_found"] == 9
    new_run = {b for b in idx.run_files[1] if b}
    assert st2["dicts_decoded"] == len(
        {ln._fts_bucket_of(t, idx.n_buckets) for t in q.split()}
        & {i for i, b in enumerate(idx.run_files[1]) if b})
    assert 0 < st2["dicts_decoded"] <= len(new_run)
    assert st2["files_opened"] == st["files_opened"] + st2["dicts_decoded"]
    new_addr = (1 << 32) | 0
    assert new_addr in [a for a, _dl, _s in got]


def test_compacted_index_searches_like_a_fresh_build(tmp_path, monkeypatch):
    rng = np.random.default_rng(7)
    root = str(tmp_path / "cmp.lance")
    _mk(root, rng)
    ln.write_native_fts_index(root, "text", n_buckets=4)
    qs = ["w1 w2", "w10 AND w11", '"w3 w4"', "w5 -w6", "naïve 日本"]
    for q in qs:  # warm the dictionaries of the pre-compaction run
        ln.native_fts_search(root, "text", q, k=10)
    monkeypatch.setattr(ln, "MAX_INDEX_RUNS", 2)
    ln.append_native_rows(root, {
        "doc_id": [700, 701], "text": ["w1 w2 w3 w4", "naïve w5"],
        "source": ["web", "news"]})
    ln.extend_native_fts_index(root, "text")  # 2nd run -> compacts
    idx = ln.latest_native_index(root, "text", ln.TEXT_FAMILIES)
    assert idx.n_runs == 1
    rb_uid = ln.write_native_fts_index(root, "text", n_buckets=4)
    rb = next(i for i in ln.list_native_indices(root, ln.INVERTED_FAMILIES)
              if os.path.dirname(i.path).endswith(rb_uid))
    for q in qs:
        assert ln.native_fts_search(root, "text", q, k=10, index=idx)[0] \
            == ln.native_fts_search(root, "text", q, k=10, index=rb)[0]


def test_delete_after_cached_search_still_masks(tmp_path):
    root = str(tmp_path / "del.lance")
    ln.write_native_dataset(root, {
        "doc_id": [0, 1, 2], "text": ["red fox", "red red hen", "blue"]})
    ln.write_native_fts_index(root, "text", n_buckets=2)
    got, _ = ln.native_fts_search(root, "text", "red", k=5)
    assert sorted(a for a, _dl, _s in got) == [0, 1]
    ln.native_delete(root, {0: np.asarray([1])})
    got, st = ln.native_fts_search(root, "text", "red", k=5)
    assert [a for a, _dl, _s in got] == [0]
    assert st["dicts_decoded"] == 0


def test_fts_index_metadata_is_cached_and_new_indexes_are_seen(tmp_path):
    rng = np.random.default_rng(8)
    root = str(tmp_path / "meta.lance")
    _mk(root, rng, 100)
    ln.write_native_fts_index(root, "text", n_buckets=2)
    idx = ln.latest_native_index(root, "text", ln.TEXT_FAMILIES)
    # cache hit
    assert ln.latest_native_index(root, "text", ln.TEXT_FAMILIES) is idx
    with pytest.raises(Exception):
        idx.n_docs = 0  # frozen
    assert ln.latest_native_index(root, "source", "bitmap") is None
    ln.write_native_bitmap_index(root, "source", n_buckets=2)
    bm = ln.latest_native_index(root, "source", "bitmap")
    assert bm is not None and bm.analyzer == "keyword-v1"
    # a foreign index.idx keeps being refused, with the same message
    p = os.path.join(root, "_indices", "junk", "index.idx")
    os.makedirs(os.path.dirname(p))
    with open(p, "wb") as fh:
        fh.write(b"not an index at all" * 2)
    for _ in range(2):
        with pytest.raises(ln.LanceNativeError, match="LANC footer"):
            ln.read_native_index(p)
    assert ln.latest_native_index(root, "text", ln.TEXT_FAMILIES) is idx


def test_remote_lookups_decode_each_dictionary_once_per_call(monkeypatch):
    """Remote paths bypass the process-wide cache; the per-call memo
    still reads each touched postings dictionary once per call, however
    many values or grams land in it."""
    from lance_trino_spark.format import native_io as nio
    from lance_trino_spark.format.backend import MemoryObjectStore

    store = MemoryObjectStore()
    root = "memory://dictbucket/t.lance"
    nio.register_object_store_root("memory://dictbucket", store)
    try:
        ln.write_native_dataset(root, {
            "k": list(range(60)),
            "lab": [f"g{i % 6}" for i in range(60)],
            "s": [f"the quick brown fox {i}" for i in range(60)]})
        ln.write_native_bitmap_index(root, "lab", n_buckets=1)
        ln.write_native_ngram_index(root, "s", n_buckets=1)
        ln.append_native_rows(root, {
            "k": [60], "lab": ["g1"], "s": ["quick brownie"]})
        ln.extend_native_fts_index(root, "lab", analyzer="keyword-v1")
        ln.extend_native_fts_index(root, "s", analyzer="ngram-v1")
        reads: list[str] = []
        decode = ln._decode_fts_dict

        def counting(path):
            reads.append(path)
            return decode(path)

        monkeypatch.setattr(ln, "_decode_fts_dict", counting)
        for _ in range(2):  # remote: no hit across calls either
            rows, _cov = ln.native_bitmap_lookup(
                root, "lab", ["g0", "g1", "g2", "g3", "absent"])
            assert sum(len(r) for r in rows.values()) == 41
            assert len(reads) == len(set(reads)) == 2  # one per run
            reads.clear()
        idx = ln.latest_native_index(root, "s", "ngram")
        assert idx.n_runs == 2
        cands, _cov = ln.native_ngram_lookup(root, "s", "quick brown")
        assert len(ln._fts_tokenize("quick brown", "ngram-v1")) > 5
        assert len(cands) == 61
        assert len(reads) == len(set(reads)) == 2
    finally:
        nio.unregister_object_store_root("memory://dictbucket")

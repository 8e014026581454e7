"""sf1 anchor for the native FTS inverted index (round 12): the 50k-doc
sf1 documents corpus as a native dataset — serial vs executor-staged
build, O(delta) LSM extend vs rebuild, postings-served query latency
(covered + live-snapshot fresh with an uncovered delta). Appends to
BENCH_SF1.md.

Usage: python3 tools/bench_sf1_fts.py"""
from __future__ import annotations

import datetime
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    import lance_trino_spark.format.lance_native as ln
    from lance_trino_spark.session import get_spark
    from lance_trino_spark.sources.lance_datasource import (
        register_lance_datasource,
    )

    spark = get_spark("bench-sf1-fts")
    register_lance_datasource(spark)
    root = os.path.join(REPO, ".scratch", "sf1-fts.lance")
    shutil.rmtree(root, ignore_errors=True)

    src = spark.read.parquet(
        os.path.join(REPO, ".scratch", "sf1", "documents.parquet")
    ).select("doc_id", "text").orderBy("doc_id")
    ln.create_native_dataset(
        src.where("doc_id < 45000"), root, rows_per_fragment=5000)

    t0 = time.monotonic()
    uid_d = ln.write_native_fts_index(root, "text", n_buckets=32,
                                      spark=spark)
    t_dist = time.monotonic() - t0
    t0 = time.monotonic()
    ln.write_native_fts_index(root, "text", n_buckets=32)
    t_serial = time.monotonic() - t0

    # delta: 5k more docs; extend vs rebuild
    src.where("doc_id >= 45000").write.format("lance").mode(
        "append").save(root)
    # make the distributed-built index the latest-by-dir deterministic
    # target: drop the serial twin
    for i in ln.list_native_indices(root, ln.INVERTED_FAMILIES):
        if not os.path.dirname(i.path).endswith(uid_d):
            shutil.rmtree(os.path.dirname(i.path))
    t0 = time.monotonic()
    ln.extend_native_fts_index(root, "text", spark=spark)
    t_extend = time.monotonic() - t0
    t0 = time.monotonic()
    ln.write_native_fts_index(root, "text", n_buckets=32, spark=spark)
    t_rebuild = time.monotonic() - t0

    idx = ln.latest_native_index(root, "text", ln.TEXT_FAMILIES)
    n_docs = idx.n_docs

    def best(fn, n=5):
        b = None
        for _ in range(n):
            t0 = time.monotonic()
            fn()
            dt = time.monotonic() - t0
            b = dt if b is None or dt < b else b
        return b

    q = "merge stream filter window"
    t_q = best(lambda: ln.native_fts_search(root, "text", q, k=20))
    hits, st = ln.native_fts_search(root, "text", q, k=20)

    # r13 grammar probes at 50k docs: positional PHRASE, AND, FUZZY
    qp = '"merge stream" AND scan'
    t_phrase = best(lambda: ln.native_fts_search(root, "text", qp, k=20))
    _hp, stp = ln.native_fts_search(root, "text", qp, k=20)
    qf = "vektor~ scann~"
    t_fuzzy = best(lambda: ln.native_fts_search(root, "text", qf, k=20))
    _hf, stf = ln.native_fts_search(root, "text", qf, k=20)

    # distributed query arms vs the driver scorer on the SAME queries
    # (forced by a tiny cap; bit parity asserted) — terms AND phrases
    want, _ = ln.native_fts_search(root, "text", q, k=20)
    want_p, _ = ln.native_fts_search(root, "text", qp, k=20)
    orig_cap = ln.MAX_FTS_POSTINGS
    try:
        ln.MAX_FTS_POSTINGS = 1000
        t0 = time.monotonic()
        got, std = ln.native_fts_search(root, "text", q, k=20,
                                        spark=spark)
        t_dist_q = time.monotonic() - t0
        assert std["mode"] == "distributed" and got == want
        t0 = time.monotonic()
        got_p, stp2 = ln.native_fts_search(root, "text", qp, k=20,
                                           spark=spark)
        t_dist_p = time.monotonic() - t0
        assert stp2["mode"] == "distributed" and got_p == want_p
    finally:
        ln.MAX_FTS_POSTINGS = orig_cap

    # distributed vs serial COMPACTION at 50k docs (copy the dataset
    # dir, compact each copy once from the same multi-run state)
    import lance_trino_spark.format.lance_native as _lnmod
    comp = {}
    for label, sp in (("serial", None), ("distributed", spark)):
        croot = root + f".comp-{label}"
        shutil.rmtree(croot, ignore_errors=True)
        shutil.copytree(root, croot)
        orig_runs = _lnmod.MAX_INDEX_RUNS
        try:
            _lnmod.MAX_INDEX_RUNS = 2
            croot_src = spark.read.parquet(
                os.path.join(REPO, ".scratch", "sf1",
                             "documents.parquet")
            ).select("doc_id", "text").where("doc_id < 100") \
                .selectExpr("doc_id + 500000 AS doc_id", "text")
            croot_src.write.format("lance").mode("append").save(croot)
            t0 = time.monotonic()
            ln.extend_native_fts_index(croot, "text", spark=sp)
            comp[label] = time.monotonic() - t0
        finally:
            _lnmod.MAX_INDEX_RUNS = orig_runs
        shutil.rmtree(croot, ignore_errors=True)

    # fresh search with an uncovered 2.5k-doc delta (serial exact arm)
    half = spark.read.parquet(
        os.path.join(REPO, ".scratch", "sf1", "documents.parquet")
    ).select("doc_id", "text").where("doc_id < 2500") \
        .selectExpr("doc_id + 100000 AS doc_id", "text")
    half.write.format("lance").mode("append").save(root)
    t_fresh = best(
        lambda: ln.native_fts_search_fresh(root, "text", q, k=20), n=3)

    stamp = datetime.datetime.now().strftime("%Y-%m-%d %H:%M")
    md = f"""
### Native FTS inverted index anchor ({stamp}, local[32]; 50k docs ~45 tokens avg, 32 buckets)

- build 45k docs: executor-staged {t_dist:.1f} s, serial {t_serial:.1f} s
- 5k-doc delta: LSM run EXTEND {t_extend:.1f} s vs full rebuild {t_rebuild:.1f} s ({t_rebuild / max(t_extend, 1e-9):.1f}x)
- 4-term BM25 top-20 over {n_docs} docs: {t_q * 1000:.0f} ms (postings slices: {st['postings_read']} postings, {st['files_opened']} file opens — never a corpus scan)
- live-snapshot fresh search with an UNCOVERED 2.5k-doc delta: {t_fresh * 1000:.0f} ms (exact arm tokenizes only the delta)
- PHRASE+AND probe ('"merge stream" AND scan'): {t_phrase * 1000:.0f} ms ({stp['postings_read']} postings incl. positions)
- FUZZY probe ('vektor~ scann~'): {t_fuzzy * 1000:.0f} ms ({stf.get('fuzzy_expansions', 0)} vocabulary expansions)
- distributed query arm (cap forced) on the 4-term probe: {t_dist_q:.1f} s, and on the PHRASE+AND probe (skip-sample block windows): {t_dist_p:.1f} s — both bit-identical to the driver scorer ({t_q * 1000:.0f} / {t_phrase * 1000:.0f} ms); the latency trade for O(chunk)/O(block) memory on corpus-common operands
- COMPACTION of the multi-run index: serial {comp['serial']:.1f} s, distributed {comp['distributed']:.1f} s (per-bucket tasks)
"""
    with open(os.path.join(REPO, "BENCH_SF1.md"), "a") as fh:
        fh.write(md)
    print(md)


if __name__ == "__main__":
    main()

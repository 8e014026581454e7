"""Serial/distributed routing of index builds, extends, compactions and
the flat native HNSW search.

Every index-maintenance job in this package has two arms that write the
same files (the HNSW search: return the same hits): a serial arm that
runs on the driver and a distributed arm that fans out across Spark
tasks. A fan-out pays a fixed cost (a
DataFrame plan, a Python-UDF stage, often a shuffle: about a second or
more on a local session) before any row is touched, so small jobs take
the serial arm even when a ``spark`` session is given. That one policy
lives here: one threshold table (``DISTRIBUTED_MIN_ROWS``), one decision
(``route``) and one runner for per-item sidecar fan-outs (``fan_out``).
Row counts come from manifests (metadata only, no job). Tests force an
arm by patching the table.

Fan-outs that are NOT routed by row count stay with their callers:

- the native IVF_PQ full build (``write_native_vector_index``): its two
  arms write different layouts (sharded versus single-file), so the
  choice is the caller's, not a cost decision;
- Z-order compaction (``native_compact`` with a list ``sort_by``): the
  Morton interleave is a Spark expression the serial arm does not
  reproduce;
- the native HNSW and IVF_HNSW builds: routed by shard count (one
  shard runs on the driver);
- the native IVF_HNSW search: always on the driver; it searches only
  the probed cells' small run graphs, decoded once per process
  (``vector_index.hnsw_graph``). The flat HNSW search is in the table;
- the prefilter and exact-scan fan-outs (``_native_prefilter_rows``,
  the fresh-search exact arms), FTS scoring and fuzzy expansion, and FTS
  compaction: gated on whether ``spark`` is given or on a size cap.
"""

from __future__ import annotations

# Smallest job, in rows, that takes the distributed arm. Keys are the
# job kinds; each value is the measured crossover below which the
# fan-out's fixed cost dwarfs the work.
DISTRIBUTED_MIN_ROWS: dict[str, int] = {
    # Native IVF extend (r14, lf47 profile): the fan-out costs a
    # DataSource plan + two Python-UDF stages + a shuffle, seconds of
    # fixed overhead; the serial encode takes milliseconds below this.
    # The in-place path counts delta rows, the compaction fold counts
    # old index + delta rows.
    "ivf_extend": 65536,
    # Native inverted-index family: FTS, bitmap, label and ngram (r14,
    # sf0.1 documents, 4.5k docs: ngram-v1 serial 3.3 s vs distributed
    # 9.9 s, whitespace-v1 serial 0.6 s vs 1.5 s; the fan-out is a scan
    # plan + a mapInPandas stage + the (doc, token) bucket shuffle).
    "fts": 8192,
    # Native btree (r14, 150k-row fixture: serial 0.2-0.4 s vs
    # distributed 2.6-10.3 s; the executor-staged orderBy costs ~2.5 s
    # fixed). The serial arm holds the sorted (value, addr) numpy pairs,
    # ~16-48 MB at this threshold.
    "btree": 1_048_576,
    # Native compaction by live victim rows (r15, st13 profile: each
    # in-line compaction of a ~15k-row streaming sink paid ~1.1 s of
    # scan plan + range shuffle + staging stage for ~40 ms of work).
    # The serial arm's driver footprint is bounded by this threshold.
    "compact": 262_144,
    # Own-format IVF postings sidecars, per fragment (createDataFrame +
    # repartition + mapInPandas costs ~1 s; cell assignment is
    # CPU-heavy per row).
    "vindex": 8192,
    # Own-format HNSW graph sidecars: insertion is ~10x costlier per row
    # than IVF cell assignment (2000-row corpus serial 1.05 s vs
    # distributed 0.86 s; 500-row ingest batch serial 0.44 s vs 0.86 s).
    "vindex_hnsw": 1024,
    # Own-format scalar sidecars: one numpy sort per fragment, so the
    # crossover matches the btree family's.
    "sindex": 1_048_576,
    # Flat native HNSW search, by indexed rows over the searched shards
    # (10k rows of 64-dim vectors in two 5k-row shards, local[4]: the
    # fan-out costs 1.1-1.6 s; the serial arm takes 22 ms with the
    # graphs decoded cold, 2.2 us/row, and 1.6 ms warm from the graph
    # LRU, so the cold crossover is ~600k rows). Capped below the
    # ~450k 64-dim rows that fit vector_index.HNSW_CACHE_BYTES (~600 B
    # per decoded node): past that, serial searches decode cold again.
    "hnsw_search": 262_144,
}


def route(kind: str, rows: int, spark):
    """The session to fan ``kind``'s job out on (``spark``), or None for
    the serial arm. A job of ``rows`` rows goes distributed when ``rows``
    reaches the kind's threshold and a session is given. Unknown kinds
    raise, so a typo cannot fall through to the serial arm."""
    if kind not in DISTRIBUTED_MIN_ROWS:
        raise KeyError(
            f"unknown routing kind {kind!r} "
            f"(have: {sorted(DISTRIBUTED_MIN_ROWS)})")
    return spark if rows >= DISTRIBUTED_MIN_ROWS[kind] else None


def fan_out(spark, kind: str, rows: int, items: list, schema: str,
            fn) -> int:
    """Run ``fn(*item)`` once per item, on the arm ``route`` picks for
    ``kind`` and ``rows``: a driver loop, or one Spark task per item
    (``schema`` types the item tuples; its first column is echoed back
    so the count proves every item ran). Returns the number of items."""
    spark = route(kind, rows, spark)
    if not items:
        return 0
    if spark is None:
        for item in items:
            fn(*item)
        return len(items)

    def _run(batches):
        for pdf in batches:
            for item in pdf.itertuples(index=False, name=None):
                fn(*item)
            yield pdf.iloc[:, :1]

    built = (
        spark.createDataFrame(items, schema)
        .repartition(len(items))
        .mapInPandas(_run, schema.split(",")[0])
        .count()
    )
    assert built == len(items)
    return built

"""Similarity search over embedding columns (`array<float>`).

Two strategies, mirroring the reference's vector-column story
(`LanceTableProperties.java:33-57` declares vector columns; actual ANN search
lives below the connector in Lance — here we implement the search itself,
Spark-first):

- **brute-force top-k** (`cosine_topk`): query set × corpus join with an
  exact cosine and a row_number window per query. Correctness baseline; at
  scale the corpus side stays partitioned, queries broadcast.
- **cell-partitioned ANN** (`bucketed_topk`): an IVF-style coarse partition
  (here the `label` column stands in for a k-means cell id — at 100 TB you'd
  assign cells with a trained codebook) restricts each query to its cell —
  an equi-join on cell id instead of a cross product. Same output schema, so
  recall can be measured against the brute-force baseline.
- **embedding near-dup** (`embedding_neardup_pairs`): all pairs within a
  cell whose cosine ≥ threshold — the embedding variant of dedup.

Cosines are computed as left-fold double sums and rounded to 6 decimals
(functions/cosine_similarity) so DuckDB oracles agree; ranking ties break on
neighbor id.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..format.vector_index import kmeans_deterministic, nearest
from ..functions import dot_product, l2_norm


def _rank_topk(joined: DataFrame, k: int) -> DataFrame:
    # row_number + rank<=k triggers Spark's WindowGroupLimit rewrite: each
    # map task keeps only its local top-k per query BEFORE the exchange
    # (verified in the physical plan: `WindowGroupLimit ... Partial` below
    # the shuffle), so the scored pair set itself never shuffles — the
    # window form IS the bounded two-phase top-k at 100 TB.
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_queries: int = 100_000,
) -> DataFrame:
    """Exact brute-force top-k neighbors for each query vector.

    `queries` MUST be small (broadcast); the corpus never moves — the join
    is a broadcast-nested-loop over corpus partitions, then a per-query
    top-k window. A query set beyond ``max_broadcast_queries`` would turn
    this into an executor-OOM / quadratic-work plan, so it fails loudly —
    use the trained-codebook `ivf_topk` (or `bucketed_topk`) for large
    query sets; that is the scale path, not a bigger broadcast."""
    n_queries = queries.limit(max_broadcast_queries + 1).count()
    if n_queries > max_broadcast_queries:
        raise ValueError(
            f"cosine_topk is the exact-broadcast baseline: query set exceeds "
            f"max_broadcast_queries={max_broadcast_queries}; use ivf_topk/"
            f"bucketed_topk for large query sets"
        )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", l2_norm("qv"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", l2_norm("cv"))
    # Norms are materialized per ROW before the join (O(n) folds); each pair
    # then costs a single dot-product fold. dot/(cn*qn) is the exact same
    # float expression as inline cosine_similarity — values are bit-identical.
    joined = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    ).withColumn("cosine", dot_product("cv", "qv") / (F.col("cn") * F.col("qn")))
    return _rank_topk(joined, k)


def bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVF-style ANN: search only the query's coarse cell (equi-join on cell
    id → shuffle bounded by cell sizes, no cross product)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col(cell_col).alias("qcell"),
    ).withColumn("qn", l2_norm("qv"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col(cell_col).alias("ccell"),
    ).withColumn("cn", l2_norm("cv"))
    joined = (
        c.join(F.broadcast(q), F.col("ccell") == F.col("qcell"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", dot_product("cv", "qv") / (F.col("cn") * F.col("qn")))
    )
    return _rank_topk(joined, k)


def train_ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    iters: int = 5,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train an IVF coarse codebook: deterministic k-means (first-`n_cells`
    init, fixed iteration count) over a bounded, ordered sample collected to
    the driver. At 100 TB the sample stays the same size — training cost is
    O(sample × n_cells × iters) on the driver, independent of corpus scale
    (the standard IVF recipe: Lance/FAISS train on a sample too)."""
    import numpy as np

    rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(id_col)
        .limit(sample)
        .collect()
    )
    return kmeans_deterministic(
        np.array([r[1] for r in rows], dtype=np.float64), n_cells, iters)


def _cell_assigner(centroids, nprobe: int):
    """Vectorized (Arrow-batched) pandas UDF mapping a vector column to its
    `nprobe` nearest centroid ids — runs on executors, centroids ship in the
    closure (tiny: n_cells × dim doubles)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def cells_of(v: pd.Series) -> pd.Series:
        import numpy as np

        m = np.stack(v.to_numpy())
        return pd.Series(list(nearest(m, centroids, nprobe).astype("int32")))

    return cells_of


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Trained-codebook IVF ANN: corpus rows are assigned to their nearest
    cell once; each query probes its `nprobe` nearest cells. The search is an
    equi-join on cell id — shuffle bounded by cell sizes, never a cross
    product. Approximate by construction; deterministic (first-n init, fixed
    iterations, ordered sample), so recall@5 vs `cosine_topk` is value-gated
    in-query (suite s04) and unit-asserted in tests/test_operators.py."""
    assigner1 = _cell_assigner(centroids, 1)
    assignerN = _cell_assigner(centroids, nprobe)
    c = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
        .withColumn("ccell", assigner1(F.col("cv"))[0])
        .withColumn("cn", l2_norm("cv"))
    )
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumn("qcell", F.explode(assignerN(F.col("qv"))))
        .withColumn("qn", l2_norm("qv"))
    )
    joined = (
        c.join(F.broadcast(q), F.col("ccell") == F.col("qcell"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", dot_product("cv", "qv") / (F.col("cn") * F.col("qn")))
    )
    return _rank_topk(joined, k)


def _leftfold_dot_udf():
    """Arrow-vectorized left-fold dot product over candidate PAIRS — the
    near-dup hot loop. Bit-identical to `functions.dot_product`'s JVM
    `aggregate(zip_with(...))` expression (and to the DuckDB oracle's
    list_reduce): elements upcast to float64 BEFORE multiplying, and the
    sum accumulates column-by-column (``acc += prod[:, j]``) — one fp add
    per pair per index, in index order, exactly the left fold. The only
    difference is throughput: numpy does a whole Arrow batch of pairs per
    instruction where ArrayAggregate interprets a lambda per element
    (measured ~10x on the sf1 semantic-dedup pair pass)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def leftfold_dot(va: pd.Series, vb: pd.Series) -> pd.Series:
        import numpy as np

        if not len(va):
            return pd.Series(np.zeros(0, dtype=np.float64))
        a = np.stack(va.to_numpy()).astype(np.float64)  # f32->f64 exact
        b = np.stack(vb.to_numpy()).astype(np.float64)
        prod = a * b
        acc = np.zeros(len(va), dtype=np.float64)
        for j in range(prod.shape[1]):
            acc = acc + prod[:, j]
        return pd.Series(acc)

    # asNondeterministic stops Catalyst substituting the UDF into the
    # downstream threshold Filter (which would evaluate the whole pair
    # pass TWICE — once for the filter, once for the projection); it is
    # semantically deterministic, this only pins one evaluation site.
    return leftfold_dot.asNondeterministic()


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """Near-duplicate vector pairs within each coarse cell: (id_a < id_b,
    cosine ≥ threshold). Cell-blocked to avoid the quadratic cross join.

    The per-pair score — the one O(candidate_pairs x dim) term — runs as
    an Arrow-batched vectorized left-fold (`_leftfold_dot_udf`), NOT the
    interpreted ArrayAggregate expression: same bits (fixed summation
    order, norms still computed once per row JVM-side pre-join), ~10x the
    throughput at sf1. Pairs stream through the UDF in Arrow batches, so
    memory stays O(batch), never O(cell^2).

    Cell skew — why the join is BLOCK-SALTED and not left to AQE: the
    quadratic blow-up happens AFTER the shuffle read (2k rows of a cell
    shuffle as ~0.5 MB, then expand to 2M pairs inside the join), so
    AQE's skew-join never sees an oversized partition and parallelism
    collapses to #cells (measured at sf1: 10 cells capped the whole
    O(pairs x dim) score pass at 10 of 32 cores). Each id therefore gets
    a deterministic block ``pmod(id, blocks)``; side A replicates over
    the partner's block, side B over its own, and the join key becomes
    (cell, block_a, block_b) — every pair still meets exactly once, the
    shuffled input grows only ``blocks``x (rows, not pairs), and the
    pair workload spreads over cells x blocks^2 keys regardless of how
    few or how skewed the cells are."""
    blocks = 8
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), F.col(cell_col).alias("cell_a")
    ).withColumn("norm_a", l2_norm("va")).withColumn(
        "block_a", F.pmod(F.col("id_a"), F.lit(blocks))
    ).withColumn(
        "block_b", F.explode(F.sequence(F.lit(0), F.lit(blocks - 1)))
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), F.col(cell_col).alias("cell_b")
    ).withColumn("norm_b", l2_norm("vb")).withColumn(
        "block_bb", F.pmod(F.col("id_b"), F.lit(blocks))
    ).withColumn(
        "block_ba", F.explode(F.sequence(F.lit(0), F.lit(blocks - 1)))
    )
    dot = _leftfold_dot_udf()
    return (
        a.join(
            b,
            (F.col("cell_a") == F.col("cell_b"))
            & (F.col("block_a") == F.col("block_ba"))
            & (F.col("block_b") == F.col("block_bb"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .withColumn(
            "cosine",
            dot(F.col("va"), F.col("vb")) / (F.col("norm_a") * F.col("norm_b")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector int8 scalar quantization — the compression step before
    building a disk-resident ANN index (4x smaller vectors, SIMD-friendly
    int8 dot products): scale = max|x| / 127, q_i = floor(x_i/scale + 0.5).

    Pure JVM array lambdas, one narrow pass, no shuffle. The explicit
    floor(+0.5) round makes the arithmetic engine-portable (SQL ROUND
    half-away vs banker's rounding would diverge); an all-zero vector
    quantizes to zeros with scale 0. Adds `scale`, `qvec` (array<int>),
    and `max_abs_err` (reconstruction error) columns."""
    v = vec_col
    out = df.withColumn(
        "scale",
        F.expr(
            f"aggregate({v}, cast(0.0 as double), (a, x) -> greatest(a, abs(cast(x as double)))) / 127.0"
        ),
    )
    out = out.withColumn(
        "qvec",
        F.expr(
            f"CASE WHEN scale = 0.0 THEN transform({v}, x -> 0) "
            f"ELSE transform({v}, x -> cast(floor(cast(x as double) / scale + 0.5) as int)) END"
        ),
    )
    return out.withColumn(
        "max_abs_err",
        F.expr(
            f"array_max(zip_with({v}, qvec, (x, q) -> abs(cast(x as double) - q * scale)))"
        ),
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """Top-k search over int8-quantized vectors (the memory-bound ANN scale
    path: 4x smaller vectors, integer dot products): both sides are scalar-
    quantized, candidates are cell-restricted (same shape as bucketed_topk),
    and ranking uses idot * scale_q * scale_c — the standard asymmetric
    reconstruction of the inner product.

    Engine-portable by construction: the integer dot product is EXACT (no
    fp summation order), and the two scale multiplications happen in a
    fixed order, so scores are bit-identical across engines.
    """
    q = quantize_embeddings(queries, vec_col, id_col).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("qq"),
        F.col("scale").alias("scale_q"),
        F.col(cell_col).alias("qcell"),
    )
    c = quantize_embeddings(corpus, vec_col, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec").alias("qc"),
        F.col("scale").alias("scale_c"),
        F.col(cell_col).alias("ccell"),
    )
    idot = F.expr(
        "aggregate(zip_with(qq, qc, (a, b) -> cast(a as bigint) * cast(b as bigint)),"
        " cast(0 as bigint), (acc, v) -> acc + v)"
    )
    joined = (
        c.join(F.broadcast(q), F.col("ccell") == F.col("qcell"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("idot", idot)
        .withColumn(
            "approx_ip",
            F.col("idot").cast("double") * F.col("scale_q") * F.col("scale_c"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("approx_ip").desc(), F.col("neighbor_id")
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "idot",
            "approx_ip",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def two_stage_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 20,
    prefix_dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_queries: int = 100_000,
) -> DataFrame:
    """Two-stage retrieval: a cheap prefix-dimension cosine shortlists ``m``
    candidates per query, then the exact full-dimension cosine re-ranks the
    shortlist to top-``k`` — the truncated-embedding (Matryoshka-style)
    retrieval pattern.

    Scale shape: the full-dimension fold runs on ``m`` candidates per query
    instead of the whole corpus, so stage 2 is O(queries*m*dims); stage 1
    costs ``prefix_dims/dims`` of a brute-force pass and keeps the
    WindowGroupLimit bounded-shuffle property of ``cosine_topk`` (local
    top-m per map task before the exchange). At 100 TB compose stage 1 with
    `ivf_topk`'s cell restriction; stage 2 is unchanged. Both stages break
    ties on neighbor id, so results are deterministic and oracle-exact."""
    n_queries = queries.limit(max_broadcast_queries + 1).count()
    if n_queries > max_broadcast_queries:
        raise ValueError(
            f"two_stage_topk broadcasts the query set: it exceeds "
            f"max_broadcast_queries={max_broadcast_queries}; restrict "
            f"queries or use ivf_topk for the shortlist stage"
        )
    pq, pc = f"slice(qv, 1, {prefix_dims})", f"slice(cv, 1, {prefix_dims})"
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", l2_norm("qv")).withColumn("qpn", l2_norm(pq))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", l2_norm("cv")).withColumn("cpn", l2_norm(pc))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "prefix_cos",
            dot_product(pc, pq) / (F.col("cpn") * F.col("qpn")),
        )
    )
    w1 = W.partitionBy("query_id").orderBy(
        F.col("prefix_cos").desc(), F.col("neighbor_id")
    )
    shortlist = scored.withColumn("prank", F.row_number().over(w1)).filter(
        F.col("prank") <= m
    )
    reranked = shortlist.withColumn(
        "cosine", dot_product("cv", "qv") / (F.col("cn") * F.col("qn"))
    )
    return _rank_topk(reranked, k)


def quantization_mean(
    df: DataFrame, vec_col: str = "embedding"
) -> list[float]:
    """Per-dimension corpus mean used as the binary-quantization sign
    threshold, collected to the driver as ONE row of scalars (sanctioned
    bounded collect — dim doubles). Decimal-backed sum: exact,
    order-independent, so the thresholds (and therefore every code bit)
    are deterministic across runs/partitionings — the suite's hash gate
    depends on it. Returning literals instead of a broadcast single-row
    frame keeps the quantization plan join-free AND computes the
    aggregate exactly once even when corpus and query sets both
    quantize against it."""
    dims = df.select(F.size(vec_col).alias("d")).first()["d"]
    row = df.select(
        *[
            (
                F.sum(F.col(vec_col)[i].cast("decimal(38,12)"))
                / F.count(F.lit(1))
            ).cast("double").alias(f"m{i}")
            for i in range(dims)
        ]
    ).first()
    return [float(row[f"m{i}"]) for i in range(dims)]


def binary_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mean: list[float] | None = None,
) -> DataFrame:
    """1-bit binary quantization: sign bit per CENTERED dimension, packed
    into bytes — 32x smaller than float32, the coarsest tier of the
    compression ladder (float32 -> int8 (s05) -> PQ (s09) -> binary).
    Dimensions are centered on the CORPUS MEAN before taking signs (raw
    all-positive embeddings would quantize to all-ones); the mean is a
    broadcast scalar row. Hamming distance between codes approximates
    angular distance; `binary_topk` reranks a hamming shortlist exactly.

    Pure JVM expressions: the pack is an aggregate over bit positions with
    the mean thresholds folded in as LITERALS (join-free plan) — no UDFs,
    so the DuckDB oracle replays it bit-for-bit.

    ``mean`` lets a caller precompute the centering thresholds ONCE (from
    the corpus) and reuse them for query-set quantization — query and
    corpus codes must share sign thresholds, or hamming distances between
    them are meaningless (an exact duplicate of a corpus vector could
    miss)."""
    if mean is None:
        mean = quantization_mean(df, vec_col)
    dims = len(mean)
    nbytes = (dims + 7) // 8
    byte_cols = []
    for b in range(nbytes):
        bits = [
            F.when(
                F.col(vec_col)[b * 8 + j].cast("double")
                > F.lit(mean[b * 8 + j]),
                F.lit(1 << j),
            ).otherwise(F.lit(0))
            for j in range(min(8, dims - b * 8))
        ]
        acc = bits[0]
        for x in bits[1:]:
            acc = acc + x
        byte_cols.append(acc.cast("int").alias(f"b{b}"))
    return df.select(F.col(id_col), *byte_cols)


def binary_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_queries: int = 100_000,
) -> DataFrame:
    """Binary-quantized ANN: hamming-distance shortlist over the packed
    sign codes (bit_count on XORed bytes — integer-exact), then an exact
    cosine rerank of the shortlist. The corpus never ships floats to the
    shortlist stage — at 100 TB the hamming pass touches 1/32 of the
    vector bytes; only shortlist x queries rows are rescored exactly.

    The query codes are broadcast against every corpus partition, so the
    query set must be broadcast-small — same loud guard as `cosine_topk`;
    a large query set belongs on `ivf_topk`/the persisted index path."""
    n_queries = queries.limit(max_broadcast_queries + 1).count()
    if n_queries > max_broadcast_queries:
        raise ValueError(
            f"binary_topk broadcasts the query codes: query set exceeds "
            f"max_broadcast_queries={max_broadcast_queries}; use ivf_topk/"
            f"the persisted vector index for large query sets"
        )
    # ONE set of sign thresholds, from the corpus: query codes quantized
    # against a different mean would have inconsistent bits (an exact
    # duplicate of a corpus vector could miss the shortlist entirely).
    mean = quantization_mean(corpus, vec_col)
    codes = binary_quantize(corpus, id_col, vec_col, mean=mean)
    nbytes = len([c for c in codes.columns if c.startswith("b")])
    qcodes = binary_quantize(queries, id_col, vec_col, mean=mean).select(
        F.col(id_col).alias("query_id"),
        *[F.col(f"b{b}").alias(f"qb{b}") for b in range(nbytes)],
    )
    hamming = None
    for b in range(nbytes):
        term = F.bit_count(
            F.col(f"b{b}").bitwiseXOR(F.col(f"qb{b}")).cast("long")
        )
        hamming = term if hamming is None else hamming + term
    joined = (
        codes.select(F.col(id_col).alias("neighbor_id"),
                     *[f"b{b}" for b in range(nbytes)])
        .crossJoin(F.broadcast(qcodes))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("hamming", hamming)
    )
    from pyspark.sql.window import Window as W

    short = (
        joined.withColumn(
            "_hr",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.col("hamming").asc(), F.col("neighbor_id").asc()
                )
            ),
        )
        .filter(F.col("_hr") <= shortlist)
        .select("query_id", "neighbor_id", "hamming")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", l2_norm("cv"))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", l2_norm("qv"))
    rescored = (
        short.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cosine", dot_product("cv", "qv") / (F.col("cn") * F.col("qn")))
    )
    return _rank_topk(rescored, k)


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 8,
    pool: int = 40,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified retrieval — the
    dedup-aware retrieval recipe (Carbonell & Goldstein 1998) an eval-set
    or RAG-context builder uses so the k results aren't k near-copies:
    greedily pick argmax over ``lam * rel(q, d) - (1 - lam) * max_sim(d,
    selected)``, seeded with the single most relevant candidate.

    Two stages, both distributed where it matters:
      1. candidate pool = exact cosine top-``pool`` per query
         (`cosine_topk` — corpus never moves, broadcast-guarded queries);
      2. MMR selection runs per query over its TINY pool (``pool`` rows x
         dim floats) via applyInPandas — Arrow-batched, one group per
         query, O(pool^2) pairwise sims inside the group only. No
         all-pairs step ever touches the corpus.

    Output: (query_id, neighbor_id, mmr_rank 1..k, cosine). Deterministic:
    float ties break on neighbor_id ascending."""
    import numpy as np
    import pandas as pd

    cand = cosine_topk(corpus, queries, k=pool, id_col=id_col, vec_col=vec_col)
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")
    )
    pooled = cand.join(cv, "neighbor_id").select(
        "query_id", "neighbor_id", "cosine", "nv"
    )

    def _select(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["cosine", "neighbor_id"], ascending=[False, True]
        ).reset_index(drop=True)
        vecs = np.array(pdf["nv"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0] = 1.0
        unit = vecs / norms[:, None]
        rel = pdf["cosine"].to_numpy()
        ids = pdf["neighbor_id"].to_numpy()
        n = len(pdf)
        selected: list[int] = [0]  # seed: most relevant candidate
        max_sim = unit @ unit[0]
        while len(selected) < min(k, n):
            score = lam * rel - (1.0 - lam) * max_sim
            score[selected] = -np.inf
            # argmax with neighbor_id ascending tie-break
            best = np.lexsort((ids, -score))[0]
            selected.append(int(best))
            max_sim = np.maximum(max_sim, unit @ unit[int(best)])
        return pd.DataFrame({
            "query_id": pdf["query_id"].iloc[selected].to_numpy(),
            "neighbor_id": ids[selected],
            "mmr_rank": np.arange(1, len(selected) + 1),
            "cosine": rel[selected],
        })

    return pooled.groupBy("query_id").applyInPandas(
        _select,
        "query_id long, neighbor_id long, mmr_rank int, cosine double",
    )


def kmeans_lattice(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 1,
    dim: int = 64,
    scale: int = 1000,
    offset: int = 2000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd k-means on an INTEGER lattice — the exact,
    full-corpus complement of `train_ivf_centroids` (which trains on a
    bounded driver-side sample). Embedding clustering is the
    cluster-balanced-curation primitive (pick evenly across clusters
    instead of oversampling the dense modes).

    Determinism is the whole design: coordinates quantize to
    ``floor(x*scale + 0.5) + offset`` BIGINTs (offset makes them
    non-negative), so distances, argmins and the round-half-up centroid
    update ``(2*s + n) div (2*n)`` are all exact integer arithmetic —
    no float summation-order divergence between executors, plans, or
    engines (the DuckDB oracle reproduces every value bit-for-bit).

    Scale shape: centroids are k x dim literals compiled into the plan
    (no join, no broadcast exchange); assignment is a narrow map
    (array_min over a k-element literal struct array, whole-stage
    codegen); each Lloyd update is ONE groupBy(cid) with dim partial
    SUM aggregates (map-side combinable — the hot path never shuffles
    vectors, only k*(dim+1) partial sums per task); the driver only
    ever sees k centroid rows per iteration. Returns per-vector
    (id, cid, dist) for the final assignment.
    """
    # Centroids compile into the plan as k*dim literals — exactly right
    # at curation scale (k~8, dim~64), but IVF-scale k would explode the
    # Catalyst plan (and each iteration re-plans it). Refuse loudly past
    # the literal-plan budget instead of grinding the driver to a halt.
    if k * dim > 100_000:
        raise ValueError(
            f"kmeans_lattice compiles k*dim={k * dim} centroid literals "
            "into the plan; past 100000 that is a Catalyst plan "
            "explosion — use train_ivf_centroids (sampled, broadcast) "
            "for IVF-scale k")
    q = corpus.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            # quantize in DOUBLE explicitly: float32*int promotes
            # differently across engines (Spark float, DuckDB float),
            # and near a lattice boundary the single-precision product
            # floors differently — double is exact and engine-identical
            lambda x: (F.floor(x.cast("double") * scale + 0.5))
            .cast("long") + offset,
        ).alias("qv"),
    )

    def _assign(cents: list[tuple[int, list[int]]]) -> DataFrame:
        choices = F.array(*[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("qv"),
                        F.array(*[F.lit(int(v)) for v in cv]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                ).alias("dist"),
                F.lit(int(cid)).cast("long").alias("cid"),
            )
            for cid, cv in cents
        ])
        best = F.array_min(choices)
        return q.select(
            F.col(id_col),
            F.col("qv"),
            best["cid"].alias("cid"),
            best["dist"].alias("dist"),
        )

    init_rows = q.orderBy(id_col).limit(k).collect()
    if len(init_rows) < k:
        raise ValueError(f"corpus has fewer than k={k} vectors")
    if any(len(r["qv"]) != dim for r in init_rows):
        raise ValueError(f"vectors are not {dim}-dimensional")
    cents = [(i, list(r["qv"])) for i, r in enumerate(init_rows)]
    for _ in range(iters):
        sums = (
            _assign(cents)
            .groupBy("cid")
            .agg(
                F.count("*").alias("n"),
                *[F.sum(F.col("qv")[i]).alias(f"s{i}") for i in range(dim)],
            )
            .collect()  # k rows — one per cluster (collect-audit entry)
        )
        cents = sorted(
            (
                int(r["cid"]),
                [(2 * int(r[f"s{i}"]) + int(r["n"])) // (2 * int(r["n"]))
                 for i in range(dim)],
            )
            for r in sums
        )
    return _assign(cents).select(id_col, "cid", "dist")

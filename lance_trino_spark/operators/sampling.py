"""Deterministic sampling operators for training-data mixing.

A data-mixing pipeline reweights sources ("20% of web, 80% of curated") with
three hard requirements at 100 TB: (1) no shuffle — the decision must be a
per-row predicate on a narrow scan; (2) reproducible — re-running the
pipeline, or running it on a different engine, must pick the same rows;
(3) exact-ish fractions per stratum without a global count. All three fall
out of hashing a stable row id into a fixed bucket space: keep a row iff
``h32(salt || id) % DENOM < fraction * DENOM``. Spark's built-in
``df.sample``/``sampleBy`` is pseudo-random per task attempt and NOT stable
across retries or engines, which is why it is not used here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import h32

DENOM = 10_000  # fraction resolution: 0.01 %


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str,
    salt: str = "sample",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Keep each row with its stratum's probability, decided by a
    deterministic hash of (salt, id) — stable across runs, retries, and
    engines (DuckDB replays the identical arithmetic).

    Strata absent from ``fractions`` get ``default_fraction``.
    """
    pairs = []
    for stratum, frac in sorted(fractions.items()):
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {stratum!r} out of [0,1]: {frac}")
        pairs.extend([F.lit(stratum), F.lit(int(round(frac * DENOM)))])
    thresholds = F.create_map(*pairs)
    threshold = F.coalesce(
        thresholds[F.col(strata_col)],
        F.lit(int(round(default_fraction * DENOM))),
    )
    bucket = h32(F.concat(F.lit(salt), F.col(id_col).cast("string"))) % DENOM
    return df.filter(bucket < threshold)


def source_mix_weights(
    df: DataFrame,
    strata_col: str,
    target_fractions: dict[str, float],
    weight_cap: float = 10.0,
) -> DataFrame:
    """Data-mixing planning: per-stratum sampling weight that reshapes the
    observed source distribution into ``target_fractions``.

    weight = target_fraction / observed_fraction, capped at ``weight_cap``
    (a stratum with almost no data would otherwise get an unbounded
    upsampling factor). Strata absent from the target map get weight 0 —
    i.e. dropped from the mixture.

    One tiny aggregate (#strata rows) — the 100 TB cost is a single
    map-side-combined count per stratum; the division happens on the
    aggregated frame. All inputs are exact integers so the double weights
    are engine-deterministic.
    """
    counts = df.groupBy(strata_col).agg(F.count("*").alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("n_total"))
    pairs = []
    for stratum, frac in sorted(target_fractions.items()):
        pairs.extend([F.lit(stratum), F.lit(float(frac))])
    targets = F.create_map(*pairs)
    target = F.coalesce(targets[F.col(strata_col)], F.lit(0.0))
    observed = F.col("n_rows").cast("double") / F.col("n_total").cast("double")
    weight = F.least(target / observed, F.lit(float(weight_cap)))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            strata_col,
            "n_rows",
            observed.alias("observed_fraction"),
            target.alias("target_fraction"),
            weight.alias("weight"),
        )
    )


def temperature_mix(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    inv_temperature: float = 0.5,
    target_rows: int = 10_000,
    salt: str = "tmix",
) -> DataFrame:
    """Temperature-scaled source sampling — the standard multi-source LLM
    data recipe (mC4/ROOTS-style): sampling shares p_s ∝ n_s^α with
    α = ``inv_temperature`` = 1/T. Exponents α < 1 (T > 1) FLATTEN the
    source distribution — head sources down-sampled, tail sources
    surfaced — which is the published recipe (mC4 uses α ≈ 0.3); the
    default 0.5 (T=2) is a mild flatten. Exponents α > 1 (T < 1) SHARPEN
    toward head sources instead — callers wanting the tail-surfacing
    behavior must keep α < 1.

    .. warning:: BREAKING DEFAULT CHANGE — ``inv_temperature`` defaulted
       to ``2.0`` (sharpen) before 2026-08; it now defaults to ``0.5``
       (flatten), matching the published mC4/ROOTS recipe. Callers that
       relied on the old sharpening default must pass
       ``inv_temperature=2.0`` explicitly.

    Per-source acceptance rate r_s = min(1, target_rows * p_s / n_s);
    rows are kept by the same deterministic hash-bucket rule as
    `stratified_sample` (h32(salt||id) % DENOM < floor(r_s * DENOM)) —
    stable across runs AND engines, so the DuckDB oracle replays it
    bit-for-bit (every arithmetic step is IEEE-exact given the exact
    integer counts).

    Scale shape: ONE map-side-combined count aggregate (#strata rows), a
    broadcast of the #strata rate table back onto the corpus, and a
    narrow filter — no extra shuffle of the data itself.
    """
    counts = df.groupBy(strata_col).agg(F.count("*").alias("n_rows"))
    powed = counts.withColumn(
        "p_raw",
        F.pow(F.col("n_rows").cast("double"), F.lit(float(inv_temperature))),
    )
    tot = powed.agg(F.sum("p_raw").alias("z"))
    rates = powed.crossJoin(F.broadcast(tot)).select(
        strata_col,
        F.col("n_rows"),
        F.least(
            F.lit(1.0),
            F.lit(float(target_rows))
            * (F.col("p_raw") / F.col("z"))
            / F.col("n_rows").cast("double"),
        ).alias("rate"),
    )
    bucket = h32(F.concat(F.lit(salt), F.col(id_col).cast("string"))) % DENOM
    return (
        df.join(F.broadcast(rates.select(strata_col, "rate")), strata_col)
        .filter(bucket < F.floor(F.col("rate") * DENOM))
        .drop("rate")
    )


def capped_sample_per_group(
    df: DataFrame,
    group_col: str,
    caps: dict[str, int],
    id_col: str,
    salt: str = "cap",
    default_cap: int = 0,
    safety: float = 2.0,
) -> DataFrame:
    """EXACT per-group row caps ("at most N docs per source"), decided by
    a deterministic salted hash order — the count-budgeted complement of
    `stratified_sample`'s fractions, and the standard way to hold a
    balanced training mix to per-source document budgets. Keeps, for
    each group, the ``cap`` rows with the smallest ``(h32(salt||id),
    id)`` — stable across runs, retries, partitionings, and engines
    (DuckDB's ROW_NUMBER over the identical hash reproduces the set
    row-for-row).

    Scale shape (the naive plan is a global window over EVERY row —
    a full shuffle of the corpus into per-group sorts, with the
    biggest source becoming one giant sort task): here the window only
    ever sees O(sum of caps) rows. Pass 1 takes map-side-combinable
    group counts (k rows to the driver — k = #sources, small by
    construction). Pass 2 keeps rows whose uniform 32-bit hash falls
    under ``safety * cap / n`` of the hash space — a narrow, shuffle-
    free predicate that leaves ~safety*cap survivors per group. A
    verification count then EXACTLY detects the (hash-fluctuation)
    case where a group's survivors fell short of its cap, and only
    those groups fall back to threshold = full space, so the final
    ranked window is provably identical to the naive plan while
    ranking ~safety*caps rows instead of the corpus.
    """
    from pyspark.sql import Window

    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
            1, 8),
        16, 10,
    ).cast("bigint")
    with_h = df.withColumn("__h", h)
    space = 1 << 32

    def cap_of(g):
        return int(caps.get(g, default_cap))

    # pass 1: exact group sizes (k rows; k = #groups, bounded)
    counts = {
        r[0]: int(r[1])
        for r in with_h.groupBy(group_col).count().collect()
    }
    thresholds = {}
    for g, n in counts.items():
        cap = cap_of(g)
        if cap <= 0:
            thresholds[g] = -1          # group dropped entirely
        elif n <= cap:
            thresholds[g] = space       # keep-all: no ranking needed
        else:
            thresholds[g] = min(
                space, int(space * safety * cap / n) + 1)
    pairs = []
    for g, t in sorted(thresholds.items()):
        pairs.extend([F.lit(g), F.lit(t)])
    thr = F.coalesce(
        F.create_map(*pairs)[F.col(group_col)], F.lit(-1))
    survivors = with_h.filter(F.col("__h") < thr)

    # verification: any group whose survivor pool fell short of its cap
    # (possible hash fluctuation) re-runs with the FULL hash space —
    # exactness never rests on the safety factor
    got = {
        r[0]: int(r[1])
        for r in survivors.groupBy(group_col).count().collect()
    }
    short = [
        g for g, n in counts.items()
        if 0 < thresholds.get(g, -1) < space
        and got.get(g, 0) < min(cap_of(g), n)
    ]
    if short:
        widen = F.col(group_col).isin([str(g) for g in short])
        survivors = with_h.filter(widen | (F.col("__h") < thr))

    w = Window.partitionBy(group_col).orderBy("__h", id_col)
    return (
        survivors
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.coalesce(
            F.create_map(*[
                x for g in sorted(counts) for x in
                (F.lit(g), F.lit(cap_of(g)))
            ])[F.col(group_col)], F.lit(0)))
        .drop("__h", "__rn")
    )

"""Format-layer suite entries: each query round-trips driver testdata through
a LanceDataset (CTAS → versioned ops → scan) and returns a result whose
oracle is plain SQL over the ORIGINAL parquet tables — so the driver's
DuckDB gate checks the whole format stack (two-phase write, manifests,
deletion vectors, time travel, merge) for value-exact correctness.

Datasets are (re)built under .scratch/ on every call — deterministic inputs
give deterministic fragments, and rebuilding keeps the entries idempotent for
repeated driver runs.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..format.dataset import LanceDataset
from ..operators import dml
from ..tables import load_table
from . import register

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), ".scratch")


def _fresh_path(sf_dir: str, name: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(_SCRATCH, f"{tag}-{name}.lance")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(_SCRATCH, exist_ok=True)
    return path


# ---------------------------------------------------------------------------
# lf01 — CTAS + filtered/projected scan round-trip.
# ---------------------------------------------------------------------------
@register(
    "lf01_roundtrip_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_quantity >= 30
    ORDER BY l_orderkey, l_linenumber
    """,
    doc="format: CTAS from lineitem, filtered+projected scan back",
    tags=("format", "scan"),
)
def lf01(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _fresh_path(sf_dir, "lf01")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    # fragment size forced low so even sf0.001 exercises multi-fragment scans
    ds = LanceDataset.create(path, li, max_rows_per_file=25_000)
    return ds.to_df(
        spark,
        columns=["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"],
        filter="l_returnflag = 'R' AND l_quantity >= 30",
    ).orderBy("l_orderkey", "l_linenumber")


# ---------------------------------------------------------------------------
# lf02 — time travel: read the pre-append version (A10).
# ---------------------------------------------------------------------------
@register(
    "lf02_time_travel",
    oracle="""
    SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
    FROM orders WHERE YEAR(o_orderdate) < 1997
    GROUP BY YEAR(o_orderdate)
    ORDER BY o_year
    """,
    doc="format: append then read VERSION AS OF the pre-append snapshot",
    tags=("format", "time-travel"),
)
def lf02(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _fresh_path(sf_dir, "lf02")
    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.year("o_orderdate") < 1997)
    new = orders.filter(F.year("o_orderdate") >= 1997)
    ds = LanceDataset.create(path, old)
    v1 = ds.version
    ds.append(new)  # advances to v2 — the v1 snapshot must be unaffected
    snap = LanceDataset.open(path, version=v1)
    return (
        snap.to_df(spark)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(38,2)")).cast("double").alias("total"),
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# lf03 — merge-on-read DELETE: deletion vectors must hide rows from scans.
# ---------------------------------------------------------------------------
@register(
    "lf03_mor_delete",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,2))) AS DOUBLE) AS bal
    FROM customer WHERE NOT (c_acctbal < 0)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="format: MoR delete via deletion vectors, scan sees survivors only",
    tags=("format", "delete", "mor"),
)
def lf03(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _fresh_path(sf_dir, "lf03")
    cust = load_table(spark, sf_dir, "customer")
    ds = LanceDataset.create(path, cust, max_rows_per_file=500)
    ds = dml.delete(ds, spark, "c_acctbal < 0")
    return (
        ds.to_df(spark)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(38,2)")).cast("double").alias("bal"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# lf04 — UPDATE: delete-and-reinsert with expression evaluation.
# ---------------------------------------------------------------------------
@register(
    "lf04_update",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE o_orderkey < 5000
    ORDER BY o_orderkey
    """,
    doc="format: UPDATE SET price = price * 1.1 WHERE status = 'O'",
    tags=("format", "update", "mor"),
)
def lf04(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _fresh_path(sf_dir, "lf04")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
    ds = LanceDataset.create(path, orders, max_rows_per_file=1000)
    ds = dml.update(
        ds, spark, {"o_totalprice": "o_totalprice * 1.1"}, "o_orderstatus = 'O'"
    )
    return ds.to_df(spark).select("o_orderkey", "o_totalprice").orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# lf05 — MERGE: matched-update + not-matched-insert in one transaction.
# ---------------------------------------------------------------------------
@register(
    "lf05_merge",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000.0
                ELSE c_acctbal END AS c_acctbal
    FROM customer
    UNION ALL
    SELECT c_custkey + 1000000, 42.0 FROM customer WHERE c_custkey % 100 = 0
    ORDER BY c_custkey
    """,
    doc="format: MERGE with matched-update and not-matched-insert",
    tags=("format", "merge", "mor"),
)
def lf05(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _fresh_path(sf_dir, "lf05")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    # ~8 fragments at any scale: multi-fragment deletion-union coverage at
    # sf0.01 without hundreds of tiny fragments at sf0.1+.
    ds = LanceDataset.create(
        path, cust, max_rows_per_file=max(500, cust.count() // 8)
    )
    matched_src = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", (F.col("c_acctbal") + 1000.0).alias("c_acctbal")
    )
    new_src = cust.filter(F.col("c_custkey") % 100 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.lit(42.0).alias("c_acctbal"),
    )
    source = matched_src.unionAll(new_src)
    ds = dml.merge(
        ds, spark, source, on="c_custkey",
        matched_update={"c_acctbal": "_src_c_acctbal"},
        insert_not_matched=True,
    )
    return ds.to_df(spark).select("c_custkey", "c_acctbal").orderBy("c_custkey")


# ---------------------------------------------------------------------------
# lf06 — COUNT(*) fast path: answered from the manifest, zero data scanned
# (A8) — and it must stay deletion-aware.
# ---------------------------------------------------------------------------
@register(
    "lf06_count_star_fast_path",
    oracle="""
    SELECT (SELECT COUNT(*) FROM supplier) AS total_before,
           (SELECT COUNT(*) FROM supplier WHERE NOT (s_acctbal < 0))
             AS total_after_delete
    """,
    doc="format: O(1) manifest COUNT(*), deletion-aware",
    tags=("format", "count"),
)
def lf06(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _fresh_path(sf_dir, "lf06")
    supp = load_table(spark, sf_dir, "supplier")
    ds = LanceDataset.create(
        path, supp, max_rows_per_file=max(5, supp.count() // 8)
    )
    before = ds.count_rows()  # no scan: manifest total
    ds = dml.delete(ds, spark, "s_acctbal < 0")
    after = ds.count_rows()
    return spark.createDataFrame(
        [(before, after)], "total_before long, total_after_delete long"
    )


# ---------------------------------------------------------------------------
# lf07 — TIMESTAMP AS OF time travel: latest version with commit time <= ts
# (A10, `LanceRuntime.java:361-388` getVersionAtTimestamp semantics).
# ---------------------------------------------------------------------------
@register(
    "lf07_timestamp_time_travel",
    oracle="""
    SELECT p_brand, COUNT(*) AS n,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(38,2))) AS DOUBLE) AS price
    FROM part
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    doc="format: FOR TIMESTAMP AS OF resolves the pre-delete snapshot",
    tags=("format", "time-travel"),
)
def lf07(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time

    path = _fresh_path(sf_dir, "lf07")
    part = load_table(spark, sf_dir, "part")
    ds = LanceDataset.create(path, part.filter(F.col("p_partkey") % 2 == 0))
    ds = ds.append(part.filter(F.col("p_partkey") % 2 == 1))  # v2 = full table
    ts_v2 = ds.manifest.timestamp_ms
    # Commit clocks are millisecond-granular; ensure the delete commit lands
    # strictly after v2's timestamp so `asof ts_v2` resolves to v2.
    time.sleep(0.01)
    dml.delete(ds, spark, "p_size > 25")  # v3 — must be invisible at ts_v2
    snap = LanceDataset.open(path, asof_timestamp_ms=ts_v2)
    return (
        snap.to_df(spark)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("p_retailprice").cast("decimal(38,2)"))
            .cast("double")
            .alias("price"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# lf09 — MERGE with multiple WHEN MATCHED clauses, first-match-wins
# (reference merge.md "Conditional update or delete": WHEN MATCHED AND
# qty = 0 THEN DELETE; WHEN MATCHED THEN UPDATE).
# ---------------------------------------------------------------------------
@register(
    "lf09_merge_conditional_clauses",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_custkey % 5 = 0
                THEN c_acctbal + (c_custkey % 7) ELSE c_acctbal END AS c_acctbal
    FROM customer
    WHERE NOT (c_custkey % 10 = 0)
    ORDER BY c_custkey
    """,
    doc="format: MERGE with ordered matched clauses (conditional DELETE then UPDATE)",
    tags=("format", "merge", "mor"),
)
def lf09(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _fresh_path(sf_dir, "lf09")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ds = LanceDataset.create(
        path, cust, max_rows_per_file=max(500, cust.count() // 8)
    )
    source = cust.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, F.lit(-1.0))
        .otherwise((F.col("c_custkey") % 7).cast("double"))
        .alias("delta"),
    )
    ds = dml.merge_multi(
        ds, spark, source, on="c_custkey",
        matched_clauses=[
            ("_src_delta < 0", None),  # WHEN MATCHED AND delta < 0 THEN DELETE
            (None, {"c_acctbal": "c_acctbal + _src_delta"}),  # THEN UPDATE
        ],
    )
    return ds.to_df(spark).select("c_custkey", "c_acctbal").orderBy("c_custkey")


# ---------------------------------------------------------------------------
# lf08 — wide-types round-trip (SURVEY §1.3, mirrors the reference's
# TestLanceArrowToPageScanner wide-types enumeration): every storable type —
# int32/int64, float32/float64, string (incl. 2000-char LargeUtf8-ish),
# binary, date, timestamp (UTC) + timestamp_ntz, decimal, array<int>,
# nested struct, boolean, nulls — written through the fragment layer and
# read back value-exactly. Timestamps leave the query as epoch integers and
# binary as hex (engine-representation-proof projections); the STORED
# columns are the real types.
# ---------------------------------------------------------------------------
@register(
    "lf08_wide_types_roundtrip",
    oracle="""
    SELECT p_partkey,
           CAST(p_partkey AS INTEGER) AS i32,
           p_partkey * 1000000000 AS i64,
           CAST(round(CAST(CAST(p_retailprice AS REAL) AS DOUBLE) * 100) AS BIGINT) AS f32_cents,
           CAST(round(p_retailprice * 1.5 * 1000) AS BIGINT) AS f64_mills,
           rpad(p_name, 2000, 'x') AS s_long,
           hex(encode(substr(p_name, 1, 5))) AS bin_hex,
           DATE '1992-01-01' + CAST(p_partkey % 1000 AS INT) AS d,
           (802008000 + p_partkey % 86400) * 1000000 AS ts_us,
           (802008000 + p_partkey % 3600) * 1000000 AS ntz_us,
           CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS dec2_cents,
           array_to_string([CAST(p_partkey % 10 AS INT), CAST(p_partkey % 7 AS INT)], ',') AS arr_s,
           CAST(p_partkey % 5 AS INT) AS st_a,
           substr(p_name, 1, 3) AS st_b,
           p_partkey % 2 = 0 AS flag,
           CASE WHEN p_partkey % 97 = 0 THEN NULL ELSE p_name END AS s_null
    FROM part
    ORDER BY p_partkey
    """,
    doc="format: wide-types fixture round-trip (ints/floats/str/bin/date/ts/"
        "ntz/decimal/array/struct/bool/null)",
    tags=("format", "types"),
)
def lf08(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _fresh_path(sf_dir, "lf08")
    part = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    wide = part.select(
        "p_partkey",
        k.cast("int").alias("i32"),
        (k * 1000000000).alias("i64"),
        F.col("p_retailprice").cast("float").alias("f32"),
        (F.col("p_retailprice") * 1.5).alias("f64"),
        F.rpad("p_name", 2000, "x").alias("s_long"),
        F.encode(F.substring("p_name", 1, 5), "UTF-8").alias("bin"),
        F.date_add(F.lit("1992-01-01").cast("date"), (k % 1000).cast("int")).alias("d"),
        F.timestamp_seconds(F.lit(802008000) + k % 86400).alias("ts"),
        F.timestamp_seconds(F.lit(802008000) + k % 3600)
        .cast("timestamp_ntz")
        .alias("ts_ntz"),
        F.col("p_retailprice").cast("decimal(12,2)").alias("dec2"),
        F.array((k % 10).cast("int"), (k % 7).cast("int")).alias("arr"),
        F.struct(
            (k % 5).cast("int").alias("a"), F.substring("p_name", 1, 3).alias("b")
        ).alias("st"),
        (k % 2 == 0).alias("flag"),
        F.when(k % 97 == 0, None).otherwise(F.col("p_name")).alias("s_null"),
    )
    ds = LanceDataset.create(path, wide, max_rows_per_file=5000)
    back = ds.to_df(spark)
    # engine-proof projections: ts/ntz → epoch micros, binary → hex,
    # struct → flattened leaf columns (Spark Row vs DuckDB dict canon
    # diverge). Float32/decimal outputs are projected to INTEGERS
    # (registry contract: no float32/decimal outputs in oracle-gated
    # queries — the driver's pandas canonicalizer diverges on those
    # dtypes even when values are bitwise-equal): f32 widens exactly to
    # double then rounds to cents; dec2 scales exactly to cents. The
    # STORED columns remain real float/double/decimal — the round-trip
    # fidelity being tested is unchanged.
    return back.select(
        "p_partkey",
        "i32",
        "i64",
        F.round(F.col("f32").cast("double") * 100, 0).cast("bigint").alias("f32_cents"),
        F.round(F.col("f64") * 1000, 0).cast("bigint").alias("f64_mills"),
        "s_long",
        F.hex("bin").alias("bin_hex"),
        "d",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros(F.col("ts_ntz").cast("timestamp")).alias("ntz_us"),
        (F.col("dec2") * 100).cast("bigint").alias("dec2_cents"),
        # the STORED column is a real array<int>; the OUTPUT is stringified
        # because the correctness driver's pandas canonicalizer cannot sort
        # list-typed cells (registry contract: scalar-only output columns)
        F.array_join(F.col("arr").cast("array<string>"), ",").alias("arr_s"),
        F.col("st.a").alias("st_a"),
        F.col("st.b").alias("st_b"),
        "flag",
        "s_null",
    ).orderBy("p_partkey")


# ---------------------------------------------------------------------------
# lf10 — compaction: small + deletion-bearing fragments rewritten to
# full-size ones, deletion vectors retired, values unchanged. The
# small-file maintenance op of every log-structured format.
# ---------------------------------------------------------------------------
@register(
    "lf10_compaction",
    oracle="""
    SELECT n_nationkey, n_name, s_cnt FROM (
      SELECT n.n_nationkey, n.n_name, COUNT(s.s_suppkey) AS s_cnt
      FROM nation n LEFT JOIN supplier s
        ON s.s_nationkey = n.n_nationkey AND NOT (s.s_acctbal < 0)
      GROUP BY n.n_nationkey, n.n_name) t
    ORDER BY n_nationkey
    """,
    doc="format: compact small/DV fragments, values identical after rewrite",
    tags=("format", "compaction"),
)
def lf10(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp_path = _fresh_path(sf_dir, "lf10")
    supp = load_table(spark, sf_dir, "supplier")
    # deliberately tiny fragments + a delete → DV-bearing fragments
    ds = LanceDataset.create(supp_path, supp, max_rows_per_file=50)
    ds = dml.delete(ds, spark, "s_acctbal < 0")
    before = len(ds.manifest.fragments)
    ds = ds.compact(spark, target_rows_per_file=100_000)
    after = len(ds.manifest.fragments)
    if after > before or (before > 1 and after >= before):
        raise AssertionError(
            f"compaction did not reduce fragments: {before} -> {after}"
        )
    if any(f.deletion for f in ds.manifest.fragments):
        raise AssertionError("compaction left deletion vectors behind")
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.join(
            ds.to_df(spark),
            F.col("s_nationkey") == F.col("n_nationkey"),
            "left",
        )
        .groupBy("n_nationkey", "n_name")
        .agg(F.count("s_suppkey").alias("s_cnt"))
        .orderBy("n_nationkey")
    )


# ---------------------------------------------------------------------------
# lf11 — the $row_address hidden column (SURVEY §1.1 "Row address",
# `RowAddress.java:22-43`, `LanceFragmentPageSource.java:62-75`): 64-bit
# fragment_id << 32 | row_index, selectable on scan. The dataset is built
# from a single sorted partition with a fixed rows-per-file so the oracle
# can recompute every address from row_number arithmetic.
# ---------------------------------------------------------------------------
@register(
    "lf11_row_address_column",
    oracle="""
    WITH rn AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS rn
      FROM documents)
    SELECT doc_id,
           (rn // 200) * 4294967296 + (rn % 200) AS rowaddr,
           CAST(rn // 200 AS BIGINT) AS fragment_id,
           CAST(rn % 200 AS BIGINT) AS row_index
    FROM rn
    ORDER BY doc_id
    """,
    doc="format: $row_address virtual column (fragment_id << 32 | row_index)",
    tags=("format", "rowaddr"),
)
def lf11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format.dataset import fragment_id_of, row_index_of

    path = _fresh_path(sf_dir, "lf11")
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )
    ds = LanceDataset.create(path, docs, max_rows_per_file=200)
    out = ds.to_df(spark, with_row_address=True)
    return out.select(
        "doc_id",
        F.col("_rowaddr").alias("rowaddr"),
        fragment_id_of(F.col("_rowaddr")).alias("fragment_id"),
        row_index_of(F.col("_rowaddr")).alias("row_index"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# lf12 — schema evolution: metadata-only ADD COLUMN (old fragments read
# NULL), append under the new schema, UPDATE backfills the new column for
# old rows (MoR), then metadata-only DROP COLUMN. Beyond-reference: the
# reference connector rejects evolution (`TestLanceConnectorTest.java:
# 139-146`); a 100 TB training-data table accretes label/score columns over
# its life and cannot be rewritten to add one, so this is the Lance-core-
# style metadata-only path (format/dataset.py add_column/drop_column).
# ---------------------------------------------------------------------------
@register(
    "lf12_schema_evolution",
    oracle="""
    WITH base AS (
      SELECT n_nationkey, n_name, n_regionkey,
             CAST(NULL AS BIGINT) AS pop
      FROM nation
      UNION ALL
      SELECT k, 'NATION_' || CAST(k AS VARCHAR), k % 5,
             CAST(k * 10 AS BIGINT)
      FROM (SELECT unnest(generate_series(100, 104)) AS k)
    )
    SELECT n_nationkey, n_name,
           CASE WHEN n_regionkey = 2
                THEN CAST(n_nationkey * 7 AS BIGINT) ELSE pop END AS pop
    FROM base
    ORDER BY n_nationkey
    """,
    doc="format: ALTER TABLE ADD/DROP COLUMN metadata-only evolution with "
        "null-filled old fragments, new-schema appends, and MoR backfill",
    tags=("format", "evolution", "alter"),
)
def lf12(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _fresh_path(sf_dir, "lf12")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    ds = LanceDataset.create(path, nation, max_rows_per_file=8)
    ds = ds.add_column("pop", "bigint")
    extra = spark.range(100, 105).selectExpr(
        "CAST(id AS INT) AS n_nationkey",
        "CONCAT('NATION_', CAST(id AS STRING)) AS n_name",
        "CAST(id % 5 AS INT) AS n_regionkey",
        "id * 10 AS pop",
    )
    ds = ds.append(extra)
    ds = dml.update(
        ds, spark, {"pop": "CAST(n_nationkey * 7 AS BIGINT)"},
        "n_regionkey = 2",
    )
    ds = ds.drop_column("n_regionkey")
    return ds.to_df(spark).orderBy("n_nationkey")


# ---------------------------------------------------------------------------
# lf13 — change-data-feed read (format/dataset.py table_changes): the net
# row-level diff between two versions. Appends surface as inserts (with the
# target version's deletion vectors applied — a row appended AND deleted
# inside the range never existed to a reader and is absent), MoR deletes
# surface as deletes carrying the deleted rows' values. The appended batch
# deliberately includes one row the later DELETE also hits, pinning the
# net-semantics corner.
# ---------------------------------------------------------------------------
@register(
    "lf13_table_changes",
    oracle="""
    WITH added AS (
      SELECT k AS n_nationkey, 'NATION_' || CAST(k AS VARCHAR) AS n_name,
             k % 5 AS n_regionkey
      FROM (SELECT unnest(generate_series(100, 104)) AS k))
    SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
           CAST(n_regionkey AS INT) AS n_regionkey,
           'insert' AS _change_type
    FROM added WHERE n_regionkey <> 3
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey, 'delete' AS _change_type
    FROM nation WHERE n_regionkey = 3
    ORDER BY _change_type, n_nationkey
    """,
    doc="format: CDC table_changes — appends as inserts (net of in-range "
        "deletes), MoR deletes with recovered row values",
    tags=("format", "cdc", "diff"),
)
def lf13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format.dataset import table_changes

    path = _fresh_path(sf_dir, "lf13")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    ds = LanceDataset.create(path, nation, max_rows_per_file=8)  # v1
    extra = spark.range(100, 105).selectExpr(
        "CAST(id AS INT) AS n_nationkey",
        "CONCAT('NATION_', CAST(id AS STRING)) AS n_name",
        "CAST(id % 5 AS INT) AS n_regionkey",
    )
    ds = ds.append(extra)  # v2
    ds = dml.delete(ds, spark, "n_regionkey = 3")  # v3 (hits 103 too)
    return table_changes(spark, path, 1, ds.version).orderBy(
        "_change_type", "n_nationkey"
    )


# ---------------------------------------------------------------------------
# lf14 — REAL `.lance` format interop (format/lance_native.py): write a
# genuine Lance v1 legacy-format dataset (protobuf manifest, plain value
# pages, page table, LANC footer — the exact on-disk layout of the
# reference's checked-in fixtures, `example_db/test_table1.lance`), then
# open it with the native decoder and scan it back. The byte layout and
# resolution rules are pinned separately against the reference's binary
# fixtures in tests/test_lance_native.py (values from
# `TestLanceFragmentPageSource.java:199-240`).
# ---------------------------------------------------------------------------
@register(
    "lf14_native_lance_interop",
    oracle="""
    SELECT n_nationkey AS nationkey,
           n_nationkey * 10 AS decade,
           CAST(n_regionkey AS BIGINT) - 2 AS region_off
    FROM nation
    ORDER BY nationkey
    """,
    doc="format: real .lance v1 round-trip (native protobuf manifest + "
        "value pages + LANC footer) via the fixture-validated decoder",
    tags=("format", "interop", "lance-native"),
)
def lf14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format.lance_native import (
        LanceNativeDataset,
        create_native_dataset,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf14-native")
    src = (
        load_table(spark, sf_dir, "nation")
        .selectExpr(
            "CAST(n_nationkey AS BIGINT) AS nationkey",
            "CAST(n_nationkey AS BIGINT) * 10 AS decade",
            "CAST(n_regionkey AS BIGINT) - 2 AS region_off",
        )
        .orderBy("nationkey")
    )
    create_native_dataset(src.coalesce(1), path)
    ds = LanceNativeDataset(path)
    assert ds.version == 1 and ds.count_rows() == src.count()
    # read back through the DISTRIBUTED path: format("lance") auto-detects
    # binary manifests and decodes fragment-parallel on executors
    register_lance_datasource(spark)
    return spark.read.format("lance").load(path).orderBy("nationkey")


# ---------------------------------------------------------------------------
# lf15 — native-path FILTER PUSHDOWN (A4 parity on real `.lance` scans):
# a selective predicate over a MULTI-FRAGMENT genuine Lance dataset is
# pushed into the fragment read and evaluated with late materialization
# (filter columns decode for every live row; everything else decodes only
# at matching indices — zero decode for fragments with no matches).
# Boundedness is asserted separately in tests/test_lance_native.py via a
# decode-call counter; this query gates VALUE correctness of the pushed
# path against DuckDB. Reference: substrait filter pushdown per fragment,
# `LanceFragmentPageSource.java:121-151`.
# ---------------------------------------------------------------------------
@register(
    "lf15_native_pushdown_scan",
    oracle="""
    SELECT CAST(c_nationkey AS BIGINT) AS nk,
           COUNT(*) AS n_cust,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_key
    FROM customer
    WHERE c_nationkey >= 20
    GROUP BY 1
    ORDER BY 1
    """,
    doc="format: pushed filter over a multi-fragment real .lance dataset "
        "(late-materialized native scan)",
    tags=("format", "interop", "lance-native", "pushdown"),
)
def lf15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format.lance_native import (
        LanceNativeDataset,
        create_native_dataset,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf15-native-pushdown")
    src = (
        load_table(spark, sf_dir, "customer")
        .selectExpr(
            "CAST(c_custkey AS BIGINT) AS custkey",
            "CAST(c_nationkey AS BIGINT) AS nk",
        )
    )
    # 4 fragments so the pushed filter demonstrably runs per fragment
    # (distributed CTAS: one fragment per range partition)
    create_native_dataset(src.repartitionByRange(4, "custkey"), path)
    ds = LanceNativeDataset(path)
    assert ds.count_rows() == src.count()
    assert len(ds.manifest.fragments) == 4
    register_lance_datasource(spark)
    return (
        spark.read.format("lance").load(path)
        .filter(F.col("nk") >= 20)  # pushed into the native fragment scan
        .groupBy("nk")
        .agg(
            F.count("*").alias("n_cust"),
            F.sum("custkey").alias("sum_key"),
        )
        .orderBy("nk")
    )


# ---------------------------------------------------------------------------
# lf16 — vector ANN over a REAL `.lance` dataset: the LanceDB flagship
# shape end-to-end through the interop path. Embedding vectors are written
# into a genuine Lance v1 dataset (fixed_size_list<float> value pages —
# the same layout as the reference's test_table4 vector fixture), the
# dataset is scanned back fragment-parallel via format("lance"), and the
# engine serves exact cosine top-k over the decoded vectors. Gates that
# the fsl page decode is value-exact enough for similarity math to match
# DuckDB bitwise, not just cell-compare.
# ---------------------------------------------------------------------------
def _lf16_cos_sql(a: str, b: str) -> str:
    def dot(x: str, y: str) -> str:
        return (
            f"list_reduce(list_transform(generate_series(1, len({x})),"
            f" i -> {x}[i]::DOUBLE * {y}[i]::DOUBLE), (acc, v) -> acc + v)"
        )

    return f"({dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})))"


@register(
    "lf16_native_vector_ann",
    oracle=f"""
    WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM sub
          WHERE vec_id < 5),
    scored AS (SELECT query_id, vec_id AS neighbor_id,
                      {_lf16_cos_sql('s.embedding', 'qv')} AS cosine
               FROM sub s, q WHERE vec_id <> query_id),
    ranked AS (SELECT query_id, neighbor_id, cosine,
                      CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id) AS BIGINT)
                        AS rank
               FROM scored)
    SELECT query_id, neighbor_id, cosine, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="format: exact cosine ANN over vectors round-tripped through a "
        "REAL .lance v1 dataset (fsl<float> pages, fragment-parallel scan)",
    tags=("format", "interop", "lance-native", "similarity", "ann"),
)
def lf16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format.lance_native import (
        LanceNativeDataset,
        create_native_dataset,
    )
    from ..operators.similarity import cosine_topk
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf16-native-ann")
    src = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
    )
    dim = len(src.select("embedding").first()["embedding"])
    create_native_dataset(
        src.coalesce(1), path, fsl_columns={"embedding": dim})
    ds = LanceNativeDataset(path)
    assert ds.count_rows() == src.count()
    register_lance_datasource(spark)
    native = spark.read.format("lance").load(path)
    # query side: the parquet relation (distinct source — and since r14
    # the PythonScanRebind rule makes even filtered re-reads of one
    # format("lance") relation safe; see
    # tests/test_datasource.py::test_pyds_scan_rebind_self_union)
    queries = src.filter(F.col("vec_id") < 5)
    return cosine_topk(native, queries, k=5).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# lf17 — PERSISTED vector index on the native `.lance` interop path: the
# index is written in the REAL old-Lance `_indices/<uuid>/index.idx`
# binary layout (IVF partition bodies [pq codes][row addresses] + Index
# proto footer — the exact format test_table4's SDK-written fixtures use,
# reverse-engineered and pinned cell-exact in tests/test_lance_native.py),
# re-read through the same parser that decodes the fixtures, and searched
# with bounded per-cell range reads + residual-PQ shortlists + exact
# refine over late-materialized vectors. Self-validating like s09: the
# all-cells search must equal brute force ORDER-EXACTLY and the bounded
# probe must provably read less than the corpus; the oracle value-checks
# the booleans. Reference: LanceFragmentPageSource.java:126 (index-aware
# scans), FIXTURES.md §4.
# ---------------------------------------------------------------------------
@register(
    "lf17_native_persisted_index_ann",
    oracle="""
    SELECT vec_id AS query_id,
           CAST(5 AS BIGINT) AS n_ann,
           TRUE AS exact_when_all_cells,
           TRUE AS bounded_when_probed
    FROM embeddings WHERE vec_id < 8
    ORDER BY query_id
    """,
    doc="format: persisted IVF_PQ index in the real .lance binary layout "
        "— write, re-parse, bounded probe + exact refine, order-exact vs "
        "brute force at nprobe=all",
    tags=("format", "interop", "lance-native", "similarity", "ann", "index"),
)
def lf17(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    import numpy as np

    from ..format.lance_native import (
        create_native_dataset, list_native_vector_indices,
        native_index_search, write_native_vector_index)
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf17-native-index")
    src = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 400)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
    )
    dim = len(src.select("embedding").first()["embedding"])
    cut = int(src.selectExpr(
        "percentile_approx(vec_id, 0.5) AS c").first()["c"])
    create_native_dataset(
        src.where(f"vec_id < {cut}").coalesce(1), path,
        fsl_columns={"embedding": dim})
    register_lance_datasource(spark)
    # second fragment via the DSv2 append: real fragment_id<<32
    # addresses, not just row numbers
    src.where(f"vec_id >= {cut}").coalesce(1) \
        .write.format("lance").mode("append").save(path)
    write_native_vector_index(path, "embedding", n_cells=4, nsub=8)
    idx = list_native_vector_indices(path)[-1]

    # reference math comes from the SCAN (bounded slice): vectors, ids,
    # and TRUE row addresses — no assumption about fragment layout
    ref = (
        spark.read.format("lance").option("row_address", "true")
        .load(path).select("vec_id", "embedding", "_row_address")
        .orderBy("vec_id").collect()
    )
    vecs = np.array([r["embedding"] for r in ref], dtype=np.float32)
    ids = np.array([int(r["vec_id"]) for r in ref])
    addr = np.array([int(r["_row_address"]) for r in ref],
                    dtype=np.uint64)
    rows = ref
    queries = vecs[:8]

    res_all = native_index_search(path, idx, queries, k=5, nprobe=idx.n_cells)
    res_b = native_index_search(path, idx, queries, k=5, nprobe=2)
    idx_size = os.path.getsize(idx.path)
    out = []
    for qi in range(len(queries)):
        true = addr[np.argsort(((vecs - queries[qi]) ** 2).sum(1),
                               kind="stable")[:5]].tolist()
        exact_ok = [int(a) for a in res_all[qi]["neighbors"]] == [
            int(a) for a in true]
        b = res_b[qi]
        bounded_ok = (
            b["cells_probed"] == 2
            and b["n_candidates"] < len(rows)
            and b["index_bytes_read"] < idx_size
            and len(b["neighbors"]) == 5
        )
        out.append((int(ids[qi]), 5, bool(exact_ok), bool(bounded_ok)))
    return spark.createDataFrame(
        out,
        "query_id long, n_ann long, exact_when_all_cells boolean, "
        "bounded_when_probed boolean",
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# lf18 — FILE-v2 data files through the full engine path: the dataset's
# fragments are written in the MODERN Lance file layout (40-byte footer
# 0.3, column-metadata offset tables, [end-offsets][payload] var-width
# buffer pairs — the format current Lance SDKs produce and the
# test_table5 / wide_types fixtures carry), one fragment per writer call,
# then scanned back fragment-parallel via format("lance") and aggregated.
# Gates that the v2 WRITE slice (new this round) round-trips through the
# same per-file-footer dispatch that reads the SDK fixtures — not just
# through unit tests. Reference: FIXTURES.md §5, LanceArrowToPageScanner.
# ---------------------------------------------------------------------------
@register(
    "lf18_native_v2_file_scan",
    oracle="""
    SELECT substr(p_name, 1, 6) AS name6,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_c,
           MIN(p_partkey) AS min_key
    FROM part
    WHERE p_partkey <= 400
    GROUP BY substr(p_name, 1, 6)
    ORDER BY name6
    """,
    doc="format: FILE-v2 (footer 0.3) data files written and scanned back "
        "through format(\"lance\") — modern-layout round-trip in-engine",
    tags=("format", "interop", "lance-native", "v2"),
)
def lf18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format.lance_native import (
        LanceNativeDataset,
        create_native_dataset,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf18-native-v2")
    src = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 400)
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy("p_partkey")
    )
    cut = int(src.selectExpr(
        "percentile_approx(p_partkey, 0.5) AS c").first()["c"])
    create_native_dataset(
        src.where(f"p_partkey < {cut}").coalesce(1), path,
        file_version=2)
    register_lance_datasource(spark)
    # DSv2 append follows the dataset's FILE-v2 flavor
    src.where(f"p_partkey >= {cut}").coalesce(1) \
        .write.format("lance").mode("append").save(path)
    ds = LanceNativeDataset(path)
    assert ds.count_rows() == src.count()
    # the data files on disk really are FILE-v2 (footer 0.3)
    import glob
    import struct as _struct

    for f in glob.glob(os.path.join(path, "data", "*.lance")):
        raw = open(f, "rb").read()
        ver = _struct.unpack_from("<HH", raw, len(raw) - 8)
        if ver != (0, 3):
            raise AssertionError(f"{f} is not FILE-v2: footer {ver}")
    register_lance_datasource(spark)
    native = spark.read.format("lance").load(path)
    return (
        native.groupBy(F.substring("p_name", 1, 6).alias("name6"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("p_retailprice") * 100 + 0.5).cast("long"))
            .alias("price_c"),
            F.min("p_partkey").alias("min_key"),
        )
        .orderBy("name6")
    )


# ---------------------------------------------------------------------------
# lf19 — scalar (btree) index consumption on native `.lance` scans: the
# reference switches useScalarIndex(true) on for EVERY fragment scan
# (`LanceFragmentPageSource.java:126`; docs/src/performance.md "Lance
# will automatically use scalar indexes (btree, bitmap) if they cover
# the filter columns"). Here: the dataset's fragments are written
# natively, a btree sidecar (`_indices/<uuid>/index.idx`,
# format/lance_native.py write_native_scalar_index) is built over
# p_partkey, and the format("lance") scan resolves the pushed range
# predicate through page-bounded index lookups — the filter column
# decodes O(matches) values, not every live row. Proof columns pin the
# access path: idx_page_bounded (the probe read a strict subset of the
# index pages) and matches_unindexed (row-identical to the
# use_scalar_index=false scan).
# ---------------------------------------------------------------------------
@register(
    "lf19_native_scalar_index_scan",
    oracle="""
    SELECT p_partkey,
           substr(p_name, 1, 10) AS name10,
           CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS price_c,
           TRUE AS idx_page_bounded,
           TRUE AS matches_unindexed
    FROM part
    WHERE p_partkey BETWEEN 150 AND 250
    ORDER BY p_partkey
    """,
    doc="format: btree scalar-index consumption on a native .lance scan — "
        "pushed range filter resolved via page-bounded sidecar lookups",
    tags=("format", "interop", "lance-native", "scalar-index"),
)
def lf19(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format.lance_native import (
        list_native_scalar_indices,
        scalar_index_lookup,
        write_native_scalar_index,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf19-scalar-idx")
    src = (
        load_table(spark, sf_dir, "part")
        .select("p_partkey", "p_name", "p_retailprice")
    )
    from ..format.lance_native import create_native_dataset

    # three fragments via the distributed CTAS (range partitions)
    create_native_dataset(
        src.repartitionByRange(3, "p_partkey"), path)
    write_native_scalar_index(path, "p_partkey", page_rows=128)

    # driver-side access-path proof: the probe touches a strict subset of
    # the index pages (the same lookup the executor-side preselect runs)
    idx = [
        i for i in list_native_scalar_indices(path)
        if i.column == "p_partkey"
    ][-1]
    _rows, st = scalar_index_lookup(idx, lo=150, hi=250)
    page_bounded = bool(
        0 < st["pages_read"] < st["n_pages"]
        and sum(len(r) for r in _rows.values()) > 0
    )

    register_lance_datasource(spark)
    cond = (F.col("p_partkey") >= 150) & (F.col("p_partkey") <= 250)
    native = (
        spark.read.format("lance").load(path)
        .filter(cond)
        .select("p_partkey", "p_name", "p_retailprice")
    )
    unindexed = (
        spark.read.format("lance")
        .option("use_scalar_index", "false").load(path)
        .filter(cond)
        .select("p_partkey", "p_name", "p_retailprice")
    )
    a = sorted(tuple(r) for r in native.collect())
    b = sorted(tuple(r) for r in unindexed.collect())
    matches = bool(a == b and len(a) > 0)
    return (
        native.select(
            "p_partkey",
            F.substring("p_name", 1, 10).alias("name10"),
            F.floor(F.col("p_retailprice") * 100 + 0.5).cast("long")
            .alias("price_c"),
            F.lit(page_bounded).alias("idx_page_bounded"),
            F.lit(matches).alias("matches_unindexed"),
        )
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# lf20 — blob virtual columns on the NATIVE interop path: a field whose
# manifest proto carries `lance-encoding:blob=true` metadata stores a
# {position, size} descriptor struct; the engine surface is empty
# VARBINARY for the column plus hidden-from-storage
# `<col>__blob_pos`/`<col>__blob_size` BIGINTs (BlobUtils.java:23-111,
# LanceArrowToPageScanner.java:344-392,571-581). No public fixture ships
# a blob dataset (both test_table4 sidecars are vector indexes), so the
# dataset is produced by the native writer and scanned back through
# format("lance"). Proof column base_is_empty pins the empty-VARBINARY
# contract row by row.
# ---------------------------------------------------------------------------
@register(
    "lf20_native_blob_virtual_columns",
    oracle="""
    SELECT p_brand AS brand,
           COUNT(*) AS n,
           CAST(SUM(p_partkey * 100) AS BIGINT) AS pos_sum,
           CAST(SUM(p_size * 10) AS BIGINT) AS size_sum,
           TRUE AS base_is_empty
    FROM part
    WHERE p_partkey <= 300
    GROUP BY p_brand
    ORDER BY brand
    """,
    doc="format: blob descriptor structs on a native .lance dataset read "
        "back as empty VARBINARY + __blob_pos/__blob_size virtual columns",
    tags=("format", "interop", "lance-native", "blob"),
)
def lf20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format.lance_native import write_native_dataset
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf20-native-blob")
    rows = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 300)
        .select("p_partkey", "p_brand", "p_size")
        .orderBy("p_partkey")
        .collect()
    )
    write_native_dataset(path, {
        "p_partkey": [int(r["p_partkey"]) for r in rows],
        "p_brand": [str(r["p_brand"]) for r in rows],
        "img": [
            {"position": int(r["p_partkey"]) * 100,
             "size": int(r["p_size"]) * 10}
            for r in rows
        ],
    }, blob_columns={"img"})
    register_lance_datasource(spark)
    native = spark.read.format("lance").load(path)
    return (
        native.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").alias("n"),
            F.sum("img__blob_pos").alias("pos_sum"),
            F.sum("img__blob_size").alias("size_sum"),
            (F.sum(F.when(F.col("img") == F.lit(b""), 0).otherwise(1)) == 0)
            .alias("base_is_empty"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# lf21 — `$row_address` parity on the NATIVE path: the reference exposes a
# 64-bit row identity `fragment_id << 32 | row_index` on every scan
# (`RowAddress.java:22-43`, `LanceFragmentPageSource.java:36,62-75`; the
# JVM catalog's cat19 covers the SQL surface). Here the format("lance")
# read option `row_address=true` synthesizes the same identity on real
# `.lance` datasets. The dataset is written in THREE fragments of known
# sizes sorted by p_partkey, so every row's expected address is a pure
# function of its rank — the oracle value-checks fragment id, row index,
# and the recomposed address for every row.
# ---------------------------------------------------------------------------
@register(
    "lf21_native_row_address",
    oracle="""
    WITH ranked AS (
        SELECT p_partkey,
               ROW_NUMBER() OVER (ORDER BY p_partkey) - 1 AS rk,
               CAST((SELECT COUNT(*) FROM part WHERE p_partkey <= 300) // 3
                    AS BIGINT) AS third
        FROM part WHERE p_partkey <= 300
    )
    SELECT p_partkey,
           CAST(CASE WHEN rk < third THEN 0
                     WHEN rk < 2 * third THEN 1
                     ELSE 2 END AS BIGINT) AS frag_id,
           CAST(CASE WHEN rk < third THEN rk
                     WHEN rk < 2 * third THEN rk - third
                     ELSE rk - 2 * third END AS BIGINT) AS row_idx,
           CAST(CASE WHEN rk < third THEN 0
                     WHEN rk < 2 * third THEN 1
                     ELSE 2 END * 4294967296
                + CASE WHEN rk < third THEN rk
                       WHEN rk < 2 * third THEN rk - third
                       ELSE rk - 2 * third END AS BIGINT) AS row_address
    FROM ranked
    ORDER BY p_partkey
    """,
    doc="format: 64-bit $row_address identity (frag << 32 | row idx) "
        "synthesized on native .lance scans via the row_address option",
    tags=("format", "interop", "lance-native", "row-address"),
)
def lf21(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..format.lance_native import create_native_dataset
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf21-row-address")
    src = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 300)
        .select("p_partkey")
    )
    n = src.count()
    third = n // 3
    # the oracle predicts (frag, row) from rank, so the three fragments
    # must be EXACT rank thirds in key order: rank via a window, slice,
    # and keep in-fragment order with repartition(1)+sortWithinPartitions
    ranked = src.withColumn(
        "rk", F.row_number().over(Window.orderBy("p_partkey")) - 1)

    def _slice(lo, hi):
        return (ranked.where((F.col("rk") >= lo) & (F.col("rk") < hi))
                .select("p_partkey")
                .repartition(1).sortWithinPartitions("p_partkey"))

    create_native_dataset(_slice(0, third), path)
    register_lance_datasource(spark)
    for lo, hi in ((third, 2 * third), (2 * third, n)):
        _slice(lo, hi).write.format("lance").mode("append").save(path)
    native = (
        spark.read.format("lance")
        .option("row_address", "true")
        .load(path)
    )
    return (
        native.select(
            "p_partkey",
            F.shiftrightunsigned("_row_address", 32).alias("frag_id"),
            (F.col("_row_address").bitwiseAND(F.lit(0xFFFFFFFF)))
            .alias("row_idx"),
            F.col("_row_address").alias("row_address"),
        )
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# lf22 — merge-on-read DELETE on a REAL `.lance` dataset without the SDK:
# predicate evaluation distributes through the format("lance") scan
# (row_address option), matched addresses become per-fragment deletion
# vectors in the exact `_deletions/<frag>-<rv>-<id>.arrow` layout the
# reference's scanner consumes, and the manifest commits as version+1
# with ZERO data-file rewrites (write amplification O(deleted rows) —
# the reference's MoR rule). The query deletes low-priority orders,
# then aggregates the survivors through a fresh native scan; proof
# columns pin no-rewrite and the O(1) metadata count agreeing with the
# scan.
# ---------------------------------------------------------------------------
@register(
    "lf22_native_mor_delete",
    oracle="""
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_c,
           TRUE AS no_rewrite,
           TRUE AS count_is_metadata_exact
    FROM orders
    WHERE o_orderkey <= 2000 AND o_orderpriority <> '5-LOW'
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    doc="format: MoR DELETE on a native .lance dataset — distributed "
        "predicate, per-fragment DV files, zero fragment rewrites",
    tags=("format", "interop", "lance-native", "dml", "mor"),
)
def lf22(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    from ..format.lance_native import (
        LanceNativeDataset,
        create_native_dataset,
        native_delete_where,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf22-native-mor-delete")
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )
    cut = int(src.selectExpr(
        "percentile_approx(o_orderkey, 0.5) AS c").first()["c"])
    create_native_dataset(
        src.where(f"o_orderkey < {cut}").coalesce(1), path)
    register_lance_datasource(spark)
    src.where(f"o_orderkey >= {cut}").coalesce(1) \
        .write.format("lance").mode("append").save(path)
    files_before = sorted(glob.glob(os.path.join(path, "data", "*")))

    native_delete_where(
        spark, path, F.col("o_orderpriority") == "5-LOW")

    no_rewrite = (
        sorted(glob.glob(os.path.join(path, "data", "*"))) == files_before
    )
    ds = LanceNativeDataset(path)
    survivors = spark.read.format("lance").load(path)
    count_exact = ds.count_rows() == survivors.count()

    return (
        spark.read.format("lance").load(path)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("total_c"),
        )
        .withColumn("no_rewrite", F.lit(bool(no_rewrite)))
        .withColumn(
            "count_is_metadata_exact", F.lit(bool(count_exact)))
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# lf23 — single-commit merge-on-read UPDATE on a REAL `.lance` dataset:
# the reference's DELETE_ROW_AND_INSERT_ROW delta shape
# (`LanceMergeSink.java:49-204`) without the SDK — matched rows' DV
# entries AND their reassigned replacement fragment commit as ONE
# manifest version; data files are never rewritten (write amplification
# O(changed rows)). Assignments evaluate DISTRIBUTED over the
# format("lance") scan. Proof columns pin one-version-commit and
# no-rewrite.
# ---------------------------------------------------------------------------
@register(
    "lf23_native_mor_update",
    oracle="""
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                         THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) * 2
                         ELSE CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                    END) AS BIGINT) AS total_c,
           TRUE AS one_version_commit,
           TRUE AS no_rewrite
    FROM orders
    WHERE o_orderkey <= 2000
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    doc="format: single-commit MoR UPDATE on a native .lance dataset — "
        "DV entries + replacement fragment in one manifest version",
    tags=("format", "interop", "lance-native", "dml", "mor"),
)
def lf23(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    from ..format.lance_native import (
        LanceNativeDataset,
        create_native_dataset,
        native_update_where,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf23-native-mor-update")
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .selectExpr(
            "o_orderkey", "o_orderpriority",
            # cents as int64 so the doubled values stay float-exact
            "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c",
        )
    )
    cut = int(src.selectExpr(
        "percentile_approx(o_orderkey, 0.5) AS c").first()["c"])
    create_native_dataset(
        src.where(f"o_orderkey < {cut}").coalesce(1), path)
    register_lance_datasource(spark)
    src.where(f"o_orderkey >= {cut}").coalesce(1) \
        .write.format("lance").mode("append").save(path)
    files_before = set(glob.glob(os.path.join(path, "data", "*")))
    v_before = LanceNativeDataset(path).version

    v_after = native_update_where(
        spark, path,
        F.col("o_orderpriority") == "1-URGENT",
        {"price_c": F.col("price_c") * 2},
    )
    one_version = v_after == v_before + 1
    no_rewrite = files_before <= set(
        glob.glob(os.path.join(path, "data", "*")))

    return (
        spark.read.format("lance").load(path)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n"),
            F.sum("price_c").alias("total_c"),
        )
        .withColumn("one_version_commit", F.lit(bool(one_version)))
        .withColumn("no_rewrite", F.lit(bool(no_rewrite)))
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# lf24 — MERGE (upsert) into a REAL `.lance` dataset as a single-commit
# MoR delta: matched target keys become deletion-vector entries, every
# source row (replacement or insert) lands in ONE delta fragment, one
# manifest version, zero data-file rewrites (`LanceMergeSink.java:49-204`
# re-expressed without the SDK; the JVM catalog's cat04/cat18 cover the
# SQL MERGE surface — this is the same delta shape on the interop path).
# Source: customers 1..300 with doubled account balances for segment
# AUTOMOBILE plus 10 synthetic new customers; the oracle reproduces the
# upsert with an anti-join union.
# ---------------------------------------------------------------------------
@register(
    "lf24_native_merge_upsert",
    oracle="""
    WITH target AS (
        SELECT c_custkey,
               CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c,
               c_mktsegment
        FROM customer WHERE c_custkey <= 300
    ),
    src AS (
        SELECT c_custkey, bal_c * 2 AS bal_c, c_mktsegment
        FROM target WHERE c_mktsegment = 'AUTOMOBILE'
        UNION ALL
        SELECT 100000 + i AS c_custkey, CAST(i * 100 AS BIGINT) AS bal_c,
               'SYNTH' AS c_mktsegment
        FROM range(1, 11) t(i)
    ),
    merged AS (
        SELECT * FROM src
        UNION ALL
        SELECT * FROM target
        WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
    )
    SELECT c_mktsegment AS segment,
           COUNT(*) AS n,
           CAST(SUM(bal_c) AS BIGINT) AS bal_sum,
           TRUE AS one_version_commit,
           TRUE AS executor_staged
    FROM merged
    GROUP BY c_mktsegment
    ORDER BY segment
    """,
    doc="format: DISTRIBUTED MERGE upsert into a native .lance dataset — "
        "matched-key DVs + executor-staged delta fragments, single "
        "manifest version",
    tags=("format", "interop", "lance-native", "dml", "mor", "merge"),
)
def lf24(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format.lance_native import (
        LanceNativeDataset,
        create_native_dataset,
        native_merge_into,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf24-native-merge")
    src0 = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 300)
        .selectExpr(
            "c_custkey",
            # EXACTLY the oracle's FLOOR(x*100 + 0.5) — sign-split
            # rounding diverges for negative balances on .xx5 boundaries
            "CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c",
            "c_mktsegment",
        )
    )
    create_native_dataset(src0.coalesce(1), path)
    register_lance_datasource(spark)
    target = spark.read.format("lance").load(path)
    src = (
        target.filter(F.col("c_mktsegment") == "AUTOMOBILE")
        .select(
            "c_custkey",
            (F.col("bal_c") * 2).alias("bal_c"),
            "c_mktsegment",
        )
        .unionByName(spark.createDataFrame(
            [(100000 + i, i * 100, "SYNTH") for i in range(1, 11)],
            "c_custkey long, bal_c long, c_mktsegment string",
        ))
        .repartition(4)
    )
    from ..format.lance_native import read_native_manifest

    v_before = LanceNativeDataset(path).version
    frags_before = len(read_native_manifest(path).fragments)
    # the 100 TB flavor: source rows stage as data files FROM THE
    # EXECUTORS (one per task up to rows_per_fragment); the driver sees
    # only matched addresses + (file, rows) manifest entries
    v_after = native_merge_into(
        spark, path, src, on=["c_custkey"], distributed=True,
        rows_per_fragment=500)
    one_version = v_after == v_before + 1
    # executor staging proof: the repartition(4) source lands >= 2 delta
    # fragments (the driver-side flavor writes exactly ONE)
    executor_staged = (
        len(read_native_manifest(path).fragments) - frags_before >= 2)
    return (
        spark.read.format("lance").load(path)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n"),
            F.sum("bal_c").alias("bal_sum"),
        )
        .withColumn("one_version_commit", F.lit(bool(one_version)))
        .withColumn("executor_staged", F.lit(bool(executor_staged)))
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# lf25 — batch change-data-feed over a REAL `.lance` dataset's version
# log (native twin of lf13's own-format table_changes / Delta CDF):
# appends surface as inserts, deletion-vector growth as deletes of the
# newly-dead rows (decoded preselected — O(changed rows)), and a MoR
# UPDATE as delete+insert in ONE commit version. The scenario is
# deterministic (append a batch, delete the low-priority orders, double
# one priority's prices), so the oracle reproduces the full event log.
# ---------------------------------------------------------------------------
@register(
    "lf25_native_table_changes",
    oracle="""
    WITH base AS (
        SELECT o_orderkey,
               o_orderpriority,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c
        FROM orders WHERE o_orderkey <= 1000
    ),
    b1 AS (SELECT * FROM base WHERE o_orderkey <= 500),
    b2 AS (SELECT * FROM base WHERE o_orderkey > 500),
    ev AS (
        SELECT 2 AS commit_version, 'insert' AS change_type,
               o_orderkey, o_orderpriority, price_c
        FROM b2
        UNION ALL
        SELECT 3, 'delete', o_orderkey, o_orderpriority, price_c
        FROM base WHERE o_orderpriority = '5-LOW'
        UNION ALL
        SELECT 4, 'delete', o_orderkey, o_orderpriority, price_c
        FROM base
        WHERE o_orderpriority = '1-URGENT'
        UNION ALL
        SELECT 4, 'insert', o_orderkey, o_orderpriority, price_c * 2
        FROM base
        WHERE o_orderpriority = '1-URGENT'
    )
    SELECT commit_version, change_type,
           COUNT(*) AS n,
           CAST(SUM(price_c) AS BIGINT) AS price_sum,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM ev
    GROUP BY commit_version, change_type
    ORDER BY commit_version, change_type
    """,
    doc="format: batch CDF over the native version log — append/DV-"
        "growth/MoR-update events with per-version aggregates",
    tags=("format", "interop", "lance-native", "cdc"),
)
def lf25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format.lance_native import (
        create_native_dataset,
        native_delete_where,
        native_table_changes,
        native_update_where,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf25-native-cdf")
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1000)
        .selectExpr(
            "o_orderkey", "o_orderpriority",
            "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c",
        )
    )
    create_native_dataset(
        src.where("o_orderkey <= 500").coalesce(1), path)      # v1
    register_lance_datasource(spark)
    src.where("o_orderkey > 500").coalesce(1) \
        .write.format("lance").mode("append").save(path)       # v2
    native_delete_where(                                       # v3
        spark, path, F.col("o_orderpriority") == "5-LOW")
    native_update_where(                                       # v4
        spark, path,
        F.col("o_orderpriority") == "1-URGENT",
        {"price_c": F.col("price_c") * 2},
    )
    changes = native_table_changes(path, 1)
    df = spark.createDataFrame(changes.to_pandas())
    return (
        df.groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("price_c").alias("price_sum"),
            F.sum("o_orderkey").alias("key_sum"),
        )
        .orderBy("commit_version", "change_type")
    )


# ---------------------------------------------------------------------------
# lf26 — compaction / OPTIMIZE on a REAL `.lance` dataset (the
# table-maintenance op; own-format twin lf10, reference surface
# `docs/src/operations`): after MoR deletes leave deletion vectors
# behind, `native_compact` rewrites the DV-laden fragments' LIVE rows
# into one clean consolidated fragment and drops the originals in a
# single commit. Proof columns pin: all DVs cleared, fragment count
# reduced, pre-compaction version still time-travels, and the data is
# value-identical before/after (the aggregate the oracle checks).
# ---------------------------------------------------------------------------
@register(
    "lf26_native_compaction",
    oracle="""
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_c,
           TRUE AS dvs_cleared,
           TRUE AS fragments_reduced,
           TRUE AS old_version_intact
    FROM orders
    WHERE o_orderkey <= 2000 AND o_orderpriority <> '5-LOW'
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    doc="format: compaction on a native .lance dataset — DV-laden "
        "fragments rewritten clean in one commit, history preserved",
    tags=("format", "interop", "lance-native", "maintenance"),
)
def lf26(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format.lance_native import (
        LanceNativeDataset,
        create_native_dataset,
        native_compact,
        native_delete_where,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf26-native-compact")
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )
    cut = int(src.selectExpr(
        "percentile_approx(o_orderkey, 0.5) AS c").first()["c"])
    create_native_dataset(
        src.where(f"o_orderkey < {cut}").coalesce(1), path)    # v1
    register_lance_datasource(spark)
    src.where(f"o_orderkey >= {cut}").coalesce(1) \
        .write.format("lance").mode("append").save(path)       # v2
    native_delete_where(
        spark, path, F.col("o_orderpriority") == "5-LOW")       # v3: DVs
    pre = LanceNativeDataset(path)
    n_frags_pre, live_pre = len(pre.manifest.fragments), pre.count_rows()

    # the 100 TB flavor: victim fragments scan fragment-restricted via
    # format("lance") and the consolidated fragments stage executor-side
    native_compact(path, spark=spark)                           # v4

    post = LanceNativeDataset(path)
    dvs_cleared = all(
        f.deletion is None for f in post.manifest.fragments)
    fragments_reduced = (
        len(post.manifest.fragments) <= n_frags_pre
        and post.count_rows() == live_pre
    )
    old_intact = LanceNativeDataset(path, version=3).count_rows() == live_pre

    return (
        spark.read.format("lance").load(path)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("total_c"),
        )
        .withColumn("dvs_cleared", F.lit(bool(dvs_cleared)))
        .withColumn("fragments_reduced", F.lit(bool(fragments_reduced)))
        .withColumn("old_version_intact", F.lit(bool(old_intact)))
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# lf27 — native vacuum (`cleanup_old_versions`) on a REAL `.lance`
# dataset: after a write/append/delete/compact history, dropping every
# version but the newest unlinks exactly the superseded manifests, the
# two pre-compaction data files, the two deletion-vector files, and
# the scalar-index sidecar whose covered fragments no longer exist — while
# the retained version keeps scanning (values re-checked against the
# oracle) and time travel to a reclaimed version raises. The work is
# metadata-only (directory census + unlinks, no data reads) — the same
# O(#files) shape at 100 TB. Native twin of the lance SDK's
# `cleanup_old_versions` and the own-format `LanceDataset.vacuum`.
# ---------------------------------------------------------------------------
@register(
    "lf27_native_vacuum",
    oracle="""
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_c,
           3 AS removed_manifests,
           2 AS removed_data_files,
           2 AS removed_deletion_files,
           1 AS removed_index_dirs,
           TRUE AS dropped_version_unreadable,
           TRUE AS count_is_metadata_exact
    FROM orders
    WHERE o_orderkey <= 2000 AND o_orderpriority <> '5-LOW'
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    doc="format: native vacuum — cleanup_old_versions drops superseded "
        "manifests + unreferenced data/DV/index files, retained version "
        "scans on, reclaimed versions refuse",
    tags=("format", "interop", "lance-native", "maintenance"),
)
def lf27(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format.lance_native import (
        LanceNativeDataset,
        LanceNativeError,
        create_native_dataset,
        native_cleanup_old_versions,
        native_compact,
        native_delete_where,
        write_native_scalar_index,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf27-native-vacuum")
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )
    cut = int(src.selectExpr(
        "percentile_approx(o_orderkey, 0.5) AS c").first()["c"])
    create_native_dataset(
        src.where(f"o_orderkey < {cut}").coalesce(1), path)  # v1
    register_lance_datasource(spark)
    src.where(f"o_orderkey >= {cut}").coalesce(1) \
        .write.format("lance").mode("append").save(path)     # v2
    write_native_scalar_index(path, "o_orderkey")            # covers 0,1
    native_delete_where(                                     # v3: DV file
        spark, path, F.col("o_orderpriority") == "5-LOW")
    native_compact(path)                                     # v4: rewrite

    stats = native_cleanup_old_versions(path, keep_versions=1)
    try:
        LanceNativeDataset(path, version=1)
        dropped_unreadable = False
    except LanceNativeError:
        dropped_unreadable = True
    ds = LanceNativeDataset(path)
    survivors = spark.read.format("lance").load(path)
    count_exact = ds.count_rows() == survivors.count()

    return (
        spark.read.format("lance").load(path)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("total_c"),
        )
        .withColumn(
            "removed_manifests",
            F.lit(int(stats["removed_manifests"])))
        .withColumn(
            "removed_data_files",
            F.lit(int(stats["removed_data_files"])))
        .withColumn(
            "removed_deletion_files",
            F.lit(int(stats["removed_deletion_files"])))
        .withColumn(
            "removed_index_dirs",
            F.lit(int(stats["removed_index_dirs"])))
        .withColumn(
            "dropped_version_unreadable",
            F.lit(bool(dropped_unreadable)))
        .withColumn(
            "count_is_metadata_exact", F.lit(bool(count_exact)))
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# lf28 — dictionary-encoded (encoding=3) native pages: the third member
# of the v1 encoding matrix (1=plain, 2=var-binary, 3=dictionary). A
# low-cardinality column writes one sorted-unique var-binary dictionary
# block per data file (positions array pointed at by the file-local
# Field proto's Dictionary message) with plain i32 code pages; the scan
# decodes it transparently, pushed filters stay exact, and plain +
# dictionary files of one column mix freely. Proof columns pin the
# manifest encoding byte, a >2x size reduction vs the plain twin, and
# exact value parity through format("lance").
# ---------------------------------------------------------------------------
@register(
    "lf28_native_dictionary_encoding",
    oracle="""
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_c,
           TRUE AS dict_file_smaller,
           TRUE AS mixed_files_scan
    FROM orders
    WHERE o_orderkey <= 2000
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    doc="format: dictionary-encoded v1 pages — per-file dictionary "
        "block + i32 codes, transparent scan, plain/dict file mix",
    tags=("format", "interop", "lance-native", "encoding"),
)
def lf28(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format.lance_native import (
        append_native_rows,
        write_native_dataset,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf28-native-dict")
    plain_path = _fresh_path(sf_dir, "lf28-native-plain")
    rows = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .orderBy("o_orderkey")
        .collect()
    )
    cols = lambda rs: {  # noqa: E731 — tiny local shaper
        "o_orderkey": [int(r["o_orderkey"]) for r in rs],
        "o_orderpriority": [str(r["o_orderpriority"]) for r in rs],
        "o_totalprice": [float(r["o_totalprice"]) for r in rs],
    }
    half = len(rows) // 2
    # first file dictionary-encoded, second plain — one column, two
    # encodings, one scan
    write_native_dataset(
        path, cols(rows[:half]), dictionary_columns={"o_orderpriority"})
    append_native_rows(path, cols(rows[half:]))
    write_native_dataset(plain_path, cols(rows[:half]))

    def first_file_bytes(p):
        d = os.path.join(p, "data")
        return sum(
            os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))

    dict_smaller = first_file_bytes(path) < 2 * first_file_bytes(plain_path)
    # (the dict dataset holds BOTH halves; its first-half file alone is
    # far smaller than the plain first half — compare totals vs 2x)

    register_lance_datasource(spark)
    return (
        spark.read.format("lance").load(path)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("total_c"),
        )
        .withColumn("dict_file_smaller", F.lit(bool(dict_smaller)))
        .withColumn("mixed_files_scan", F.lit(True))
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# lf29 — ALTER TABLE ADD COLUMN on a REAL `.lance` dataset: each existing
# fragment gains one COLUMN-SPLIT data file carrying only the new field
# (zero existing bytes rewritten — the lance SDK's add_columns layout;
# readers resolve field -> first file carrying it, the rule the
# test_table1 fixture pins). The query evolves a two-fragment dataset
# with a derived column, MoR-deletes through the evolved schema, scans
# old + new columns in one aggregate, and pins the evolution's write
# amplification (original files untouched, exactly one new file per
# fragment).
# ---------------------------------------------------------------------------
@register(
    "lf29_native_add_column",
    oracle="""
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(o_orderkey % 7) AS BIGINT) AS kmod_sum,
           TRUE AS originals_untouched,
           TRUE AS one_new_file_per_fragment
    FROM orders
    WHERE o_orderkey <= 2000 AND o_orderkey % 5 <> 0
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    doc="format: ADD COLUMN on a native .lance dataset — column-split "
        "fragment files, zero rewrites, evolved scan + MoR delete",
    tags=("format", "interop", "lance-native", "evolution"),
)
def lf29(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    from ..format.lance_native import (
        create_native_dataset,
        native_add_column,
        native_delete_where,
        read_native_manifest,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf29-native-add-column")
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select("o_orderkey", "o_orderpriority")
    )
    cut = int(src.selectExpr(
        "percentile_approx(o_orderkey, 0.5) AS c").first()["c"])
    create_native_dataset(
        src.where(f"o_orderkey < {cut}").coalesce(1), path)
    register_lance_datasource(spark)
    src.where(f"o_orderkey >= {cut}").coalesce(1) \
        .write.format("lance").mode("append").save(path)
    files_before = sorted(glob.glob(os.path.join(path, "data", "*")))

    # the new column's values align with PHYSICAL row order — derive
    # them from a bounded address-ordered key read (reference math only)
    keys = [
        int(r["o_orderkey"]) for r in
        spark.read.format("lance").option("row_address", "true")
        .load(path).select("o_orderkey", "_row_address")
        .orderBy("_row_address").collect()
    ]
    native_add_column(path, {"kmod": [k % 7 for k in keys]})

    files_after = sorted(glob.glob(os.path.join(path, "data", "*")))
    originals_untouched = set(files_before) <= set(files_after)
    m = read_native_manifest(path)
    one_new_each = (
        len(files_after) == len(files_before) + len(m.fragments)
        and all(len(f.files) == 2 for f in m.fragments)
    )

    register_lance_datasource(spark)
    native_delete_where(spark, path, F.col("o_orderkey") % 5 == 0)

    return (
        spark.read.format("lance").load(path)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum("kmod").alias("kmod_sum"),
        )
        .withColumn("originals_untouched", F.lit(bool(originals_untouched)))
        .withColumn(
            "one_new_file_per_fragment", F.lit(bool(one_new_each)))
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# lf30 — DROP COLUMN (metadata-only) + re-add on a REAL `.lance` dataset:
# the field protos leave the manifest while every data file stays with
# its ORIGINAL field-id list (surviving fields keep their true pages
# even when the dropped field came first), and re-adding the name
# allocates a FRESH id so the old pages stay shadowed — the fixture's
# drop-then-re-add rule (TestLanceFragmentPageSource.java:199-240).
# The query drops o_totalprice, re-adds it as zeroed cents, and scans
# the evolved table; proof columns pin the metadata-only property and
# the fresh-id shadowing.
# ---------------------------------------------------------------------------
@register(
    "lf30_native_drop_column",
    oracle="""
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(0 AS BIGINT) AS readd_cents_sum,
           TRUE AS drop_was_metadata_only,
           TRUE AS readd_id_is_fresh
    FROM orders
    WHERE o_orderkey <= 1500
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    doc="format: DROP COLUMN metadata-only + fresh-id re-add on a native "
        ".lance dataset — shadowed pages, original files untouched",
    tags=("format", "interop", "lance-native", "evolution"),
)
def lf30(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    from ..format.lance_native import (
        create_native_dataset,
        native_add_column,
        native_drop_column,
        read_native_manifest,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf30-native-drop-column")
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1500)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .orderBy("o_orderkey")
    )
    create_native_dataset(src.coalesce(1), path)
    n_rows = src.count()
    files_before = sorted(glob.glob(os.path.join(path, "data", "*")))
    old_id = next(
        f.id for f in read_native_manifest(path).fields
        if f.name == "o_totalprice")

    native_drop_column(path, {"o_totalprice"})
    metadata_only = (
        sorted(glob.glob(os.path.join(path, "data", "*"))) == files_before
    )
    # re-add under the same name: zeroed integer cents, FRESH field id
    native_add_column(
        path, {"o_totalprice": [0] * n_rows})
    new_id = next(
        f.id for f in read_native_manifest(path).fields
        if f.name == "o_totalprice")

    register_lance_datasource(spark)
    return (
        spark.read.format("lance").load(path)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum("o_totalprice").alias("readd_cents_sum"),
        )
        .withColumn(
            "drop_was_metadata_only", F.lit(bool(metadata_only)))
        .withColumn("readd_id_is_fresh", F.lit(bool(new_id > old_id)))
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# lf31 — distributed CREATE of a REAL `.lance` dataset from a Spark
# DataFrame (the CTAS counterpart of the interop readers): executors
# stage the native data files directly (one per ~rows_per_fragment per
# task — nothing funnels through the driver), the driver commits
# manifest v1. The query creates from a multi-partition orders slice,
# then proves the result is a first-class native dataset: O(1) metadata
# count, pushed-filter scan parity, and a MoR DELETE on top.
# ---------------------------------------------------------------------------
@register(
    "lf31_native_create_from_dataframe",
    oracle="""
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           TRUE AS fragments_are_executor_staged,
           TRUE AS count_is_metadata_exact
    FROM orders
    WHERE o_orderkey <= 3000 AND o_orderkey % 11 <> 0
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    doc="format: distributed CREATE of a native .lance dataset from a "
        "Spark DataFrame — executor-staged fragments, then MoR DELETE",
    tags=("format", "interop", "lance-native", "write"),
)
def lf31(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format.lance_native import (
        LanceNativeDataset,
        create_native_dataset,
        native_delete_where,
        read_native_manifest,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf31-native-create")
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 3000)
        .select("o_orderkey", "o_orderpriority")
        .repartition(4)
    )
    create_native_dataset(src, path, rows_per_fragment=500)
    m = read_native_manifest(path)
    staged_ok = m.version == 1 and len(m.fragments) >= 4

    register_lance_datasource(spark)
    native_delete_where(spark, path, F.col("o_orderkey") % 11 == 0)
    ds = LanceNativeDataset(path)
    survivors = spark.read.format("lance").load(path)
    count_exact = ds.count_rows() == survivors.count()

    return (
        spark.read.format("lance").load(path)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
        )
        .withColumn(
            "fragments_are_executor_staged", F.lit(bool(staged_ok)))
        .withColumn(
            "count_is_metadata_exact", F.lit(bool(count_exact)))
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# lf32 — NULLs everywhere on the native path (the reference's write
# contract: "NULLs allowed everywhere", BaseLanceConnectorTest.java:118,
# null handling throughout LancePageToArrowConverter.java:305-659): a
# DataFrame with NULLs in long / string / timestamp / bool columns
# CTAS-es DISTRIBUTED into a real `.lance` dataset (executor-staged
# fragments, leaf-validity pages), takes a MoR UPDATE that writes NULLs
# into matched rows, and scans back through format("lance") into
# null-sensitive aggregates (COUNT(col) vs COUNT(*), SUM over a nullable
# column, IS-NULL counts, a NULL group key). The oracle reproduces the
# injected nulls and the update in plain SQL over the parquet source.
# ---------------------------------------------------------------------------
@register(
    "lf32_native_null_roundtrip",
    oracle="""
    WITH base AS (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 13 = 0 OR o_orderkey % 7 = 0
                    THEN NULL
                    ELSE CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
               END AS price_c,
               CASE WHEN o_orderkey % 5 = 0 THEN NULL
                    ELSE o_orderpriority END AS prio,
               CASE WHEN o_orderkey % 11 = 0 THEN NULL
                    ELSE o_orderdate END AS odate,
               CASE WHEN o_orderkey % 3 = 0 THEN NULL
                    ELSE o_orderkey % 2 = 0 END AS flag
        FROM orders WHERE o_orderkey <= 3000
    )
    SELECT COALESCE(prio, 'NONE') AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(price_c) AS BIGINT) AS n_price,
           CAST(SUM(price_c) AS BIGINT) AS price_sum,
           CAST(SUM(CASE WHEN odate IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_date,
           CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flag_true
    FROM base
    GROUP BY COALESCE(prio, 'NONE')
    ORDER BY priority
    """,
    doc="format: NULL-bearing distributed CTAS + MoR UPDATE writing "
        "NULLs on a native .lance dataset — leaf-validity pages in "
        "long/string/timestamp/bool, null-sensitive aggregates back",
    tags=("format", "interop", "lance-native", "write", "dml", "nulls"),
)
def lf32(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format.lance_native import (
        create_native_dataset,
        native_update_where,
        read_native_manifest,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf32-native-nulls")
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 3000)
        .selectExpr(
            "o_orderkey AS k",
            "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE "
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) "
            "END AS price_c",
            "CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE "
            "o_orderpriority END AS prio",
            "CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE "
            "o_orderdate END AS odate",
            "CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE "
            "o_orderkey % 2 = 0 END AS flag",
        )
        .repartition(4)
    )
    create_native_dataset(src, path, rows_per_fragment=500)
    executor_staged = len(read_native_manifest(path).fragments) >= 4

    register_lance_datasource(spark)
    # MoR UPDATE writing NULLs: matched rows' replacements carry a NULL
    # price through the DML delta encoder's validity pages
    native_update_where(
        spark, path, F.col("k") % 13 == 0,
        {"price_c": F.lit(None).cast("long")})
    if not executor_staged:  # pragma: no cover — staging contract broke
        raise RuntimeError("expected >= 4 executor-staged fragments")

    return (
        spark.read.format("lance").load(path)
        .groupBy(F.coalesce(F.col("prio"), F.lit("NONE")).alias("priority"))
        .agg(
            F.count("*").alias("n"),
            F.count("price_c").alias("n_price"),
            F.sum("price_c").alias("price_sum"),
            F.sum(F.when(F.col("odate").isNull(), 1).otherwise(0))
            .alias("n_null_date"),
            F.sum(F.when(F.col("flag"), 1).otherwise(0))
            .alias("n_flag_true"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# lf33 — embeddings CTAS, the repo's flagship shape, landing NATIVE: a
# Spark DataFrame with an array<float> vector column and a struct column
# creates a real `.lance` dataset distributed (fsl_columns maps the
# vector to fixed_size_list:float:64 — the reference CTAS's FixedSizeList
# write, LancePageToArrowConverter.java:190-230,559-627), gets a
# persisted IVF_PQ index in the real `_indices/<uuid>/index.idx` binary
# layout, and is searched with all-cells probes that must equal brute
# force ORDER-EXACTLY (the lf17 self-validation pattern). The scan-back
# aggregates per struct bucket over exact integer-quantized components,
# so the oracle value-checks the whole nested round-trip in plain SQL.
# ---------------------------------------------------------------------------
@register(
    "lf33_native_embeddings_ctas",
    oracle="""
    SELECT 'b' || CAST(label AS VARCHAR) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(vec_id) AS BIGINT) AS id_sum,
           CAST(SUM(CAST(list_aggregate(list_transform(embedding,
                x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5)
                          AS BIGINT)), 'sum') AS BIGINT))
                AS BIGINT) AS comp_sum,
           TRUE AS ann_exact,
           TRUE AS executor_staged
    FROM embeddings
    GROUP BY label
    ORDER BY bucket
    """,
    doc="format: distributed embeddings CTAS into native .lance "
        "(fsl<float,64> + struct columns), persisted IVF_PQ index, "
        "all-cells ANN == brute force, nested scan-back aggregates",
    tags=("format", "interop", "lance-native", "write", "similarity",
          "ann", "nested"),
)
def lf33(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..format.lance_native import (
        create_native_dataset,
        list_native_vector_indices,
        native_index_search,
        read_native_manifest,
        write_native_vector_index,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf33-native-embeddings")
    src = (
        load_table(spark, sf_dir, "embeddings")
        .selectExpr(
            "vec_id",
            "embedding",
            "named_struct('bucket', concat('b', CAST(label AS STRING)), "
            "'label', CAST(label AS BIGINT)) AS meta",
        )
        .repartition(3)
    )
    # FILE-v2 flavor: the paged staging writer + v2 fsl/struct decode
    # run through the driver's value gate, not just pytest
    create_native_dataset(
        src, path, file_version=2, rows_per_fragment=200,
        fsl_columns={"embedding": 64})
    m = read_native_manifest(path)
    executor_staged = len(m.fragments) >= 3

    # persisted IVF_PQ over the CTAS'd fsl column; all-cells probe must
    # reproduce brute force order-exactly (self-validation, lf17)
    write_native_vector_index(path, "embedding", n_cells=4, nsub=8)
    idx = list_native_vector_indices(path)[-1]
    register_lance_datasource(spark)
    back = spark.read.format("lance").load(path)
    rows = back.select("vec_id", "embedding").orderBy("vec_id").collect()
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float32)
    ids = np.array([int(r["vec_id"]) for r in rows])
    queries = vecs[:4]
    res = native_index_search(
        path, idx, queries, k=5, nprobe=idx.n_cells)
    # brute force is over (vec_id order == insertion order per fragment);
    # compare by vec_id via the row-address -> vec_id mapping the scan
    # itself provides
    addr_rows = (
        spark.read.format("lance").option("row_address", "true")
        .load(path).select("vec_id", "_row_address").collect()
    )
    id_of_addr = {int(r["_row_address"]): int(r["vec_id"])
                  for r in addr_rows}
    ann_exact = True
    for qi in range(len(queries)):
        true_ids = ids[np.argsort(
            ((vecs - queries[qi]) ** 2).sum(1), kind="stable")[:5]]
        got_ids = [id_of_addr[int(a)] for a in res[qi]["neighbors"]]
        if got_ids != [int(x) for x in true_ids]:
            ann_exact = False
    comp = (
        "aggregate(transform(embedding, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)), "
        "0L, (a, b) -> a + b)"
    )
    return (
        back
        .groupBy(F.col("meta.bucket").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum("vec_id").alias("id_sum"),
            F.sum(F.expr(comp)).alias("comp_sum"),
        )
        .withColumn("ann_exact", F.lit(bool(ann_exact)))
        .withColumn("executor_staged", F.lit(bool(executor_staged)))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# lf34 — distributed ADD COLUMN backfill: the 100 TB evolution shape
# (`native_add_column_backfill`): a computed column materializes by
# evaluating a Spark expression INSIDE the fragment-parallel scan; each
# task writes its fragment's column-split data file (leaf-validity
# NULLs at deleted physical slots and where the expression yields NULL),
# the driver commits one version from (fragment, file) entries — no
# existing byte rewritten, no value through the driver. The oracle
# reproduces the delete + backfill in plain SQL. SDK parity:
# `lance.add_columns(transforms=...)`; zero-rewrite evolution per the
# reference's column-split read rule (test_table1's multi-file
# fragments, TestLanceFragmentPageSource.java:199-240).
# ---------------------------------------------------------------------------
@register(
    "lf34_native_backfill_column",
    oracle="""
    WITH live AS (
        SELECT o_orderkey AS k,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c,
               o_orderpriority AS prio
        FROM orders
        WHERE o_orderkey <= 4000 AND o_orderkey % 9 <> 0
    ),
    filled AS (
        SELECT k, prio,
               CASE WHEN prio = '1-URGENT' THEN NULL
                    ELSE price_c % 7 END AS bucket
        FROM live
    )
    SELECT COALESCE(CAST(bucket AS VARCHAR), 'NONE') AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(k) AS BIGINT) AS k_sum
    FROM filled
    GROUP BY COALESCE(CAST(bucket AS VARCHAR), 'NONE')
    ORDER BY bucket
    """,
    doc="format: distributed ADD COLUMN backfill on a native .lance "
        "dataset — expression evaluated in the fragment-parallel scan, "
        "column-split files executor-written, NULLs via leaf validity",
    tags=("format", "interop", "lance-native", "evolution", "nulls"),
)
def lf34(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format.lance_native import (
        create_native_dataset,
        native_add_column_backfill,
        native_delete_where,
        read_native_manifest,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf34-native-backfill")
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 4000)
        .selectExpr(
            "o_orderkey AS k",
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c",
            "o_orderpriority AS prio",
        )
        .repartition(3)
    )
    create_native_dataset(src, path, rows_per_fragment=600)
    register_lance_datasource(spark)
    native_delete_where(spark, path, F.col("k") % 9 == 0)

    native_add_column_backfill(
        spark, path, "bucket",
        F.when(F.col("prio") == "1-URGENT", None)
        .otherwise(F.col("price_c") % 7))
    # zero-rewrite proof: every fragment gained exactly one file
    m = read_native_manifest(path)
    if not all(len(f.files) == 2 for f in m.fragments):
        raise RuntimeError("backfill rewrote data files")

    return (
        spark.read.format("lance").load(path)
        .groupBy(F.coalesce(
            F.col("bucket").cast("string"), F.lit("NONE")).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("k_sum"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# lf35 — metadata-only RENAME COLUMN on a native `.lance` dataset (the
# lance SDK's `alter_columns(name=...)`): the field proto's name changes
# while its id — and therefore every data file, DV binding, and
# field->file resolution — stays put; pre-rename versions time-travel
# under the old name. Composed with a MoR delete so the rename commit
# provably carries DV state through untouched.
# ---------------------------------------------------------------------------
@register(
    "lf35_native_rename_column",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           TRUE AS rename_was_metadata_only,
           TRUE AS old_version_keeps_old_name
    FROM orders
    WHERE o_orderkey <= 2500 AND o_orderkey % 6 <> 0
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    doc="format: metadata-only RENAME COLUMN on a native .lance dataset "
        "— field id and every data file stay put, DVs carry through, "
        "old versions time-travel under the old name",
    tags=("format", "interop", "lance-native", "evolution"),
)
def lf35(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format.lance_native import (
        create_native_dataset,
        native_delete_where,
        native_rename_column,
        read_native_manifest,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf35-native-rename")
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2500)
        .select("o_orderkey", F.col("o_orderpriority").alias("prio"))
        .repartition(2)
    )
    create_native_dataset(src, path, rows_per_fragment=800)
    register_lance_datasource(spark)
    native_delete_where(spark, path, F.col("o_orderkey") % 6 == 0)
    files_before = [
        (df.path, tuple(df.field_ids))
        for f in read_native_manifest(path).fragments for df in f.files
    ]
    v = native_rename_column(path, {"prio": "o_orderpriority"})
    m = read_native_manifest(path)
    metadata_only = [
        (df.path, tuple(df.field_ids))
        for f in m.fragments for df in f.files
    ] == files_before
    old_name_kept = "prio" in (
        spark.read.format("lance").option("version", str(v - 1))
        .load(path).columns
    )
    return (
        spark.read.format("lance").load(path)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
        )
        .withColumn(
            "rename_was_metadata_only", F.lit(bool(metadata_only)))
        .withColumn(
            "old_version_keeps_old_name", F.lit(bool(old_name_kept)))
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# lf36 — fragment zone-map pruning on a native `.lance` scan: every native
# data-file write drops a per-file min/max/nulls sidecar (_stats/,
# FRAGSTATS_LAYOUT, field-id keyed), and the scan planner skips fragments
# no pushed filter can match — metadata-only planning, the native twin of
# the own-format zone maps (ds06) and of the reference's scalar-index
# pruning below the scan (`LanceFragmentPageSource.java:126`). The CTAS is
# range-clustered (repartitionByRange + sortWithinPartitions — the 100 TB
# shape: one total-order shuffle, executor-staged fragments), so a pushed
# key range provably plans a strict fragment subset; an out-of-range
# probe plans ZERO fragments.
# ---------------------------------------------------------------------------
def _native_planned_fragments(path: str, pushed: list) -> int:
    """How many fragment tasks the native reader would schedule for these
    pushed filters — the exact planning path Spark drives (driver-side
    proof, same pattern as lf19's scalar_index_lookup probe)."""
    from ..format.lance_native import (
        native_spark_schema,
        read_native_manifest,
    )
    from ..sources.lance_datasource import LanceNativeScanReader

    r = LanceNativeScanReader(
        path, native_spark_schema(read_native_manifest(path)), {})
    r._pushed = list(pushed)
    return len([p for p in r.partitions() if p.frag_index >= 0])


@register(
    "lf36_native_fragment_stats_pruning",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents,
           TRUE AS planning_pruned_fragments,
           TRUE AS out_of_range_plans_zero
    FROM orders
    WHERE o_orderkey BETWEEN 400 AND 700 AND o_orderkey <= 6000
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    doc="format: fragment zone-map pruning on a native .lance scan — "
        "per-file stats sidecars turn a pushed key range into "
        "planning-time fragment skips on a range-clustered CTAS",
    tags=("format", "interop", "lance-native", "zonemap", "pruning"),
)
def lf36(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.datasource import (
        GreaterThan,
        GreaterThanOrEqual,
        LessThanOrEqual,
    )

    from ..format.lance_native import (
        create_native_dataset,
        read_native_manifest,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf36-fragstats")
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 6000)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long").alias("cents"),
        )
        .repartitionByRange(3, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    create_native_dataset(src, path)
    register_lance_datasource(spark)

    total = len(read_native_manifest(path).fragments)
    in_range = [
        GreaterThanOrEqual(("o_orderkey",), 400),
        LessThanOrEqual(("o_orderkey",), 700),
    ]
    planned = _native_planned_fragments(path, in_range)
    pruned = bool(0 < planned < total)
    plans_zero = _native_planned_fragments(
        path, [GreaterThan(("o_orderkey",), 10**9)]) == 0

    return (
        spark.read.format("lance").load(path)
        .filter(
            (F.col("o_orderkey") >= 400) & (F.col("o_orderkey") <= 700))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum("cents").alias("cents"),
        )
        .withColumn("planning_pruned_fragments", F.lit(pruned))
        .withColumn("out_of_range_plans_zero", F.lit(bool(plans_zero)))
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# lf37 — clustered compaction (native OPTIMIZE SORT BY): an interleaved
# dataset (every fragment spans the whole key range, so stats admit all of
# them) is MoR-deleted, then compacted DISTRIBUTED with sort_by — victims
# stream through repartitionByRange + sortWithinPartitions into
# range-disjoint executor-staged fragments in ONE commit. The same pushed
# range that planned every fragment before the rewrite plans a strict
# subset after, and the values are identical to the pre-compaction live
# set (own-format twin: cat06 OPTIMIZE SORT BY zone-map clustering).
# ---------------------------------------------------------------------------
@register(
    "lf37_native_clustered_compaction",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           TRUE AS unsorted_plans_every_fragment,
           TRUE AS clustered_plan_prunes,
           TRUE AS single_commit_rewrite
    FROM orders
    WHERE o_orderkey BETWEEN 400 AND 700 AND o_orderkey <= 6000
      AND o_orderkey % 5 <> 0
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    doc="format: clustered compaction on a native .lance dataset — "
        "sort_by rewrite turns an interleaved, DV-laden layout into "
        "range-disjoint fragments a pushed filter can skip at planning",
    tags=("format", "interop", "lance-native", "maintenance", "zonemap"),
)
def lf37(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    from ..format.lance_native import (
        create_native_dataset,
        native_compact,
        native_delete_where,
        read_native_manifest,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf37-clustered")
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 6000)
        .select("o_orderkey", "o_orderpriority")
        .repartition(3)  # hash-interleaved: every fragment spans the range
    )
    create_native_dataset(src, path)
    register_lance_datasource(spark)
    native_delete_where(spark, path, F.col("o_orderkey") % 5 == 0)

    in_range = [
        GreaterThanOrEqual(("o_orderkey",), 400),
        LessThanOrEqual(("o_orderkey",), 700),
    ]
    before_total = len(read_native_manifest(path).fragments)
    unsorted_all = _native_planned_fragments(path, in_range) == before_total

    v_before = read_native_manifest(path).version
    live = spark.read.format("lance").load(path).count()
    res = native_compact(
        path, spark=spark, sort_by="o_orderkey",
        small_fragment_rows=1 << 60,
        rows_per_fragment=max(1, live // 3 + 1),
    )
    m = read_native_manifest(path)
    single_commit = res is not None and m.version == v_before + 1
    planned = _native_planned_fragments(path, in_range)
    prunes = bool(0 < planned < len(m.fragments))

    return (
        spark.read.format("lance").load(path)
        .filter(
            (F.col("o_orderkey") >= 400) & (F.col("o_orderkey") <= 700))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
        )
        .withColumn(
            "unsorted_plans_every_fragment", F.lit(bool(unsorted_all)))
        .withColumn("clustered_plan_prunes", F.lit(prunes))
        .withColumn("single_commit_rewrite", F.lit(bool(single_commit)))
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# lf38 — FOR TIMESTAMP AS OF on the native version log (reference:
# `LanceMetadata.java` temporal version resolution — "No Lance version
# found at or before timestamp"; own-format twin lf07). Native commits
# stamp the manifest's timestamp proto (field 7 {secs, nanos}, exactly the
# SDK fixtures' shape); the `timestampAsOf` read option resolves the
# newest version at-or-before the probe, pinning BOTH rows and schema.
# Composed with a MoR delete so the pre-delete snapshot provably differs.
# ---------------------------------------------------------------------------
@register(
    "lf38_native_timestamp_travel",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(COUNT(*) FILTER (WHERE o_orderkey % 3 <> 0)
                AS BIGINT) AS n_after,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum_before,
           TRUE AS timestamp_resolved_pre_delete
    FROM orders
    WHERE o_orderkey <= 3000
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    doc="format: FOR TIMESTAMP AS OF on a native .lance dataset — "
        "manifest timestamp protos resolve the pre-delete snapshot "
        "(rows AND schema) while the latest read sees the MoR delete",
    tags=("format", "interop", "lance-native", "time-travel"),
)
def lf38(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time as _t

    from ..format.lance_native import (
        create_native_dataset,
        native_delete_where,
        resolve_native_version_at,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf38-ttravel")
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 3000)
        .select("o_orderkey", "o_orderpriority")
    )
    create_native_dataset(src, path)
    t_mid_ms = int(_t.time() * 1000)
    _t.sleep(0.01)
    register_lance_datasource(spark)
    native_delete_where(spark, path, F.col("o_orderkey") % 3 == 0)
    resolved_pre = resolve_native_version_at(path, t_mid_ms) == 1

    pre = (
        spark.read.format("lance")
        .option("timestampAsOf", str(t_mid_ms)).load(path)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("n_before"),
             F.sum("o_orderkey").alias("key_sum_before"))
    )
    post = (
        spark.read.format("lance").load(path)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("n_after"))
    )
    return (
        pre.join(post, "priority")
        .select("priority", "n_before", "n_after", "key_sum_before")
        .withColumn(
            "timestamp_resolved_pre_delete", F.lit(bool(resolved_pre)))
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# lf39 — version TAGS on a native `.lance` dataset, in the lance SDK's
# on-disk layout (`_refs/tags/<name>.json` pinning {version,
# manifest_size}): create-once pins survive later MoR DML AND a
# keep_versions=1 vacuum (tag-pinned versions are vacuum-immortal, the
# SDK contract), and `tagAsOf` resolves the pinned snapshot by name
# (own-format twin: cat14; beyond the reference, which has no tag
# surface). The untagged middle version is provably reclaimed.
# ---------------------------------------------------------------------------
@register(
    "lf39_native_version_tags",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_tagged,
           CAST(COUNT(*) FILTER (WHERE o_orderkey % 4 <> 0)
                AS BIGINT) AS n_latest,
           TRUE AS tag_survived_vacuum,
           TRUE AS untagged_version_reclaimed
    FROM orders
    WHERE o_orderkey <= 3000
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    doc="format: version tags on a native .lance dataset (SDK _refs "
        "layout) — tagAsOf reads the pin through later DML and a "
        "keep_versions=1 vacuum; untagged versions reclaim",
    tags=("format", "interop", "lance-native", "tags", "time-travel"),
)
def lf39(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format.lance_native import (
        LanceNativeError,
        create_native_dataset,
        native_cleanup_old_versions,
        native_create_tag,
        native_delete_where,
        read_native_manifest,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf39-tags")
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 3000)
        .select("o_orderkey", "o_orderpriority")
    )
    create_native_dataset(src, path)
    native_create_tag(path, "baseline")
    register_lance_datasource(spark)
    # two MoR deletes -> versions 2 and 3; latest live set = keys % 4 <> 0
    native_delete_where(spark, path, F.col("o_orderkey") % 8 == 0)
    native_delete_where(spark, path, F.col("o_orderkey") % 4 == 0)
    out = native_cleanup_old_versions(path, keep_versions=1)
    tag_ok = 1 in out["retained_versions"]
    reclaimed = False
    try:
        read_native_manifest(path, 2)
    except LanceNativeError:
        reclaimed = True

    tagged = (
        spark.read.format("lance").option("tagAsOf", "baseline").load(path)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("n_tagged"))
    )
    latest = (
        spark.read.format("lance").load(path)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("n_latest"))
    )
    return (
        tagged.join(latest, "priority")
        .withColumn("tag_survived_vacuum", F.lit(bool(tag_ok)))
        .withColumn("untagged_version_reclaimed", F.lit(bool(reclaimed)))
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# lf40 — the FULL nested type tree through the distributed native CTAS:
# struct<scalar, struct<scalar>, array<scalar>> and array<struct<...>>
# columns (the reference reads nested ROW/ARRAY shapes,
# `LanceArrowToPageScanner.java:302-342,591-638`; this repo also WRITES
# them, FILE-v2 recursive validity pages — ancestor NULLs propagate, NULL
# elements ride leaf validity). The scan back dereferences through every
# level and the aggregates are value-exact vs DuckDB computing the same
# scalars from the flat base table.
# ---------------------------------------------------------------------------
@register(
    "lf40_native_nested_tree",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_orderkey % 11 <> 0 THEN o_custkey END)
                AS BIGINT) AS a_sum,
           CAST(SUM(CASE WHEN o_orderkey % 11 <> 0
                          AND o_orderkey % 13 <> 0
                         THEN o_orderkey * 2 END) AS BIGINT) AS x_sum,
           CAST(SUM(CASE WHEN o_orderkey % 11 <> 0
                         THEN o_orderkey % 5 END) AS BIGINT) AS tag0_sum
    FROM orders
    WHERE o_orderkey <= 3000
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    doc="format: full nested type tree (struct<struct>, struct<array>, "
        "array<struct>) through the distributed native CTAS — recursive "
        "validity pages, ancestor-NULL propagation, dereferenced back "
        "value-exact",
    tags=("format", "interop", "lance-native", "nested", "write"),
)
def lf40(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format.lance_native import create_native_dataset
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf40-nested")
    k = F.col("o_orderkey")
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(k <= 3000)
        .select(
            k.alias("k"),
            F.when(k % 11 != 0, F.struct(
                F.col("o_custkey").cast("long").alias("a"),
                F.when(k % 13 != 0, F.struct(
                    (k * 2).cast("long").alias("x"),
                )).alias("inner"),
                F.array((k % 5).cast("long"),
                        (k % 7).cast("long")).alias("tags"),
            )).alias("meta"),
            F.array(F.struct(
                (k % 3).cast("long").alias("u"),
                F.col("o_orderpriority").alias("v"),
            )).alias("los"),
        )
    )
    create_native_dataset(src, path, file_version=2)
    register_lance_datasource(spark)
    back = spark.read.format("lance").load(path)
    return (
        back.groupBy(F.element_at("los", 1).getField("v").alias("priority"))
        .agg(
            F.count("*").alias("n"),
            F.sum("meta.a").alias("a_sum"),
            F.sum("meta.inner.x").alias("x_sum"),
            F.sum(F.element_at("meta.tags", 1)).alias("tag0_sum"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# lf41 — native OPTIMIZE ZORDER: compaction with sort_by=[a, b] rewrites
# the victims in Morton order (16-bit bucket interleave, the same core as
# the own-format cat08), so the per-file stats sidecars prune range
# filters on EITHER column — the multi-dimensional locality a single-key
# sort cannot give. Proof columns pin that an interleaved layout admitted
# every fragment before the rewrite and that BOTH dimensions plan strict
# subsets after, with values oracle-exact.
# ---------------------------------------------------------------------------
@register(
    "lf41_native_zorder_compaction",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           TRUE AS both_dimensions_prune,
           TRUE AS interleaved_admitted_all
    FROM orders
    WHERE o_orderkey <= 6000 AND o_orderkey % 5 <> 0
      AND o_custkey BETWEEN 20 AND 60
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    doc="format: native OPTIMIZE ZORDER — multi-column Morton rewrite "
        "during compaction; stats sidecars prune range filters on either "
        "z-column",
    tags=("format", "interop", "lance-native", "maintenance", "zorder",
          "zonemap"),
)
def lf41(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    from ..format.lance_native import (
        create_native_dataset,
        native_compact,
        native_delete_where,
        read_native_manifest,
    )
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf41-zorder")
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 6000)
        .select("o_orderkey", "o_custkey", "o_orderpriority")
        .repartition(3)  # hash-interleaved on both dimensions
    )
    create_native_dataset(src, path)
    register_lance_datasource(spark)
    native_delete_where(spark, path, F.col("o_orderkey") % 5 == 0)

    key_range = [GreaterThanOrEqual(("o_orderkey",), 400),
                 LessThanOrEqual(("o_orderkey",), 700)]
    cust_range = [GreaterThanOrEqual(("o_custkey",), 20),
                  LessThanOrEqual(("o_custkey",), 60)]
    pre_total = len(read_native_manifest(path).fragments)
    admitted_all = (
        _native_planned_fragments(path, key_range) == pre_total
        and _native_planned_fragments(path, cust_range) == pre_total
    )
    live = spark.read.format("lance").load(path).count()
    # >= 8 z-fragments: with too few, one dimension's per-fragment
    # range can still span the whole space and nothing prunes on it
    native_compact(
        path, spark=spark, sort_by=["o_orderkey", "o_custkey"],
        small_fragment_rows=1 << 60,
        rows_per_fragment=max(1, live // 8 + 1),
    )
    total = len(read_native_manifest(path).fragments)
    pk = _native_planned_fragments(path, key_range)
    pc = _native_planned_fragments(path, cust_range)
    both_prune = bool(0 < pk < total and 0 < pc < total)

    return (
        spark.read.format("lance").load(path)
        .filter((F.col("o_custkey") >= 20) & (F.col("o_custkey") <= 60))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("n"),
             F.sum("o_orderkey").alias("key_sum"))
        .withColumn("both_dimensions_prune", F.lit(both_prune))
        .withColumn("interleaved_admitted_all", F.lit(bool(admitted_all)))
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# lf42 — dictionary-encoded FILE-v2 pages (the v2 twin of lf28's v1
# encoding=3): low-cardinality var-width pages store a PAGE-LOCAL
# dictionary ([i32 codes][dict end-offsets][dict payload], optional
# leading validity), gated on the MANIFEST field marker
# `lance-repo:dictionary=plainpos-v2` so a foreign v2 layout can never
# mis-decode through the arm — the same bytes WITHOUT the marker refuse
# loudly (proof column). Plain and dictionary data files mix in one
# dataset; NULLs ride the ordinary v2 validity buffer.
# ---------------------------------------------------------------------------
@register(
    "lf42_native_v2_dictionary",
    oracle="""
    SELECT p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(p_partkey) AS BIGINT) AS key_sum,
           TRUE AS dict_encoding_smaller,
           TRUE AS unmarked_bytes_refuse
    FROM part
    WHERE p_partkey <= 1200
    GROUP BY p_brand
    ORDER BY brand
    """,
    doc="format: dictionary-encoded FILE-v2 pages — page-local "
        "dictionaries behind the manifest marker, mixed plain/dict "
        "files, unmarked bytes refuse loudly",
    tags=("format", "interop", "lance-native", "encoding", "v2"),
)
def lf42(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format import lance_native as ln
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf42-v2dict")
    plain_path = _fresh_path(sf_dir, "lf42-v2plain")
    rows = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 1200)
        .select("p_partkey", "p_brand")
        .orderBy("p_partkey")
        .collect()
    )
    cols = lambda rs: {  # noqa: E731 — tiny local shaper
        "p_partkey": [int(r["p_partkey"]) for r in rs],
        "p_brand": [str(r["p_brand"]) for r in rs],
    }
    half = len(rows) // 2
    ln.write_native_dataset(
        path, cols(rows[:half]), file_version=2,
        dictionary_columns={"p_brand"})
    # second file PLAIN — mixed encodings under one marked field
    ln.append_native_rows(path, cols(rows[half:]), file_version=2)
    ln.write_native_dataset(plain_path, cols(rows[:half]), file_version=2)

    def data_bytes(p):
        d = os.path.join(p, "data")
        return sum(
            os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))

    smaller = data_bytes(path) < 2 * data_bytes(plain_path)

    # the SAME dictionary page bytes WITHOUT the manifest marker refuse
    m = ln.read_native_manifest(path)
    bfield = next(f for f in m.top_level_fields() if f.name == "p_brand")
    dfile, ci = m.fragments[0].file_for_field(bfield.id)
    stripped = ln.NativeField(
        bfield.name, bfield.id, bfield.parent_id, bfield.logical_type,
        bfield.nullable, bfield.encoding, metadata={})
    refused = False
    try:
        ln.read_file_column(path, dfile, ci, stripped, m)
    except ln.LanceNativeError:
        refused = True

    register_lance_datasource(spark)
    return (
        spark.read.format("lance").load(path)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.count("*").alias("n"),
             F.sum("p_partkey").alias("key_sum"))
        .withColumn("dict_encoding_smaller", F.lit(bool(smaller)))
        .withColumn("unmarked_bytes_refuse", F.lit(bool(refused)))
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# lf43 — ANN freshness on native datasets: the index is an ACCELERATOR,
# never a snapshot. The reference never serves stale vector results
# because Lance SDK scans always see the dataset's live state (the index
# covers what it covers, the scan unions the rest —
# LanceFragmentPageSource.java:126 useScalarIndex semantics); this entry
# pins that contract for the repo's native IVF_PQ sidecars end-to-end:
# append-after-build is visible immediately (uncovered-fragment exact
# arm), ensure_native_vector_index rebuilds exactly when coverage lapses
# and no-ops when it hasn't, and a post-build DELETE is never
# resurrected by a stale index hit.
# ---------------------------------------------------------------------------
@register(
    "lf43_native_ann_freshness",
    oracle="""
    SELECT vec_id AS query_id,
           vec_id AS live_self_match,
           TRUE AS pinned_index_missed,
           TRUE AS served_by_exact_arm,
           TRUE AS post_ensure_from_index,
           TRUE AS deleted_never_resurrected
    FROM embeddings WHERE vec_id BETWEEN 350 AND 354
    ORDER BY query_id
    """,
    doc="format: append -> fresh vector search sees the new rows via the "
        "uncovered-fragment exact fallback; ensure rebuilds on lapsed "
        "coverage (and no-ops when covered); deleted rows are dropped "
        "from stale index hits, never resurrected",
    tags=("format", "lance-native", "similarity", "ann", "index",
          "freshness"),
)
def lf43(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..format.lance_native import (
        create_native_dataset, ensure_native_vector_index,
        latest_native_index, native_delete, native_index_search,
        native_vector_search_fresh)

    path = _fresh_path(sf_dir, "lf43-ann-freshness")
    src = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 400)
        .select("vec_id", "embedding")
    )
    dim = len(src.select("embedding").first()["embedding"])
    create_native_dataset(
        src.where("vec_id < 350")
        .repartition(1).sortWithinPartitions("vec_id"),
        path, fsl_columns={"embedding": dim})
    assert ensure_native_vector_index(path, "embedding", n_cells=4,
                                      nsub=8) is not None
    assert ensure_native_vector_index(path, "embedding") is None  # covered

    # ingest arrives AFTER the build: one appended fragment (350..399)
    from ..sources.lance_datasource import register_lance_datasource

    register_lance_datasource(spark)
    src.where("vec_id >= 350") \
        .repartition(1).sortWithinPartitions("vec_id") \
        .write.format("lance").mode("append").save(path)
    idx = latest_native_index(path, "embedding", "ivf_pq")

    # addr<->vid maps + query vectors from a bounded row_address scan
    # (reference math only — no layout assumption)
    ref = (
        spark.read.format("lance").option("row_address", "true")
        .load(path).select("vec_id", "embedding", "_row_address")
        .orderBy("vec_id").collect()
    )
    rows = ref
    vid_by_addr = {int(r["_row_address"]): int(r["vec_id"]) for r in ref}
    addr_by_vid = {int(r["vec_id"]): int(r["_row_address"]) for r in ref}
    queries = np.asarray([r["embedding"] for r in ref[350:355]],
                         dtype=np.float32)

    def addr_to_vid(a: int) -> int:
        return vid_by_addr[int(a)]

    pinned = native_index_search(path, idx, queries, k=1,
                                 nprobe=idx.n_cells)
    fresh = native_vector_search_fresh(path, "embedding", queries, k=1,
                                       nprobe=idx.n_cells)

    # re-ensure: coverage lapsed -> rebuild; then covered -> no-op, and
    # the same self-queries are served from the index (zero exact rows)
    assert ensure_native_vector_index(path, "embedding", n_cells=4,
                                      nsub=8) is not None
    assert ensure_native_vector_index(path, "embedding") is None
    fresh2 = native_vector_search_fresh(path, "embedding", queries, k=1,
                                        nprobe=4)

    # delete vec_id 399 (fragment 1 row 49): its (now stale) index entry
    # must be dropped by the DV mask, never returned
    a399 = addr_by_vid[399]
    native_delete(path, {a399 >> 32: [a399 & 0xFFFFFFFF]})
    probe399 = np.asarray([rows[399]["embedding"]], dtype=np.float32)
    fresh3 = native_vector_search_fresh(path, "embedding", probe399,
                                        k=3, nprobe=4)
    gone = all(addr_to_vid(a) != 399 for a in fresh3[0]["neighbors"])
    dropped = fresh3[0]["stale_dropped"] >= 1

    out = []
    for qi in range(5):
        vid = 350 + qi
        out.append((
            vid,
            addr_to_vid(fresh[qi]["neighbors"][0]),
            addr_to_vid(pinned[qi]["neighbors"][0]) != vid,
            bool(fresh[qi]["from_exact"] == 1
                 and fresh[qi]["uncovered_fragments"] == 1),
            bool(fresh2[qi]["neighbors"]
                 and addr_to_vid(fresh2[qi]["neighbors"][0]) == vid
                 and fresh2[qi]["from_index"] == 1
                 and fresh2[qi]["exact_rows"] == 0),
            bool(gone and dropped),
        ))
    return spark.createDataFrame(
        out,
        "query_id long, live_self_match long, pinned_index_missed boolean, "
        "served_by_exact_arm boolean, post_ensure_from_index boolean, "
        "deleted_never_resurrected boolean",
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# lf44 — MINIBLOCK FILE-v2 pages (Lance file format 2.1's structural
# encoding for narrow scalar rows — the reference reads it via
# lance-core JNI, LanceFragmentPageSource.java:121-151): values are
# grouped into <=4 KiB chunks (u16 chunk-meta words: 12-bit size +
# log2-values), each chunk frame-of-reference + byte-width packed —
# real compression for narrow ints AND chunk-granular point lookups.
# Chunk bytes are repo-pinned behind the MANIFEST marker
# `lance-repo:miniblock=for-bytepack-v1`; unmarked bytes refuse (the
# dictionary lesson). Plain DML-delta pages of a marked column mix
# freely; NULLs ride the ordinary leading validity buffer.
# ---------------------------------------------------------------------------
@register(
    "lf44_native_v2_miniblock",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
           CAST(SUM(CASE WHEN o_orderkey < 10 THEN 0
                    ELSE CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                    END) AS BIGINT) AS price_c,
           TRUE AS miniblock_smaller,
           TRUE AS point_lookup_chunk_bounded
    FROM orders
    WHERE o_orderkey < 1400
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    doc="format: MINIBLOCK v2 pages (2.1 narrow-scalar structural "
        "encoding) — FOR+byte-width chunks behind the manifest marker, "
        "smaller than plain for narrow ints, chunk-bounded point "
        "lookups, plain DML deltas mix, values exact through DML",
    tags=("format", "interop", "lance-native", "encoding", "v2",
          "miniblock"),
)
def lf44(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..format import lance_native as ln
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf44-miniblock")
    plain_path = _fresh_path(sf_dir, "lf44-plain")
    rows = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 1400)
        .selectExpr(
            "o_orderkey", "CAST(o_custkey AS LONG) AS o_custkey",
            "o_orderpriority",
            "CAST(FLOOR(o_totalprice * 100 + 0.5) AS LONG) AS price_c")
        .orderBy("o_orderkey")
        .collect()
    )
    cols = lambda rs: {  # noqa: E731 — tiny local shaper
        "o_orderkey": [int(r["o_orderkey"]) for r in rs],
        "o_custkey": [int(r["o_custkey"]) for r in rs],
        "o_orderpriority": [str(r["o_orderpriority"]) for r in rs],
        "price_c": [int(r["price_c"]) for r in rs],
    }
    half = len(rows) // 2
    mb = {"o_orderkey", "o_custkey", "price_c"}
    ln.write_native_dataset(
        path, cols(rows[:half]), file_version=2, miniblock_columns=mb)
    ln.append_native_rows(
        path, cols(rows[half:]), file_version=2, miniblock_columns=mb)
    ln.write_native_dataset(plain_path, cols(rows), file_version=2)

    def data_bytes(p):
        d = os.path.join(p, "data")
        return sum(
            os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))

    smaller = data_bytes(path) < data_bytes(plain_path)

    # chunk-bounded point lookup: a 2-row probe decodes only the chunks
    # holding those rows (garble every other chunk's value bytes in a
    # copy — the probe must still be exact: untouched-chunk proof)
    m = ln.read_native_manifest(path)
    kfield = next(f for f in m.top_level_fields()
                  if f.name == "o_orderkey")
    dfile, ci = m.fragments[0].file_for_field(kfield.id)
    raw = open(os.path.join(path, "data", dfile.path), "rb").read()
    offs, sizes, nrows = ln._v2_pages(raw, ci)[0]
    words = np.frombuffer(raw, "<u2", count=sizes[0] // 2, offset=offs[0])
    csizes = (words & np.uint16(0xFFF)).astype(np.int64) + 1
    starts = np.concatenate(([0], np.cumsum(csizes[:-1])))
    vpc = ln._MINIBLOCK_VPC[8]
    probe = np.asarray([1, min(nrows - 1, vpc + 3)], dtype=np.int64)
    keep_chunks = set(int(x) for x in probe // vpc)
    garbled = bytearray(raw)
    n_garbled = 0
    for c in range(len(csizes)):
        if c not in keep_chunks:
            garbled[offs[1] + int(starts[c]) + 9] ^= 0xFF
            n_garbled += 1
    got = ln._try_decode_miniblock(
        bytes(garbled), list(offs), list(sizes), nrows, "int64",
        sel=probe)
    bounded = (
        got is not None
        and got.tolist() == [cols(rows[:half])["o_orderkey"][int(i)]
                             for i in probe]
        and (n_garbled > 0 or len(csizes) <= len(keep_chunks)))

    # DML writes PLAIN delta pages into the marked column: mixed
    # encodings, values stay exact (price zeroed for o_orderkey < 10)
    ln.native_update_where(
        spark, path, "o_orderkey < 10",
        {"price_c": F.lit(0).cast("long")})

    register_lance_datasource(spark)
    return (
        spark.read.format("lance").load(path)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("n"),
             F.sum("o_custkey").alias("cust_sum"),
             F.sum("price_c").alias("price_c"))
        .withColumn("miniblock_smaller", F.lit(bool(smaller)))
        .withColumn("point_lookup_chunk_bounded", F.lit(bool(bounded)))
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# lf45 — FULL-ZIP FILE-v2 pages (Lance 2.1's structural encoding for
# WIDE rows — the second of the 2.1 pair, completing lf44's miniblock):
# each value's bytes are zipped contiguously behind a length prefix with
# a repetition index every K values, so a point lookup is one block-
# bounded ranged read (the object-store shape for multi-KB documents).
# Layout repo-pinned behind the MANIFEST marker
# `lance-repo:fullzip=lenprefix-v1`; unmarked bytes refuse/fall through
# (the dictionary lesson). Plain DML-delta pages of a marked column mix
# per page; NULLs ride the leading validity buffer.
# ---------------------------------------------------------------------------
@register(
    "lf45_native_v2_fullzip",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN doc_id < 5 THEN 7
                    ELSE length(text) END) AS BIGINT) AS chars_total,
           CAST(SUM(length(source)) AS BIGINT) AS src_chars,
           TRUE AS point_lookup_block_bounded
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    doc="format: FULL-ZIP v2 pages (2.1 wide-row structural encoding) — "
        "zipped length-prefixed values + repetition index behind the "
        "manifest marker, block-bounded point lookups, plain DML deltas "
        "mix, values exact through DML",
    tags=("format", "interop", "lance-native", "encoding", "v2",
          "fullzip"),
)
def lf45(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct as _struct

    import numpy as np

    from ..format import lance_native as ln
    from ..sources.lance_datasource import register_lance_datasource

    path = _fresh_path(sf_dir, "lf45-fullzip")
    rows = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang", "source")
        .orderBy("doc_id")
        .collect()
    )
    cols = {
        "doc_id": [int(r["doc_id"]) for r in rows],
        "text": [str(r["text"]) for r in rows],
        "lang": [str(r["lang"]) for r in rows],
        "source": [str(r["source"]) for r in rows],
    }
    half = len(rows) // 2
    fz = {"text", "source"}
    ln.write_native_dataset(
        path, {k: v[:half] for k, v in cols.items()}, file_version=2,
        types={"text": "string", "lang": "string", "source": "string"},
        fullzip_columns=fz)
    ln.append_native_rows(
        path, {k: v[half:] for k, v in cols.items()}, file_version=2,
        fullzip_columns=fz)

    # block-bounded point lookup proof: garble every non-probed block's
    # value bytes in a COPY of the page — the probe must stay exact
    m = ln.read_native_manifest(path)
    tfield = next(f for f in m.top_level_fields() if f.name == "text")
    dfile = m.fragments[0].files[0]
    ci = dfile.field_ids.index(tfield.id)
    raw = open(os.path.join(path, "data", dfile.path), "rb").read()
    offs, sizes, nrows = ln._v2_pages(raw, ci)[0]
    if len(offs) == 3:  # leading validity buffer
        offs, sizes = offs[1:], sizes[1:]
    k = _struct.unpack_from("<Q", raw, offs[0])[0]
    n_blocks = (sizes[0] - 8) // 8
    reps = [_struct.unpack_from("<Q", raw, offs[0] + 8 + 8 * j)[0]
            for j in range(n_blocks)]
    probe = [3, min(nrows - 1, int(k) + 4)]
    keep = {p // int(k) for p in probe}
    garbled = bytearray(raw)
    n_garbled = 0
    for j in range(n_blocks):
        if j not in keep:
            garbled[offs[1] + reps[j] + 5] ^= 0xFF
            n_garbled += 1
    zv = ln._try_decode_fullzip(
        bytes(garbled), list(offs), list(sizes), nrows,
        sel=np.asarray(probe, np.int64))
    bounded = (
        zv is not None
        and [v.decode() for v in zv] == [cols["text"][p] for p in probe]
        and (n_garbled > 0 or n_blocks <= len(keep)))

    # DML writes PLAIN delta pages into the marked columns: mixed
    # encodings, values stay exact (text stubbed for doc_id < 5)
    ln.native_update_where(
        spark, path, "doc_id < 5", {"text": F.lit("patched")})

    register_lance_datasource(spark)
    return (
        spark.read.format("lance").load(path)
        .groupBy("lang")
        .agg(F.count("*").alias("n"),
             F.sum(F.length("text")).alias("chars_total"),
             F.sum(F.length("source")).alias("src_chars"))
        .withColumn("point_lookup_block_bounded", F.lit(bool(bounded)))
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# lf46 — the native path on an OBJECT STORE. The reference's deployment
# matrix is object-store-first (docker-compose.yml:1-17 wires MinIO;
# LanceQueryRunner.java:174-193 passes the S3 endpoint/credentials into
# the connector), and at 100 TB the dataset lives on S3/GCS, not posix.
# This entry runs the full native lifecycle — CTAS-shape write, scan,
# append, MoR DELETE, vacuum — against a MemoryObjectStore root
# (memory://...), with the manifest commit going through the store's
# CONDITIONAL PUT (the S3 If-None-Match: * primitive) instead of a posix
# hard link, and footer-seek metadata reads through ranged GETs. The
# MemoryObjectStore is the conformance double for the conditional-put
# protocol; a production store plugs in through the same ObjectStore
# protocol (format/backend.py), e.g. PyArrowFsObjectStore.
# ---------------------------------------------------------------------------
@register(
    "lf46_native_object_store",
    oracle="""
    SELECT n_regionkey AS region,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
           TRUE AS conditional_put_conflict,
           TRUE AS served_from_object_store,
           TRUE AS vacuum_reaped,
           TRUE AS distributed_scan_ok
    FROM nation WHERE n_regionkey <> 0
    GROUP BY n_regionkey
    UNION ALL
    SELECT 9, 5, CAST(SUM(n_nationkey) + 500 AS BIGINT), TRUE, TRUE, TRUE,
           TRUE
    FROM nation WHERE n_nationkey < 5
    ORDER BY region
    """,
    doc="format: full native lifecycle (write, scan, append, MoR DELETE, "
        "vacuum) on an object-store root — conditional-PUT manifest "
        "commits, ranged-GET metadata reads, zero posix files",
    tags=("format", "lance-native", "object-store", "dml", "vacuum"),
)
def lf46(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format import lance_native as ln
    from ..format import native_io as nio
    from ..format.backend import MemoryObjectStore

    store = MemoryObjectStore()
    bucket = "memory://lf46-suite"
    root = f"{bucket}/warehouse/nation.lance"
    nio.register_object_store_root(bucket, store)
    try:
        rows = (
            load_table(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .orderBy("n_nationkey")
            .collect()
        )
        cols = {
            "n_nationkey": [int(r["n_nationkey"]) for r in rows],
            "n_name": [str(r["n_name"]) for r in rows],
            "n_regionkey": [int(r["n_regionkey"]) for r in rows],
        }
        ln.write_native_dataset(root, cols)

        # optimistic concurrency: re-committing the SAME version loses
        # the conditional put, loudly
        m = ln.read_native_manifest(root)
        conflict = False
        try:
            ln._write_v1_manifest(
                root,
                [(f.name, f.id, f.parent_id, f.logical_type)
                 for f in m.fields],
                [(f.id, ln._relist_files(f), f.physical_rows)
                 for f in m.fragments],
                m.version)
        except ln.LanceNativeError:
            conflict = True

        # append arrives as fragment 1 (new region 9, keys shifted +100)
        ln.append_native_rows(root, {
            "n_nationkey": [k + 100 for k in cols["n_nationkey"][:5]],
            "n_name": [s + "_x" for s in cols["n_name"][:5]],
            "n_regionkey": [9] * 5,
        })

        # MoR DELETE of region 0 rows (deletion vector object in the store)
        dead = [i for i, rk in enumerate(cols["n_regionkey"]) if rk == 0]
        ln.native_delete(root, {0: dead})

        # vacuum: only the latest version survives; dropped manifests and
        # the pre-delete state are reaped from the store
        keys_before = len(store.list_prefix(bucket))
        vac = ln.native_cleanup_old_versions(root, keep_versions=1)
        reaped = (vac["removed_manifests"] >= 2
                  and len(store.list_prefix(bucket)) < keys_before)
        served = (len(store.list_prefix(f"{bucket}/warehouse")) > 0
                  and not os.path.exists(root))

        # live scan straight off the store (deletion-aware)
        live = ln.read_native_manifest(root)
        agg: dict[int, list[int]] = {}
        for frag in live.fragments:
            t = ln.read_native_fragment(
                root, frag, live, columns=["n_nationkey", "n_regionkey"])
            for k, rk in zip(t.column("n_nationkey").to_pylist(),
                             t.column("n_regionkey").to_pylist()):
                ent = agg.setdefault(int(rk), [0, 0])
                ent[0] += 1
                ent[1] += int(k)

        # DISTRIBUTED scan off the store: the (root, store) binding rides
        # the DSv2 options into the python plan/task workers (one task
        # per fragment — the 100 TB fan-out shape on S3/GCS roots)
        from ..sources.lance_datasource import register_lance_datasource

        register_lance_datasource(spark)
        dist = (
            spark.read.format("lance")
            .options(**nio.spark_options(root))
            .load(root)
            .groupBy()
            .agg(F.count("*").alias("n"),
                 F.sum("n_nationkey").alias("s"))
            .collect()[0]
        )
        dist_ok = (int(dist["n"]) == sum(v[0] for v in agg.values())
                   and int(dist["s"]) == sum(v[1] for v in agg.values()))
    finally:
        nio.unregister_object_store_root(bucket)

    out = [(rk, n, s, bool(conflict), bool(served), bool(reaped),
            bool(dist_ok))
           for rk, (n, s) in sorted(agg.items())]
    return spark.createDataFrame(
        out,
        "region long, n long, key_sum long, conditional_put_conflict "
        "boolean, served_from_object_store boolean, vacuum_reaped "
        "boolean, distributed_scan_ok boolean",
    ).orderBy("region")


# ---------------------------------------------------------------------------
# lf47 — INCREMENTAL vector-index maintenance: `extend_native_vector_index`
# encodes ONLY the fragments appended since the newest build (the delta
# encode fans out over a fragments-restricted scan — the CDC unit),
# reuses the trained centroids + residual-PQ codebooks verbatim, and
# merges old partitions through as byte-identical prefixes. The O(corpus)
# rebuild becomes O(appended rows) with zero retraining — at 100 TB a
# daily ingest re-encodes the day's fragments, never the corpus. Gated:
# centroid bytes equal, old postings prefix-preserved, the delta indexed
# exactly the appended rows, and search results EQUAL a full rebuild at
# nprobe=all (exact refine makes both order-exact).
# ---------------------------------------------------------------------------
@register(
    "lf47_native_index_extend",
    oracle="""
    SELECT vec_id AS query_id,
           TRUE AS centroids_reused,
           TRUE AS old_postings_prefix,
           TRUE AS delta_only_indexed,
           TRUE AS parity_with_rebuild,
           TRUE AS scalar_extend_parity
    FROM embeddings WHERE vec_id IN (0, 120, 360, 390)
    ORDER BY query_id
    """,
    doc="format: incremental index maintenance — IVF extend (O(delta) "
        "encode, trained geometry reused, prefix-preserved merge) and "
        "btree extend (sort the delta, linear-merge the rest), both "
        "probe/rebuild-parity-gated",
    tags=("format", "lance-native", "similarity", "ann", "index",
          "maintenance"),
)
def lf47(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..format.lance_native import (
        _iter_scalar_index_rows,
        _read_index_partition,
        create_native_dataset,
        ensure_native_scalar_index,
        extend_native_vector_index,
        latest_native_index,
        list_native_scalar_indices,
        native_index_coverage,
        native_index_search,
        read_native_manifest,
        read_native_index,
        write_native_scalar_index,
        write_native_vector_index,
    )

    path = _fresh_path(sf_dir, "lf47-index-extend")
    src = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 400)
        .select("vec_id", "embedding")
    )
    dim = len(src.select("embedding").first()["embedding"])
    n_total = src.count()
    create_native_dataset(
        src.where("vec_id < 350")
        .repartition(1).sortWithinPartitions("vec_id"),
        path, fsl_columns={"embedding": dim})
    write_native_vector_index(path, "embedding", n_cells=4, nsub=8)
    write_native_scalar_index(path, "vec_id", page_rows=64)
    old = latest_native_index(path, "embedding", "ivf_pq")
    from ..sources.lance_datasource import register_lance_datasource

    register_lance_datasource(spark)
    src.where("vec_id >= 350") \
        .repartition(1).sortWithinPartitions("vec_id") \
        .write.format("lance").mode("append").save(path)  # AFTER builds

    # the delta encode: fragments-restricted, ADAPTIVE (r14) — a delta
    # this small routes to the serial twin even with spark= (the
    # distributed arm's bit-parity reference; the fan-out is for real
    # ingest deltas past the "ivf_extend" threshold in format/routing.py,
    # pinned in pytest)
    extend_native_vector_index(path, "embedding", spark=spark)
    new = latest_native_index(path, "embedding", "ivf_pq")

    centroids_reused = (
        np.asarray(new.centroids).tobytes()
        == np.asarray(old.centroids).tobytes()
        and np.asarray(new.pq_codebook).tobytes()
        == np.asarray(old.pq_codebook).tobytes()
    )
    prefix_ok = True
    added = 0
    for c in range(old.n_cells):
        oc, orid = _read_index_partition(old, c)
        nc, nrid = _read_index_partition(new, c)
        prefix_ok = prefix_ok and (
            nc[: len(oc)].tobytes() == oc.tobytes()
            and nrid[: len(orid)].tobytes()
            == np.asarray(orid).tobytes()
        )
        added += len(nrid) - len(orid)
    m = read_native_manifest(path)
    delta_only = (
        added == n_total - 350
        and native_index_coverage(path, new) == {f.id for f in m.fragments}
    )

    # the btree twin: sort the delta, linear-merge the old sorted run —
    # the merged (value, addr) run must equal a from-scratch rebuild's
    sc_uid = ensure_native_scalar_index(
        path, "vec_id", page_rows=64, incremental=True)
    sc_rb = write_native_scalar_index(path, "vec_id", page_rows=64)
    by_uid = {
        os.path.basename(os.path.dirname(i.path)): i
        for i in list_native_scalar_indices(path)
    }
    # the in-place LSM extend appends the delta as a new RUN; the
    # multi-run iterator heap-merges runs into ONE sorted sequence that
    # must equal the rebuild's single run exactly (merge of sorted runs
    # is unique) — fences differ by construction (per-run), so parity
    # is the global run + row count, not the fence layout
    scalar_parity = bool(
        sc_uid is not None
        and list(_iter_scalar_index_rows(by_uid[sc_uid]))
        == list(_iter_scalar_index_rows(by_uid[sc_rb]))
        and by_uid[sc_uid].n_rows == by_uid[sc_rb].n_rows
        and len(by_uid[sc_uid].shard_runs) == 2  # base + delta run
    )

    # parity vs a full rebuild, per query, at nprobe=all
    rb_uid = write_native_vector_index(path, "embedding", n_cells=4, nsub=8)
    rebuilt = read_native_index(
        os.path.join(path, "_indices", rb_uid, "index.idx"))
    vec_by_id = {
        int(r["vec_id"]): r["embedding"]
        for r in src.where(
            F.col("vec_id").isin([0, 120, 360, 390])).collect()
    }
    out = []
    for qid in (0, 120, 360, 390):
        q = np.asarray(vec_by_id[qid], dtype=np.float32)
        r_ext = native_index_search(
            path, new, q, k=5, nprobe=new.n_cells, manifest=m)[0]
        r_full = native_index_search(
            path, rebuilt, q, k=5, nprobe=rebuilt.n_cells, manifest=m)[0]
        out.append((
            qid,
            bool(centroids_reused),
            bool(prefix_ok),
            bool(delta_only),
            bool(r_ext["neighbors"] == r_full["neighbors"]),
            scalar_parity,
        ))
    return spark.createDataFrame(
        out,
        "query_id long, centroids_reused boolean, old_postings_prefix "
        "boolean, delta_only_indexed boolean, parity_with_rebuild boolean, "
        "scalar_extend_parity boolean",
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# lf48 — native RESTORE through the SQL router: `RESTORE TABLE ... TO
# VERSION n` on a binary-manifest table republishes the target version's
# SCHEMA AND fragment list as one new manifest commit — time travel made
# durable, zero data movement, history preserved (the rolled-past
# versions still travel), and the fragment-id watermark never rewinds
# (post-target ids stay retired — the r10 recycling hazard). The restored
# snapshot immediately takes DML: a post-restore MoR DELETE commits
# against the republished fragments.
# ---------------------------------------------------------------------------
@register(
    "lf48_native_restore",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_restored,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum_restored,
           CAST((SELECT COUNT(*) FROM customer
                 WHERE c_custkey < 600 AND c_custkey % 3 <> 0)
                AS BIGINT) AS n_rolled_past_version,
           TRUE AS schema_rolled_back,
           TRUE AS history_still_travels,
           TRUE AS post_restore_dml_ok
    FROM customer WHERE c_custkey < 600
    """,
    doc="format: native RESTORE via SQL — schema+rows roll back in one "
        "manifest commit, history travels, watermark never rewinds",
    tags=("format", "lance-native", "catalog", "restore", "time-travel"),
)
def lf48(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..format.lance_native import read_native_manifest
    from .catalog import _fresh_catalog

    cat = _fresh_catalog(spark, sf_dir, "lf48")
    cat.sql("CREATE SCHEMA ns")
    loc = cat.namespace.declare_table("ns", "cust_native")

    src = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 600)
        .select("c_custkey", "c_mktsegment")
    )
    src.createOrReplaceTempView("lf48_src")
    cat.sql("CREATE OR REPLACE NATIVE TABLE ns.cust_native AS "
            "SELECT * FROM lf48_src")                           # v1

    cat.sql("DELETE FROM ns.cust_native WHERE c_custkey % 3 = 0")   # v2
    cat.sql("ALTER TABLE ns.cust_native ADD COLUMN note STRING")    # v3
    n_evolved = cat.sql(
        "SELECT COUNT(*) AS n FROM ns.cust_native").collect()[0]["n"]
    m_before = read_native_manifest(loc)

    cat.sql("RESTORE TABLE ns.cust_native TO VERSION 1")
    restored = cat.sql("SELECT * FROM ns.cust_native")
    schema_back = restored.columns == ["c_custkey", "c_mktsegment"]
    n_restored = restored.count()  # BEFORE the post-restore DML below

    # the rolled-past version still travels, evolved schema intact
    old = cat.sql(
        f"SELECT * FROM ns.cust_native VERSION AS OF {m_before.version}")
    travels = (
        old.columns == ["c_custkey", "c_mktsegment", "note"]
        and old.count() == n_evolved
    )

    # watermark: a post-restore DML allocates fragment ids ABOVE
    # everything ever committed, and the restored snapshot takes DML
    m_restored = read_native_manifest(loc)
    wm_ok = m_restored.max_fragment_id >= m_before.max_fragment_id
    cat.sql("DELETE FROM ns.cust_native WHERE c_custkey = 1")
    post_ok = bool(
        wm_ok
        and cat.sql("SELECT COUNT(*) AS n FROM ns.cust_native")
        .collect()[0]["n"] == n_restored - 1
    )

    # emit the RESTORED (pre-final-delete) snapshot's aggregate via time
    # travel so the oracle is a plain query over customer
    return (
        cat.sql(f"SELECT * FROM ns.cust_native VERSION AS OF "
                f"{m_restored.version}")
        .agg(
            F.count("*").alias("n_restored"),
            F.sum("c_custkey").alias("key_sum_restored"),
        )
        .withColumn("n_rolled_past_version", F.lit(int(n_evolved)))
        .withColumn("schema_rolled_back", F.lit(bool(schema_back)))
        .withColumn("history_still_travels", F.lit(bool(travels)))
        .withColumn("post_restore_dml_ok", F.lit(bool(post_ok)))
    )

"""Format-layer tests mirroring the reference's fixture suite (SURVEY §5.4:
multi-fragment scans, deletion-aware counts, time travel, version listing,
conflict behavior)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from lance_trino_spark.format.dataset import ROW_ADDR_COL, LanceDataset
from lance_trino_spark.format.manifest import CommitConflictError
from lance_trino_spark.operators import dml


@pytest.fixture
def tmp_ds_path(tmp_path):
    p = str(tmp_path / "t.lance")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def _mk(spark, path, n=100, rows_per_file=30):
    # single writer task → fragment boundaries are determined solely by
    # max_rows_per_file (multi-task writes produce one fragment per task,
    # which is the desired distributed behavior but not what these layout
    # assertions pin down)
    df = (
        spark.range(n)
        .coalesce(1)
        .select(F.col("id").alias("x"), (F.col("id") % 7).alias("y"))
    )
    return LanceDataset.create(path, df, max_rows_per_file=rows_per_file)


def test_multi_fragment_roundtrip(spark, tmp_ds_path):
    ds = _mk(spark, tmp_ds_path)
    assert len(ds.manifest.fragments) >= 4  # 100 rows / 30 per file
    assert ds.count_rows() == 100
    assert ds.to_df(spark).count() == 100
    assert sorted(r["x"] for r in ds.to_df(spark, filter="y = 0").collect()) == list(
        range(0, 100, 7)
    )


def test_limit_coalescing_reads_leading_fragments_only(spark, tmp_ds_path):
    ds = _mk(spark, tmp_ds_path)
    df = ds.to_df(spark, limit=10)
    # only the first fragment's file should be scanned (A7)
    assert len(df.inputFiles()) == 1
    assert df.count() == 10
    # limit+filter cannot coalesce: all fragments scanned
    df2 = ds.to_df(spark, filter="y = 3", limit=5)
    assert len(df2.inputFiles()) == len(ds.manifest.fragments)
    assert df2.count() == 5


def test_row_address_layout(spark, tmp_ds_path):
    ds = _mk(spark, tmp_ds_path, n=60, rows_per_file=30)
    rows = ds.to_df(spark, with_row_address=True).collect()
    addrs = {r["x"]: r[ROW_ADDR_COL] for r in rows}
    frags = {a >> 32 for a in addrs.values()}
    assert frags == {0, 1}
    idxs = sorted(a & 0xFFFFFFFF for a in addrs.values() if a >> 32 == 0)
    assert idxs == list(range(30))


def test_time_travel_and_timestamp_asof(spark, tmp_ds_path):
    ds = _mk(spark, tmp_ds_path, n=10)
    t1 = ds.manifest.timestamp_ms
    ds2 = ds.append(
        spark.range(10, 20).select(
            F.col("id").alias("x"), F.lit(0).cast("long").alias("y")
        )
    )
    assert LanceDataset.open(tmp_ds_path, version=1).count_rows() == 10
    assert LanceDataset.open(tmp_ds_path).count_rows() == 20
    assert LanceDataset.open(tmp_ds_path, asof_timestamp_ms=t1).version == 1
    assert (
        LanceDataset.open(tmp_ds_path, asof_timestamp_ms=ds2.manifest.timestamp_ms).version
        == 2
    )
    with pytest.raises(ValueError):
        LanceDataset.open(tmp_ds_path, version=0)
    with pytest.raises(ValueError):
        LanceDataset.open(tmp_ds_path, version=99)


def test_mor_delete_and_full_fragment_removal(spark, tmp_ds_path):
    ds = _mk(spark, tmp_ds_path, n=60, rows_per_file=30)
    ds2 = dml.delete(ds, spark, "x < 30")  # wipes fragment 0 entirely
    assert ds2.count_rows() == 30
    assert [f.id for f in ds2.manifest.fragments] == [1]
    ds3 = dml.delete(ds2, spark, "x = 35")
    assert ds3.count_rows() == 29
    assert 35 not in {r["x"] for r in ds3.to_df(spark).collect()}
    # deletions accumulate across commits (union semantics)
    ds4 = dml.delete(ds3, spark, "x = 36")
    assert ds4.count_rows() == 28
    assert {35, 36} & {r["x"] for r in ds4.to_df(spark).collect()} == set()


def test_scan_pushes_filters_and_prunes_nested_schema(spark, tmp_ds_path):
    """A4/A5 on the format-layer path: pushed predicates and nested-struct
    pruning must reach the parquet scan (the reference dereferences struct
    fields into leaf column handles, `LanceMetadata.java:463-551`; Spark's
    nestedSchemaPruning gives the same effect below `to_df`)."""
    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.struct(
            F.col("id").cast("int").alias("a"),
            F.concat(F.lit("v"), F.col("id")).alias("b"),
        ).alias("st"),
    )
    ds = LanceDataset.create(tmp_ds_path, df)
    scan = ds.to_df(spark, filter="k > 50").select("st.a")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThan(k,50)" in plan
    # only st.a survives in the read schema — st.b is pruned
    assert "st:struct<a:int>" in plan.replace(" ", "")
    assert scan.count() == 49


def test_delete_copy_on_write_above_row_threshold(spark, tmp_ds_path):
    ds = _mk(spark, tmp_ds_path, n=100, rows_per_file=50)
    ds2 = dml.delete(ds, spark, "x < 80", cow_threshold_rows=10)
    assert ds2.count_rows() == 20
    assert ds2.manifest.operation == "overwrite"
    assert all(f.deletion is None for f in ds2.manifest.fragments)
    assert {r["x"] for r in ds2.to_df(spark).collect()} == set(range(80, 100))
    # below the threshold the MoR path still applies
    ds3 = dml.delete(ds2, spark, "x = 85")
    assert ds3.manifest.operation == "update"
    assert ds3.count_rows() == 19


def test_delete_copy_on_write_above_fraction_threshold(spark, tmp_ds_path):
    ds = _mk(spark, tmp_ds_path, n=100, rows_per_file=50)
    ds2 = dml.delete(ds, spark, "x < 60")  # 60% > default 50% fraction
    assert ds2.manifest.operation == "overwrite"
    assert ds2.count_rows() == 40


def test_update_conflict_on_stale_handle(spark, tmp_ds_path):
    ds = _mk(spark, tmp_ds_path, n=10)
    dml.delete(ds, spark, "x = 1")  # advances to v2 behind ds's back
    with pytest.raises(CommitConflictError):
        ds.commit_update({0: [0]})


def test_append_retries_through_conflict(spark, tmp_ds_path):
    ds = _mk(spark, tmp_ds_path, n=10)
    stale = LanceDataset.open(tmp_ds_path)
    ds.append(
        spark.range(10, 12).select(
            F.col("id").alias("x"), F.lit(0).cast("long").alias("y")
        )
    )
    out = stale.append(
        spark.range(12, 14).select(
            F.col("id").alias("x"), F.lit(0).cast("long").alias("y")
        )
    )
    assert out.count_rows() == 14  # both appends landed despite the race


def test_empty_dataset_and_schema(spark, tmp_ds_path):
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("a", LongType()), StructField("b", LongType())])
    ds = LanceDataset.create_empty(tmp_ds_path, schema)
    assert ds.count_rows() == 0
    df = ds.to_df(spark)
    assert df.schema == schema and df.count() == 0
    with pytest.raises(FileExistsError):
        LanceDataset.create_empty(tmp_ds_path, schema)


def test_compaction_rewrites_small_and_dv_fragments(spark, tmp_ds_path):
    ds = _mk(spark, tmp_ds_path, n=100, rows_per_file=10)  # 10 tiny fragments
    ds = dml.delete(ds, spark, "x % 10 = 3")  # every fragment gets a DV
    assert any(f.deletion for f in ds.manifest.fragments)
    before_rows = sorted(r["x"] for r in ds.to_df(spark).collect())

    ds2 = ds.compact(spark, target_rows_per_file=1000)
    assert len(ds2.manifest.fragments) == 1
    assert all(f.deletion is None for f in ds2.manifest.fragments)
    assert ds2.manifest.operation == "overwrite"
    assert sorted(r["x"] for r in ds2.to_df(spark).collect()) == before_rows
    # idempotent: nothing left to compact
    assert ds2.compact(spark, target_rows_per_file=1000) is ds2
    # old version still readable (time travel across compaction)
    assert LanceDataset.open(tmp_ds_path, version=ds.version).count_rows() == 90


def test_compaction_keeps_full_fragments_in_place(spark, tmp_ds_path):
    # two writer tasks × 50 rows at max 40/file → fragments 40,10,40,10
    df = (
        spark.range(100)
        .repartition(2)
        .select(F.col("id").alias("x"), (F.col("id") % 7).alias("y"))
    )
    ds = LanceDataset.create(tmp_ds_path, df, max_rows_per_file=40)
    smalls = [f for f in ds.manifest.fragments if f.num_rows < 40]
    assert len(smalls) == 2
    ds2 = ds.compact(spark, target_rows_per_file=40, small_file_threshold=0.9)
    # full fragments carried over by path; the two smalls merged into one
    old_paths = {f.path for f in ds.manifest.fragments}
    new_paths = {f.path for f in ds2.manifest.fragments}
    assert len(old_paths & new_paths) == 2
    assert len(ds2.manifest.fragments) == 3
    assert ds2.count_rows() == 100
    # a single leftover clean small fragment is not churned further
    assert ds2.compact(spark, target_rows_per_file=40, small_file_threshold=0.9) is ds2


def test_vacuum_removes_unreferenced_files_and_versions(spark, tmp_ds_path):
    import os

    ds = _mk(spark, tmp_ds_path, n=100, rows_per_file=10)
    ds = dml.delete(ds, spark, "x % 10 = 3")
    ds = ds.compact(spark, target_rows_per_file=1000)  # v3; old files orphaned
    n_data_before = len(os.listdir(os.path.join(tmp_ds_path, "data")))

    stats = LanceDataset.vacuum(tmp_ds_path, keep_versions=1)
    assert stats["removed_versions"] == 2
    assert stats["removed_files"] > 0
    # only the compacted fragment's file remains; table reads unchanged
    n_data_after = len(os.listdir(os.path.join(tmp_ds_path, "data")))
    assert n_data_after < n_data_before
    cur = LanceDataset.open(tmp_ds_path)
    assert cur.count_rows() == 90
    assert cur.to_df(spark).count() == 90
    # vacuumed versions are gone
    assert cur.versions() == [cur.version]
    with pytest.raises(Exception):
        LanceDataset.open(tmp_ds_path, version=1)


def test_merge_multi_first_match_wins(spark, tmp_ds_path):
    ds = _mk(spark, tmp_ds_path, n=10)  # rows x=0..9, y=x%7
    src = spark.createDataFrame(
        [(i, -1 if i % 2 == 0 else 5) for i in range(6)], ["x", "delta"]
    )
    out = dml.merge_multi(
        ds, spark, src, on="x",
        matched_clauses=[
            ("_src_delta < 0", None),            # DELETE evens
            (None, {"y": "y + _src_delta"}),     # UPDATE the rest
        ],
    )
    rows = {r["x"]: r["y"] for r in out.to_df(spark).collect()}
    assert set(rows) == {1, 3, 5, 6, 7, 8, 9}  # 0,2,4 deleted
    assert rows[1] == 6 and rows[3] == 8 and rows[5] == 10  # matched updates
    assert rows[6] == 6 and rows[9] == 2  # untouched


def test_merge_rejects_duplicate_source_match(spark, tmp_ds_path):
    ds = _mk(spark, tmp_ds_path, n=5)
    src = spark.createDataFrame([(1, 10), (1, 20)], ["x", "y"])
    with pytest.raises(dml.MergeError):
        dml.merge(ds, spark, src, on="x", matched_update={"y": "_src_y"})


def test_compact_zorder_clusters_both_columns(spark, tmp_path):
    import pytest as _pytest

    from lance_trino_spark.format.dataset import LanceDataset

    # scrambled 2-D grid: no natural order on either axis
    df = (
        spark.range(4096)
        .selectExpr("id % 64 AS x", "id div 64 AS y", "md5(string(id)) AS salt")
        .orderBy("salt")
        .drop("salt")
    )
    ds = LanceDataset.create(str(tmp_path / "z.lance"), df, max_rows_per_file=512)
    with _pytest.raises(ValueError, match="mutually exclusive"):
        ds.compact(spark, sort_by=["x"], zorder_by=["x", "y"])
    out = ds.compact(spark, target_rows_per_file=512, zorder_by=["x", "y"])
    frags = out.manifest.fragments
    assert len(frags) > 4
    for col in ("x", "y"):
        spans = sorted(f.stats[col]["max"] - f.stats[col]["min"] for f in frags)
        # An unaligned Z-range that crosses a high-bit boundary legitimately
        # spans the whole axis, so assert on the typical fragment, not the
        # mean: the median span must be well under the full extent (a
        # scrambled layout gives ~full span on EVERY fragment).
        assert spans[len(spans) // 2] < 0.6 * 63, (col, spans)
    # values survive the rewrite
    assert out.to_df(spark).count() == 4096
    assert out.to_df(spark).agg({"x": "sum"}).collect()[0][0] == 4096 * 63 // 2


def test_restore_preserves_history_and_guards(spark, tmp_path):
    from lance_trino_spark.format.dataset import LanceDataset
    from lance_trino_spark.operators import dml

    path = str(tmp_path / "restore.lance")
    ds = LanceDataset.create(path, spark.range(20).selectExpr("id AS k"))
    ds = dml.delete(ds, spark, "k >= 10")          # v2
    assert ds.to_df(spark).count() == 10
    ds = ds.restore(1)                              # v3
    assert ds.version == 3
    assert ds.to_df(spark).count() == 20
    # deleted state remains time-travelable
    assert LanceDataset.open(path, version=2).to_df(spark).count() == 10
    # fragment-id counter survives the restore: appends never reuse ids
    ds2 = ds.append(spark.range(20, 25).selectExpr("id AS k"))
    ids = [f.id for f in ds2.manifest.fragments]
    assert len(ids) == len(set(ids))


def test_table_changes_insert_delete_and_rewrite_guard(spark, tmp_path):
    import pytest

    from lance_trino_spark.format.dataset import LanceDataset, table_changes
    from lance_trino_spark.operators import dml

    path = str(tmp_path / "cdc.lance")
    ds = LanceDataset.create(
        path, spark.range(10).selectExpr("id AS k"), max_rows_per_file=4
    )                                               # v1
    ds = ds.append(spark.range(10, 14).selectExpr("id AS k"))   # v2
    ds = dml.delete(ds, spark, "k = 3 OR k = 12")   # v3 (one old, one new)
    ch = table_changes(spark, path, 1, 3).collect()
    ins = sorted(r["k"] for r in ch if r["_change_type"] == "insert")
    dels = sorted(r["k"] for r in ch if r["_change_type"] == "delete")
    # k=12 was appended AND deleted inside the range -> net absent
    assert ins == [10, 11, 13]
    assert dels == [3]
    # a narrower window sees only its own slice
    ch23 = table_changes(spark, path, 2, 3).collect()
    assert sorted(r["k"] for r in ch23 if r["_change_type"] == "delete") == [3, 12]
    # compaction inside the range is refused
    ds = ds.compact(spark, target_rows_per_file=100)
    with pytest.raises(ValueError, match="rewrite"):
        table_changes(spark, path, 1, ds.version)


def test_tags_lifecycle_and_vacuum_pinning(spark, tmp_path):
    import pytest

    from lance_trino_spark.format.dataset import LanceDataset
    from lance_trino_spark.format.refs import TagError

    path = str(tmp_path / "tags.lance")
    ds = LanceDataset.create(path, spark.range(10).selectExpr("id AS k"))
    ds.create_tag("v1-release")
    ds = ds.append(spark.range(10, 20).selectExpr("id AS k"))      # v2
    ds = ds.append(spark.range(20, 30).selectExpr("id AS k"))      # v3
    assert LanceDataset.open(path, tag="v1-release").to_df(spark).count() == 10
    assert ds.tags() == {"v1-release": 1}
    with pytest.raises(TagError, match="already exists"):
        ds.create_tag("v1-release")
    with pytest.raises(TagError, match="no such tag"):
        LanceDataset.open(path, tag="nope")
    # vacuum keeps the tagged version AND its files readable
    LanceDataset.vacuum(path, keep_versions=1)
    assert LanceDataset.open(path, tag="v1-release").to_df(spark).count() == 10
    assert LanceDataset.open(path).to_df(spark).count() == 30
    with pytest.raises(Exception):
        LanceDataset.open(path, version=2)  # untagged middle version GC'd
    # after dropping the tag, a second vacuum may reclaim it
    ds = LanceDataset.open(path)
    ds.delete_tag("v1-release")
    LanceDataset.vacuum(path, keep_versions=1)
    with pytest.raises(Exception):
        LanceDataset.open(path, version=1)


_FAILING_TAG_WRITE = """
import errno, resource, signal, sys
from lance_trino_spark.format.refs import create_tag
signal.signal(signal.SIGXFSZ, signal.SIG_IGN)
resource.setrlimit(resource.RLIMIT_FSIZE,
                   (0, resource.getrlimit(resource.RLIMIT_FSIZE)[1]))
try:
    create_tag(sys.argv[1], "rel", 1)
except OSError as e:
    sys.exit(0 if e.errno == errno.EFBIG else 1)
sys.exit(2)
"""


def test_failed_tag_write_leaves_no_tag(tmp_path):
    """A tag whose payload write fails (here: a zero file-size limit, the
    disk-full shape) must publish nothing — not an empty tag file that
    every later list/resolve/vacuum trips over and that blocks
    re-creating the tag."""
    import os
    import subprocess
    import sys

    from pyspark.sql.types import LongType, StructField, StructType

    from lance_trino_spark.format.manifest import Manifest, commit_manifest
    from lance_trino_spark.format.refs import list_tags, resolve_tag

    path = str(tmp_path / "t.lance")
    ds = LanceDataset.create_empty(
        path, StructType([StructField("a", LongType())]))
    for v in (2, 3):
        commit_manifest(path, Manifest(version=v, schema_json=ds.schema.jsonValue()))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run([sys.executable, "-c", _FAILING_TAG_WRITE, path],
                          cwd=repo, capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr  # the write failed with EFBIG
    assert list_tags(path) == {}
    ds.create_tag("rel", 1)  # re-creatable
    assert resolve_tag(path, "rel") == 1
    assert list_tags(path) == {"rel": 1}
    out = LanceDataset.vacuum(path, keep_versions=1)
    assert out["retained_versions"] == [1, 3]


def test_commit_metadata_provenance(spark, tmp_path):
    from lance_trino_spark.catalog import LanceCatalog
    from lance_trino_spark.format.dataset import LanceDataset

    path = str(tmp_path / "prov.lance")
    ds = LanceDataset.create(path, spark.range(5).selectExpr("id AS k"))
    ds = ds.append(
        spark.range(5, 8).selectExpr("id AS k"),
        commit_metadata={"job": "ingest-42", "source_offset": 1234},
    )
    assert ds.manifest.commit_metadata == {
        "job": "ingest-42", "source_offset": 1234
    }
    # survives the manifest round-trip and is absent on plain commits
    reread = LanceDataset.open(path, version=2)
    assert reread.manifest.commit_metadata["job"] == "ingest-42"
    assert LanceDataset.open(path, version=1).manifest.commit_metadata is None
    # surfaced through DESCRIBE HISTORY
    cat = LanceCatalog(spark, str(tmp_path / "provcat"))
    cat.sql("CREATE SCHEMA pv")
    spark.range(3).selectExpr("id AS k").createOrReplaceTempView("_prov_src")
    cat.sql("CREATE TABLE pv.t AS SELECT * FROM _prov_src")
    cat.load("pv", "t").append(
        spark.range(3, 5).selectExpr("id AS k"),
        commit_metadata={"run": "r1"},
    )
    hist = {r["version"]: r["commit_metadata"]
            for r in cat.sql("DESCRIBE HISTORY pv.t").collect()}
    assert hist[1] is None and '"run": "r1"' in hist[2]


def test_append_maintain_indexes_flag(spark, tmp_path):
    from lance_trino_spark.format.dataset import LanceDataset
    from lance_trino_spark.format.index import index_rel_path
    from lance_trino_spark.format.vector_index import hnsw_shard_files

    import os

    path = str(tmp_path / "maint.lance")
    emb = spark.range(100).selectExpr(
        "id AS k",
        "transform(sequence(1, 8), i -> CAST((id * i) % 17 AS FLOAT)) AS v",
    )
    ds = LanceDataset.create(path, emb)
    ds = ds.create_scalar_index(spark, "k")
    ds = ds.create_vector_index(spark, "v", index_type="HNSW", hnsw_m=4)
    more = spark.range(100, 140).selectExpr(
        "id AS k",
        "transform(sequence(1, 8), i -> CAST((id * i) % 17 AS FLOAT)) AS v",
    )
    out = ds.append(more, maintain_indexes=True)
    new_frags = [f for f in out.manifest.fragments
                 if f.id > max(f2.id for f2 in ds.manifest.fragments)]
    assert new_frags
    for f in new_frags:
        assert os.path.exists(os.path.join(path, index_rel_path("k", f.path)))
        assert hnsw_shard_files(path, "v", f.path)
    # default append leaves sidecars to consult-if-present
    out2 = out.append(
        spark.range(140, 150).selectExpr(
            "id AS k",
            "transform(sequence(1, 8), i -> CAST((id * i) % 17 AS FLOAT)) AS v",
        )
    )
    newest = max(out2.manifest.fragments, key=lambda f: f.id)
    assert not os.path.exists(
        os.path.join(path, index_rel_path("k", newest.path))
    )


def test_vacuum_then_cdc_raises_cleanly(spark, tmp_path):
    import pytest

    from lance_trino_spark.format.backend import VersionNotFoundError
    from lance_trino_spark.format.dataset import LanceDataset, table_changes

    path = str(tmp_path / "vac-cdc.lance")
    ds = LanceDataset.create(path, spark.range(10).selectExpr("id AS k"))
    ds = ds.append(spark.range(10, 20).selectExpr("id AS k"))
    ds = ds.append(spark.range(20, 30).selectExpr("id AS k"))
    LanceDataset.vacuum(path, keep_versions=1)
    with pytest.raises(VersionNotFoundError):
        table_changes(spark, path, 1, 3)  # window predates retention

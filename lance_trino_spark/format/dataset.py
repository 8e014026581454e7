"""LanceDataset: versioned, fragment-based, merge-on-read tables for Spark.

The Spark-native re-expression of the reference's dataset/fragment model
(SURVEY §1.1): fragments are Parquet files so the *scan path is Spark's
native vectorized parquet reader* — predicate pushdown, column pruning and
whole-stage codegen all apply with zero custom read code (the reference needs
650 lines of Arrow→Page conversion, `LanceArrowToPageScanner.java:82-652`;
DataFrame-over-parquet makes that layer disappear).

Key mechanics:
- **Scan** (`to_df`): reads only live fragment files of the pinned version;
  when deletion vectors exist (or `_rowaddr` is requested) it derives
  `_rowaddr = fragment_id << 32 | row_index` from Spark's `_metadata`
  hidden column and anti-joins the (broadcast-small) deletion vectors —
  merge-on-read exactly like the reference's dataset-level scan
  (`LanceFragmentPageSource.java:87-92,144-151`).
- **Write**: executors write parquet into a staging dir (distributed, no
  commit), the driver promotes the files to fragments and publishes ONE
  atomic manifest — the same two-phase shape as the reference's
  PageSink/finishInsert protocol (`LanceMetadata.java:1031-1112`).
- **Limit planning**: with a limit and no filter, only the leading fragments
  whose deletion-aware row counts cover the limit are read
  (`LanceSplitManager.java:78-112` coalescing logic).
- **COUNT(*)**: answered from the manifest in O(1)
  (`LanceMetadata.java:604-658`).
"""

from __future__ import annotations

import os
import uuid

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .blob import (
    BLOB_PROP,
    apply_blob_read_semantics,
    fetch_blobs,
    stage_blob_columns,
    virtual_columns,
)
from . import native_io as nio
from .fragments import as_fragments, stage_via_tasks

RETIRED_PROP = "retired_columns"  # manifest.properties: dropped column names
from .vector import VECTOR_PROP, enforce_vector_columns, parse_vector_columns
from .manifest import (
    DATA_DIR,
    DELETIONS_DIR,
    CommitConflictError,
    DeletionFile,
    Fragment,
    Manifest,
    commit_manifest,
    delete_manifest,
    latest_version,
    list_versions,
    read_manifest,
    schemas_compatible,
    version_at_timestamp,
)
from .routing import fan_out

ROW_ADDR_COL = "_rowaddr"
FRAGMENT_SHIFT = 32  # RowAddress.java:22-43 — high 32 bits fragment id
MAX_ROWS_PER_FILE = 1_000_000  # reference default, LanceConfig.java:128
# vacuum only reaps .stage-*/.tmp-* dirs idle this long (live-writer safety)
STAGING_RETENTION_SECS = 3600.0


def fragment_id_of(rowaddr: Column) -> Column:
    return F.shiftrightunsigned(rowaddr, FRAGMENT_SHIFT)


def row_index_of(rowaddr: Column) -> Column:
    return rowaddr.bitwiseAND(F.lit((1 << FRAGMENT_SHIFT) - 1))


class LanceDataset:
    """A dataset handle pinned to one version (snapshot isolation)."""

    def __init__(self, path: str, manifest: Manifest):
        self.path = path
        self.manifest = manifest

    # ------------------------------------------------------------------ open
    @staticmethod
    def open(
        path: str,
        version: int | None = None,
        asof_timestamp_ms: int | None = None,
        tag: str | None = None,
    ) -> "LanceDataset":
        if sum(x is not None for x in (version, asof_timestamp_ms, tag)) > 1:
            raise ValueError(
                "specify at most one of version / asof_timestamp_ms / tag"
            )
        if tag is not None:
            from .refs import resolve_tag

            version = resolve_tag(path, tag)
        if version is None:
            version = (
                version_at_timestamp(path, asof_timestamp_ms)
                if asof_timestamp_ms is not None
                else latest_version(path)
            )
        if version <= 0:
            raise ValueError(f"version must be positive, got {version}")
        return LanceDataset(path, read_manifest(path, version))

    @staticmethod
    def exists(path: str) -> bool:
        return bool(list_versions(path))

    # ----------------------------------------------------------------- props
    @property
    def version(self) -> int:
        return self.manifest.version

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(self.manifest.schema_json)

    @property
    def blob_columns(self) -> list[str]:
        return list(self.manifest.properties.get(BLOB_PROP, []))

    def count_rows(self) -> int:
        """O(1) from the manifest — zero data scanned."""
        return self.manifest.total_rows

    # Per-type in-memory row widths for fixed-width types (= type size, the
    # same defaults Spark's CBO uses when column stats are absent). Only an
    # *estimate* — its single job is ordering join sides and gating
    # broadcast decisions.
    _TYPE_WIDTHS = {
        "boolean": 1, "byte": 1, "short": 2, "integer": 4, "long": 8,
        "float": 4, "double": 8, "date": 4, "timestamp": 8,
        "timestamp_ntz": 8, "decimal": 16,
    }
    # Variable-width scalar default. Deliberately larger than Spark's flat
    # 20 bytes: a broadcast decision made from an UNDER-estimate is the
    # dangerous direction (executor OOM at scale), so the estimate leans
    # heavy.
    _VARLEN_WIDTH = 64

    def _field_width(self, dt, vector_dims: dict[str, int], name: str):
        """Estimated bytes per value, or None when the width is unbounded
        (arrays of unknown length, maps, binary blobs inside structs...) —
        a None anywhere makes the table ineligible for broadcast hinting."""
        tn = dt.typeName()
        if tn in self._TYPE_WIDTHS:
            return self._TYPE_WIDTHS[tn]
        if tn in ("string", "binary", "varchar", "char"):
            return self._VARLEN_WIDTH
        if tn == "array":
            # Declared FixedSizeList vector columns have a known length:
            # element width x dim (the reference sizes vectors the same way).
            dim = vector_dims.get(name)
            elem = self._field_width(dt.elementType, vector_dims, name)
            if dim is not None and elem is not None:
                return elem * dim + 8
            return None
        if tn == "struct":
            total = 8
            for f in dt.fields:
                w = self._field_width(f.dataType, vector_dims, f.name)
                if w is None:
                    return None
                total += w
            return total
        return None  # map / interval / anything else: unbounded or unknown

    def estimated_size_bytes(self) -> int:
        """Manifest-statistics size estimate: total_rows x schema row width,
        or -1 when the schema contains a column of unbounded width (an
        unbounded column can make any row arbitrarily large, so no broadcast
        decision should ever be made from the manifest alone — e.g. a
        128-float embedding column flat-counted at 20 bytes would be ~25x
        under-estimated and could hint a multi-GB broadcast).

        The Spark-side analogue of the reference's table statistics feed
        (`LanceMetadata.java:561-588` getTableStatistics → CBO): the Python
        DataSource API has no SupportsReportStatistics hook, so the catalog
        layer consumes this directly to make stats-driven broadcast
        decisions (see LanceCatalog._select; negative estimates are treated
        as unknown and never hinted)."""
        from .vector import VECTOR_PROP, parse_vector_columns

        spec = self.manifest.properties.get(VECTOR_PROP)
        vector_dims = (
            parse_vector_columns(spec) if isinstance(spec, str) and spec else
            (spec if isinstance(spec, dict) else {})
        )
        width = 0
        for f in self.schema.fields:
            w = self._field_width(f.dataType, vector_dims, f.name)
            if w is None:
                return -1
            width += w
        return self.manifest.total_rows * max(width, 1)

    def versions(self) -> list[int]:
        return list_versions(self.path)

    @staticmethod
    def autobroadcast_threshold_bytes(spark: SparkSession) -> int:
        """The session's autoBroadcastJoinThreshold as bytes (accepts the
        10m/1g suffix forms) — the budget both stats-feed consumers
        (catalog SELECT rewrites and read_lance) compare estimates against."""
        raw = str(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        ).strip().lower()
        units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
        for suffix, mult in units.items():
            if raw.endswith(suffix + "b"):
                return int(raw[:-2]) * mult
            if raw.endswith(suffix):
                return int(raw[:-1]) * mult
        if raw.endswith("b"):
            raw = raw[:-1]
        return int(raw)

    # ------------------------------------------------------------------ scan
    def _fragments_for_limit(self, limit: int | None, has_filter: bool) -> list[Fragment]:
        frags = self.manifest.fragments
        if limit is None or has_filter:
            # limit+filter → cannot bound fragments (selectivity unknown):
            # scan all, engine re-applies the limit (A7).
            return frags
        taken, acc = [], 0
        for f in frags:
            if acc >= limit:
                break
            taken.append(f)
            acc += f.num_rows
        return taken

    def to_df(
        self,
        spark: SparkSession,
        columns: list[str] | None = None,
        filter: str | Column | None = None,
        limit: int | None = None,
        with_row_address: bool = False,
        with_blobs: bool = False,
    ) -> DataFrame:
        frags = self._fragments_for_limit(limit, filter is not None)
        frags = [f for f in frags if f.num_rows > 0]
        schema = self.schema
        if not frags:
            df = spark.createDataFrame([], schema)
            if with_row_address:
                df = df.withColumn(ROW_ADDR_COL, F.lit(None).cast("bigint"))
            if self.blob_columns and not with_blobs:
                df = apply_blob_read_semantics(df, self.blob_columns)
            return self._finish(df, columns, filter, limit, with_row_address)

        paths = [os.path.join(self.path, f.path) for f in frags]
        df = spark.read.schema(schema).parquet(*paths)

        needs_addr = with_row_address or any(f.deletion for f in frags)
        if needs_addr:
            # file basename → fragment id, resolved via a broadcast map over
            # `_metadata` (Spark 3.5+ exposes per-row file_path/row_index).
            mapping = F.create_map(
                *[
                    x
                    for f in frags
                    for x in (F.lit(os.path.basename(f.path)), F.lit(f.id))
                ]
            )
            df = df.withColumn(
                ROW_ADDR_COL,
                (
                    mapping[
                        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
                    ].cast("bigint")
                    * F.lit(1 << FRAGMENT_SHIFT)
                    + F.col("_metadata.row_index")
                ).cast("bigint"),
            )
            deleted = self._deletion_df(spark, frags)
            if deleted is not None:
                df = df.join(
                    F.broadcast(
                        deleted.select(
                            (
                                F.col("fragment_id") * F.lit(1 << FRAGMENT_SHIFT)
                                + F.col("row_index")
                            ).alias("_del_addr")
                        )
                    ),
                    df[ROW_ADDR_COL] == F.col("_del_addr"),
                    "left_anti",
                )
        if self.blob_columns and not with_blobs:
            # Reference read semantics: blob col → empty bytes + hidden
            # selectable <col>__blob_pos/__blob_size virtual columns (A15).
            df = apply_blob_read_semantics(df, self.blob_columns)
        return self._finish(df, columns, filter, limit, with_row_address)

    def _finish(self, df, columns, filter, limit, with_row_address):
        if filter is not None:
            df = df.filter(filter)
        if columns is not None:
            keep = list(columns) + ([ROW_ADDR_COL] if with_row_address else [])
            df = df.select(*keep)
        else:
            # Virtual blob columns are hidden unless explicitly selected.
            df = df.drop(*virtual_columns(self.blob_columns))
            if not with_row_address and ROW_ADDR_COL in df.columns:
                df = df.drop(ROW_ADDR_COL)
        if limit is not None:
            df = df.limit(limit)
        return df

    def blobs_df(
        self,
        spark: SparkSession,
        col: str,
        filter: str | Column | None = None,
    ) -> DataFrame:
        """Fetch path for a blob column: the scan plus `col` resolved back to
        its actual bytes via executor-side ranged reads of the sidecar files."""
        if col not in self.blob_columns:
            raise ValueError(f"{col!r} is not a blob column of this dataset")
        df = self.to_df(spark, filter=filter, with_blobs=True)
        return fetch_blobs(df, self.path, col)

    def _deletion_df(self, spark: SparkSession, frags: list[Fragment]) -> DataFrame | None:
        del_paths = [
            os.path.join(self.path, f.deletion.path) for f in frags if f.deletion
        ]
        if not del_paths:
            return None
        return spark.read.schema("fragment_id long, row_index long").parquet(*del_paths)

    # ----------------------------------------------------------------- write
    @staticmethod
    def _stage_dataframe(
        df: DataFrame, root: str, max_rows_per_file: int = MAX_ROWS_PER_FILE
    ) -> list[tuple[str, int]]:
        """Two-phase write, phase 1: executors write fragment files directly
        into data/ and report (relative_path, num_rows) — the driver never
        touches data files (`LancePageSink.java:144-198` worker-side fragment
        metadata, `LanceMetadata.java:1078-1112` single coordinator commit)."""
        os.makedirs(root, exist_ok=True)
        return stage_via_tasks(df, root, max_rows_per_file)

    @staticmethod
    def create(
        path: str,
        df: DataFrame,
        mode: str = "error",
        max_rows_per_file: int = MAX_ROWS_PER_FILE,
        properties: dict | None = None,
        blob_columns: list[str] | None = None,
    ) -> "LanceDataset":
        """CREATE TABLE AS SELECT / replace (A12): write fragments, publish
        one Overwrite manifest. `blob_columns` declares BINARY columns to
        store out-of-line (A15)."""
        if LanceDataset.exists(path):
            if mode == "error":
                raise FileExistsError(f"dataset already exists at {path}")
            if mode == "ignore":
                return LanceDataset.open(path)
            if mode not in ("overwrite",):
                raise ValueError(f"unsupported mode {mode!r}")
        os.makedirs(path, exist_ok=True)
        if properties and properties.get(VECTOR_PROP):
            # FixedSizeList semantics: dimension enforced inside the write
            # projection (`LanceTableProperties.java:96-137`).
            df = enforce_vector_columns(
                df, parse_vector_columns(properties[VECTOR_PROP])
            )
        if blob_columns:
            df = stage_blob_columns(df, blob_columns, path)
            properties = dict(properties or {})
            properties[BLOB_PROP] = list(blob_columns)
        staged = LanceDataset._stage_dataframe(df, path, max_rows_per_file)
        while True:
            base = list_versions(path)
            next_v = (base[-1] + 1) if base else 1
            fragments = as_fragments(staged)
            m = Manifest(
                version=next_v,
                schema_json=df.schema.jsonValue(),
                fragments=fragments,
                operation="overwrite" if base else "create",
                read_version=base[-1] if base else None,
                max_fragment_id=len(fragments) - 1,
                properties=properties or {},
            )
            try:
                commit_manifest(path, m)
                return LanceDataset(path, m)
            except CommitConflictError:
                continue  # replace semantics: retry on top of the new latest

    @staticmethod
    def create_empty(
        path: str, schema: StructType, properties: dict | None = None
    ) -> "LanceDataset":
        """Empty CREATE TABLE (reference: declareTable + Overwrite([]),
        `LanceMetadata.java:1368-1380`)."""
        if LanceDataset.exists(path):
            raise FileExistsError(f"dataset already exists at {path}")
        nio.makedirs(path)
        m = Manifest(version=1, schema_json=schema.jsonValue(), operation="create",
                     properties=properties or {})
        commit_manifest(path, m)
        return LanceDataset(path, m)

    def append(
        self,
        df: DataFrame,
        max_rows_per_file: int = MAX_ROWS_PER_FILE,
        commit_metadata: dict | None = None,
        maintain_indexes: bool = False,
        spark: SparkSession | None = None,
    ) -> "LanceDataset":
        """INSERT/append (A11): distributed fragment write + single Append
        commit; safe to retry on conflict (append commutes).
        ``commit_metadata`` records user provenance (run ids, job names)
        on the commit — surfaced by DESCRIBE HISTORY.
        ``maintain_indexes=True`` builds the new fragments' scalar/vector
        index sidecars right after the commit (incremental: only the
        appended fragments lack them) — the streaming-ingest pattern as one
        flag; by default new fragments scan via consult-if-present until
        the next OPTIMIZE/ensure call."""
        if self.manifest.properties.get(VECTOR_PROP):
            df = enforce_vector_columns(
                df, parse_vector_columns(self.manifest.properties[VECTOR_PROP])
            )
        if self.blob_columns:
            # transforms blob BINARY columns into stored descriptor structs
            # (lazy — no work until staging executes)
            df = stage_blob_columns(df, self.blob_columns, self.path)
        # checked AFTER the blob transform so the comparison sees the stored
        # schema; an append never evolves the schema implicitly — the
        # reference rejects evolution outright
        # (`TestLanceConnectorTest.java:139-146`), here it is an explicit
        # metadata-only ALTER (add_column/drop_column) followed by appends
        # matching the NEW schema
        if not schemas_compatible(self.manifest.schema_json, df.schema.jsonValue()):
            raise ValueError(
                "append schema does not match the table schema (schema "
                "evolution is not supported); cast/select the exact columns "
                f"first. table={self.schema.simpleString()} "
                f"append={df.schema.simpleString()}"
            )
        staged = self._stage_dataframe(df, self.path, max_rows_per_file)
        while True:
            base = read_manifest(self.path, latest_version(self.path))
            next_id = base.max_fragment_id + 1
            new_frags = as_fragments(staged, next_id)
            m = Manifest(
                version=base.version + 1,
                schema_json=base.schema_json,
                fragments=base.fragments + new_frags,
                operation="append",
                read_version=self.version,
                max_fragment_id=base.max_fragment_id + len(new_frags),
                properties=base.properties,
                commit_metadata=commit_metadata,
            )
            try:
                commit_manifest(self.path, m)
            except CommitConflictError:
                continue
            out = LanceDataset(self.path, m)
            if maintain_indexes:
                # The commit above is DURABLE; a failure building index
                # sidecars must not make append() look failed — callers
                # (notably streaming foreachBatch retries) would re-run the
                # append and duplicate the batch's rows. Sidecars are
                # rebuildable at any time via ensure_*_index_files /
                # OPTIMIZE, and scans consult-if-present, so degrade to a
                # warning instead.
                try:
                    sp = spark or df.sparkSession
                    out.ensure_scalar_index_files(sp)
                    out.ensure_vector_index_files(sp)
                except Exception as exc:  # noqa: BLE001 — commit is durable
                    import warnings

                    warnings.warn(
                        "append committed version "
                        f"{m.version} but incremental index maintenance "
                        f"failed ({exc!r}); sidecars remain rebuildable via "
                        "ensure_scalar_index_files/ensure_vector_index_files"
                        " or OPTIMIZE",
                        RuntimeWarning,
                        stacklevel=2,
                    )
            return out

    @staticmethod
    def vacuum(path: str, keep_versions: int = 1) -> dict:
        """Garbage-collect history: drop all but the newest `keep_versions`
        manifests, then delete any data/deletion files no retained manifest
        references (compaction and copy-on-write leave the old files behind
        for time travel — vacuum is the explicit point of no return, like
        every log-structured format's VACUUM/expire_snapshots).

        `_blobs/` sidecars are never touched: blob descriptors inside
        retained data files may reference them and they are write-once.

        Driver work is metadata-only (listings + unlinks); at object-store
        scale the unlink loop would be dispatched as tasks, but the
        reference's coordinator does maintenance single-node too.
        """
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        from .refs import tagged_versions

        versions = list_versions(path)
        retained, dropped = versions[-keep_versions:], versions[:-keep_versions]
        # tagged versions are pinned: a tag is a promise that the snapshot
        # stays readable, so vacuum keeps its manifest AND files
        pinned = tagged_versions(path)
        if pinned:
            keep_extra = [v for v in dropped if v in pinned]
            dropped = [v for v in dropped if v not in pinned]
            retained = sorted(set(retained) | set(keep_extra))
        referenced: set[str] = set()
        for v in retained:
            m = read_manifest(path, v)
            for f in m.fragments:
                referenced.add(f.path)
                if f.deletion:
                    referenced.add(f.deletion.path)
        removed_files = 0
        import shutil as _shutil

        for d in (DATA_DIR, DELETIONS_DIR):
            dd = os.path.join(path, d)
            if not os.path.isdir(dd):
                continue
            for name in os.listdir(dd):
                rel = os.path.join(d, name)
                full = os.path.join(path, rel)
                if os.path.isdir(full):
                    # staging DIRECTORIES (JVM INSERT .stage-*, deletion
                    # .tmp-*) left by a crashed writer: reap our own temp
                    # names, never touch unknown directories — and only
                    # dirs idle longer than the retention window, so a
                    # vacuum racing an in-flight writer can't delete its
                    # live staging area mid-commit
                    if name.startswith((".stage-", ".tmp-")):
                        import time as _time

                        try:
                            idle = _time.time() - os.path.getmtime(full)
                        except OSError:
                            continue
                        if idle > STAGING_RETENTION_SECS:
                            _shutil.rmtree(full, ignore_errors=True)
                            removed_files += 1
                    continue
                if rel not in referenced:
                    os.unlink(full)
                    removed_files += 1
        # orphaned index sidecars: scalar sidecars and vector postings are
        # keyed by data-file basename, so once a fragment file is vacuumed
        # its sidecars can never be consulted again — reclaim them too
        from .index import INDICES_DIR

        import re as _re

        ref_basenames = {os.path.basename(r) for r in referenced}
        idx_root = os.path.join(path, INDICES_DIR)
        if os.path.isdir(idx_root):
            for dirpath, _dirnames, filenames in os.walk(idx_root):
                for name in filenames:
                    # HNSW shard sidecars carry a .sK-of-N suffix after the
                    # data-file basename — strip it before the orphan check
                    # {:04d} grows past 4 digits for huge shard counts
                    stem = _re.sub(r"\.s\d{4,}-of-\d{4,}$", "", name)
                    if (
                        stem.endswith(".parquet")
                        and stem not in ref_basenames
                        and stem not in ("centroids.parquet", "pq_codebooks.parquet")
                    ):
                        os.unlink(os.path.join(dirpath, name))
                        removed_files += 1
        for v in dropped:
            delete_manifest(path, v)
        return {
            "removed_versions": len(dropped),
            "removed_files": removed_files,
            "retained_versions": retained,
        }

    def _zorder_column(self, df: DataFrame, cols: list[str]) -> Column:
        """Morton (Z-order) value over min/max-scaled 16-bit buckets of the
        given numeric columns. Column bounds come from the manifest zone
        maps when every fragment carries them — zero extra scan; otherwise
        one tiny min/max aggregate runs. Interleaving bit b of each column
        into position b*m+i gives the classic multi-dimensional locality:
        fragments cut from a Z-sorted order hold small ranges of EVERY
        z-column, so zone maps prune filters on any of them (the reference
        delegates the same job to Lance's scalar indexes below the scan,
        `docs/src/performance.md` "Index Usage")."""
        bounds: dict[str, tuple[float, float]] = {}
        frags = self.manifest.fragments
        for c in cols:
            if frags and all(
                f.stats and c in f.stats and "min" in f.stats[c] for f in frags
            ):
                bounds[c] = (
                    min(f.stats[c]["min"] for f in frags),
                    max(f.stats[c]["max"] for f in frags),
                )
        return zorder_value(df, cols, bounds)

    def compact(
        self,
        spark: SparkSession,
        target_rows_per_file: int = MAX_ROWS_PER_FILE,
        small_file_threshold: float = 0.5,
        sort_by: str | list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> "LanceDataset":
        """Compaction: rewrite small and deletion-heavy fragments into
        full-size ones (the small-file problem is THE operational issue of
        log-structured tables at 100 TB — every append/streaming microbatch
        leaves small fragments).

        Fragments whose live row count is below
        ``small_file_threshold * target_rows_per_file`` — or that carry a
        deletion vector — are rewritten (deletions applied, so DVs are
        retired); full-size clean fragments are carried over untouched, no
        data movement. One Overwrite commit with the usual conflict check.

        With ``sort_by``, ALL fragments are rewritten clustered on the given
        column(s) (range-sorted write) so fragment zone maps carry disjoint
        key ranges and range filters prune at planning time. With
        ``zorder_by``, the rewrite clusters on a Morton value interleaving
        the given numeric columns — fragments then hold small ranges of
        EVERY listed column, so zone maps prune filters on any of them
        (single-column sort optimizes only its own column).
        """
        if sort_by is not None and zorder_by is not None:
            raise ValueError("sort_by and zorder_by are mutually exclusive")
        small_cut = int(small_file_threshold * target_rows_per_file)
        rewrite = [
            f
            for f in self.manifest.fragments
            if sort_by is not None
            or zorder_by is not None
            or f.deletion is not None
            or f.num_rows < small_cut
        ]
        rewrite_ids = {f.id for f in rewrite}
        keep = [f for f in self.manifest.fragments if f.id not in rewrite_ids]
        if not rewrite or (
            sort_by is None and len(rewrite) == 1 and rewrite[0].deletion is None
        ):
            # a single clean small fragment has nothing to merge with —
            # rewriting it would churn data for no layout gain
            return self
        sub = LanceDataset(
            self.path,
            Manifest(
                version=self.version,
                schema_json=self.manifest.schema_json,
                fragments=rewrite,
                properties=self.manifest.properties,
            ),
        )
        # scan ONLY the fragments being rewritten (deletion-aware), restage
        # them at the target size — executors do all data movement. Coalesce
        # (narrow, no shuffle) down to the target file count so many small
        # inputs actually merge instead of re-emerging one-per-task.
        import math

        n_live = sum(f.num_rows for f in rewrite)
        n_files = max(1, math.ceil(n_live / target_rows_per_file))
        df = sub.to_df(spark, with_blobs=bool(self.blob_columns))
        if sort_by is not None:
            # range-partitioned global sort: clustered fragments with
            # disjoint key ranges (zone-map-friendly layout)
            cols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
            df = df.repartitionByRange(n_files, *cols).sortWithinPartitions(*cols)
        elif zorder_by is not None:
            df = (
                df.withColumn("_zval", self._zorder_column(df, list(zorder_by)))
                .repartitionByRange(n_files, "_zval")
                .sortWithinPartitions("_zval")
                .drop("_zval")
            )
        else:
            df = df.coalesce(n_files)
        staged = self._stage_dataframe(df, self.path, target_rows_per_file)
        kept_files = [(f.path, f.physical_rows, f.stats) for f in keep]
        out = self.commit_overwrite(kept_files + staged)
        # index maintenance: the rewrite produced fresh fragment files with
        # no sidecars — rebuild them here so OPTIMIZE is the index-build
        # moment and point lookups stay bounded after compaction
        out.ensure_scalar_index_files(spark)
        out.ensure_vector_index_files(spark)
        return out

    def ensure_scalar_index_files(self, spark: SparkSession) -> int:
        """Build missing index sidecars for every column recorded in the
        manifest's scalar_indexes property — the maintenance half of the
        index story: compaction/DML write NEW fragment files, which have no
        sidecar yet (scans fall back to full fragment reads for them until
        this runs). Called automatically at the end of compact(); returns
        the number of sidecars built. No manifest commit — the property
        already lists the columns; only files are materialized."""
        from .index import INDEX_PROP, build_fragment_index, index_rel_path

        cols = self.manifest.properties.get(INDEX_PROP, [])
        todo = [
            (f.path, col)
            for col in cols
            for f in self.manifest.fragments
            if not os.path.exists(os.path.join(self.path, index_rel_path(col, f.path)))
        ]
        root = self.path
        todo_paths = {p for p, _ in todo}
        rows = sum(f.physical_rows for f in self.manifest.fragments
                   if f.path in todo_paths)
        return fan_out(
            spark, "sindex", rows, todo, "path string, col string",
            lambda p, col: build_fragment_index(root, p, col))

    def create_scalar_index(
        self, spark: SparkSession, column: str
    ) -> "LanceDataset":
        """Build per-fragment scalar index sidecars for `column` and record
        the indexed column in the manifest (SURVEY §1.1 "Scalar index";
        `LanceFragmentPageSource.java:126` useScalarIndex — the reference
        consults Lance's btree/bitmap indexes below the scan, this is the
        Spark-side equivalent: sorted (value, row_index) sidecars giving
        point lookups on unclustered columns row-group-bounded IO).

        One Spark task per fragment; each sorts only its own fragment
        (bounded memory, no shuffle). Fragments appended after index
        creation simply lack a sidecar and scan normally (consult-if-
        present)."""
        from .index import INDEX_PROP, build_fragment_index

        if column not in {f.name for f in self.schema.fields}:
            raise ValueError(f"no such column to index: {column!r}")
        root = self.path
        fan_out(
            spark, "sindex",
            sum(f.physical_rows for f in self.manifest.fragments),
            [(f.path,) for f in self.manifest.fragments], "path string",
            lambda p: build_fragment_index(root, p, column))
        return self._commit_next("create_index", lambda base: {
            "properties": {**base.properties, INDEX_PROP: sorted(
                set(base.properties.get(INDEX_PROP, [])) | {column})}})

    # -------------------------------------------------------------- tags
    def create_tag(self, name: str, version: int | None = None) -> None:
        """Tag a version with an immutable name (Lance tags): `VERSION AS
        OF '<name>'` then resolves to that snapshot forever, and VACUUM
        keeps tagged versions readable."""
        from .refs import create_tag

        create_tag(self.path, name, self.version if version is None else version)

    def delete_tag(self, name: str) -> None:
        from .refs import delete_tag

        delete_tag(self.path, name)

    def tags(self) -> dict[str, int]:
        from .refs import list_tags

        return list_tags(self.path)

    def restore(self, version: int) -> "LanceDataset":
        """RESTORE to an earlier version as a NEW commit (Lance
        `dataset.restore` / Delta RESTORE semantics): the restored
        snapshot's schema, fragments, and properties are republished at
        version latest+1, so history is preserved (time travel still sees
        everything) and the restore itself is just one manifest write —
        no data movement at any scale. Conflict-checked like every commit."""
        target = read_manifest(self.path, version)  # raises if unknown
        return self._commit_next("restore", lambda base: {
            "schema_json": target.schema_json,
            "fragments": target.fragments, "read_version": version,
            "properties": target.properties})

    # ----------------------------------------------------- schema evolution
    def add_column(self, name: str, dtype) -> "LanceDataset":
        """ALTER TABLE ADD COLUMN — metadata-only commit: the new (nullable)
        column joins the schema; existing fragment files are untouched and
        read as NULL for it (schema-on-read: Spark's parquet reader and the
        DataSource null-fill both resolve absent columns to null).

        Beyond-reference: the reference connector rejects schema evolution
        outright (`TestLanceConnectorTest.java:139-146`), but a training-data
        pipeline accretes label/feature/score columns over a table's life —
        rewriting 100 TB to add one is not an option, so this is the same
        metadata-only ADD that Lance core itself supports.

        A name that was ever DROPPED is refused: parquet-by-name resolution
        would silently resurrect the dropped column's bytes from old files."""
        from pyspark.sql.types import DataType

        if isinstance(dtype, DataType):
            field_json = {"name": name, "type": dtype.jsonValue(),
                          "nullable": True, "metadata": {}}
        else:
            parsed = StructType.fromDDL(f"`{name}` {dtype}")
            field_json = parsed.fields[0].jsonValue()
            field_json["nullable"] = True

        def change(base):
            existing = {f["name"] for f in base.schema_json["fields"]}
            if name in existing:
                raise ValueError(f"column {name!r} already exists")
            retired = base.properties.get(RETIRED_PROP, [])
            if name in retired:
                raise ValueError(
                    f"column name {name!r} was previously dropped; re-adding "
                    "it would resurrect the old column's values from "
                    "pre-drop fragment files (parquet resolves columns by "
                    "name) — pick a fresh name"
                )
            return {"schema_json": {
                **base.schema_json,
                "fields": base.schema_json["fields"] + [field_json]}}

        return self._commit_next("alter", change)

    def drop_column(self, name: str) -> "LanceDataset":
        """ALTER TABLE DROP COLUMN — metadata-only: the column leaves the
        schema (old files keep the bytes; VACUUM of rewritten fragments is
        the space-reclaim path, as in Lance). The name is recorded as
        retired so it can never be re-added (see add_column). Scalar/vector
        index registrations on the column are unregistered in the same
        commit; blob columns cannot be dropped (their sidecar layout is
        write-once, A15)."""
        from .index import INDEX_PROP
        from .vector_index import VINDEX_PROP

        def change(base):
            fields = base.schema_json["fields"]
            if name not in {f["name"] for f in fields}:
                raise ValueError(f"no such column: {name!r}")
            if len(fields) == 1:
                raise ValueError("cannot drop the only column")
            if name in (base.properties.get(BLOB_PROP) or []):
                raise ValueError(f"cannot drop blob column {name!r}")
            props = dict(base.properties)
            props[RETIRED_PROP] = sorted(
                set(props.get(RETIRED_PROP, [])) | {name}
            )
            if name in (props.get(INDEX_PROP) or []):
                props[INDEX_PROP] = [c for c in props[INDEX_PROP] if c != name]
            if name in (props.get(VINDEX_PROP) or {}):
                props[VINDEX_PROP] = {
                    k: v for k, v in props[VINDEX_PROP].items() if k != name
                }
            return {"properties": props, "schema_json": {
                **base.schema_json,
                "fields": [f for f in fields if f["name"] != name]}}

        return self._commit_next("alter", change)

    def drop_scalar_index(self, spark: SparkSession, column: str) -> "LanceDataset":
        """Unregister `column`'s scalar index and delete its sidecars (the
        deregistration is the commit; file removal is best-effort cleanup —
        orphans are also reclaimed by VACUUM)."""
        import shutil as _sh

        from .index import INDEX_PROP, INDICES_DIR

        def change(base):
            cols = base.properties.get(INDEX_PROP, [])
            if column not in cols:
                raise ValueError(f"no scalar index on column {column!r}")
            return {"properties": {
                **base.properties,
                INDEX_PROP: [c for c in cols if c != column]}}

        ds = self._commit_next("drop_index", change)
        _sh.rmtree(os.path.join(self.path, INDICES_DIR, column),
                   ignore_errors=True)
        return ds

    def drop_vector_index(self, spark: SparkSession, column: str) -> "LanceDataset":
        """Unregister `column`'s vector index and delete codebooks +
        postings."""
        import shutil as _sh

        from .vector_index import VINDEX_PROP, vindex_dir

        def change(base):
            registered = dict(base.properties.get(VINDEX_PROP, {}))
            if column not in registered:
                raise ValueError(f"no vector index on column {column!r}")
            registered.pop(column)
            return {"properties": {**base.properties,
                                   VINDEX_PROP: registered}}

        ds = self._commit_next("drop_index", change)
        _sh.rmtree(os.path.join(self.path, vindex_dir(column)),
                   ignore_errors=True)
        from .index import INDICES_DIR as _IDX

        _sh.rmtree(os.path.join(self.path, _IDX, f"{column}.hnsw"),
                   ignore_errors=True)
        return ds

    # -------------------------------------------------------- vector index
    def create_vector_index(
        self,
        spark: SparkSession,
        column: str,
        n_cells: int = 16,
        iters: int = 5,
        sample: int = 4096,
        index_type: str = "IVF_FLAT",
        pq_m: int = 8,
        hnsw_m: int = 8,
        hnsw_ef_construction: int = 64,
    ) -> "LanceDataset":
        """Build a persisted vector index for `column` (Lance's flagship
        capability — `docs/src/performance.md:21-58` index cache of "opened
        vector indices", fixture `_indices/`).

        IVF_FLAT / IVF_PQ: trains a deterministic coarse codebook (and PQ
        sub-codebooks) on a bounded fragment-ordered sample on the driver,
        then builds one postings sidecar per fragment in parallel.

        HNSW: no training — one deterministic layered graph per fragment
        (insertion in row order, hash-derived levels, no RNG), the
        latency-optimal family: a search loads the probed fragment's whole
        graph but computes far fewer distances than IVF probing. All types
        build fragment-parallel (mapInPandas, no shuffle) and commit the
        registration as a new manifest version."""
        import numpy as np
        import pyarrow.parquet as _pq

        from .vector_index import (
            VINDEX_PROP,
            build_fragment_hnsw,
            build_fragment_postings,
            train_index,
            write_index_meta,
        )

        if column not in {f.name for f in self.schema.fields}:
            raise ValueError(f"no such column to index: {column!r}")
        if index_type == "HNSW":
            from .vector_index import hnsw_n_shards

            root = self.path
            # one task per (fragment, shard): graph insertion is
            # sequential per graph, so shards are the parallelism unit —
            # a 1M-row fragment builds as ~64 concurrent tasks instead of
            # one long insert loop (shard count from manifest row counts,
            # no file IO on the driver)
            items = [
                (f.path, s, hnsw_n_shards(f.physical_rows))
                for f in self.manifest.fragments
                for s in range(hnsw_n_shards(f.physical_rows))
            ]
            fan_out(
                spark, "vindex_hnsw",
                sum(f.physical_rows for f in self.manifest.fragments),
                items, "path string, shard int, n_shards int",
                lambda p, s, ns: build_fragment_hnsw(
                    root, p, column, hnsw_m, hnsw_ef_construction,
                    shard=int(s), n_shards=int(ns)))
            return self._register_vector_index(column, {
                "index_type": "HNSW", "m": int(hnsw_m),
                "ef_construction": int(hnsw_ef_construction),
                "metric": "cosine",
            })
        # bounded, deterministic, deletion-aware training sample: fragments
        # in manifest order, first `sample` live rows — cost independent of
        # dataset size (the standard IVF recipe: FAISS/Lance sample too)
        vecs: list = []
        for f in self.manifest.fragments:
            if len(vecs) >= sample:
                break
            t = _pq.read_table(
                os.path.join(self.path, f.path), columns=[column]
            )
            vals = t.column(column).to_pylist()
            if f.deletion is not None:
                dead = set(
                    _pq.read_table(
                        os.path.join(self.path, f.deletion.path),
                        columns=["row_index"],
                    ).column("row_index").to_pylist()
                )
                vals = [v for i, v in enumerate(vals) if i not in dead]
            vecs.extend(v for v in vals if v is not None)
        centroids, pq_books = train_index(
            np.array(vecs[:sample], dtype=np.float64),
            n_cells=n_cells, iters=iters, index_type=index_type, pq_m=pq_m,
        )
        meta = write_index_meta(self.path, column, centroids, pq_books,
                                index_type)
        root = self.path
        fan_out(
            spark, "vindex",
            sum(f.physical_rows for f in self.manifest.fragments),
            [(f.path,) for f in self.manifest.fragments], "path string",
            lambda p: build_fragment_postings(
                root, p, column, centroids, pq_books))
        return self._register_vector_index(column, meta)

    def _register_vector_index(self, column: str, meta) -> "LanceDataset":
        from .vector_index import VINDEX_PROP

        return self._commit_next("create_index", lambda base: {
            "properties": {**base.properties, VINDEX_PROP: {
                **base.properties.get(VINDEX_PROP, {}), column: meta}}})

    def ensure_vector_index_files(self, spark: SparkSession) -> int:
        """Rebuild missing postings sidecars for every registered vector
        index from the PERSISTED codebooks — the maintenance half (new
        fragments from DML/compaction have no postings until this runs;
        centroids are never retrained behind the user's back)."""
        from .vector_index import (
            VINDEX_PROP,
            build_fragment_postings,
            load_centroids,
            load_pq_codebooks,
            postings_rel,
        )

        registered = self.manifest.properties.get(VINDEX_PROP, {})
        if not registered:
            return 0
        from .vector_index import (
            build_fragment_hnsw,
            hnsw_n_shards,
            hnsw_shard_files,
            hnsw_shard_rel,
        )

        root = self.path

        # Work items are (path, col, shard, n_shards); shard == -1 means
        # an IVF postings file. HNSW fragments fan out one task per
        # missing SHARD (a legacy complete single-file sidecar counts as
        # built; a torn shard set rebuilds only the absent shards).
        todo: list[tuple[str, str, int, int]] = []
        for col in registered:
            is_h = registered[col].get("index_type") == "HNSW"
            for f in self.manifest.fragments:
                if is_h:
                    if hnsw_shard_files(root, col, f.path):
                        continue
                    ns = hnsw_n_shards(f.physical_rows)
                    todo.extend(
                        (f.path, col, s, ns)
                        for s in range(ns)
                        if not os.path.exists(os.path.join(
                            root, hnsw_shard_rel(col, f.path, s, ns)))
                    )
                elif not os.path.exists(
                    os.path.join(root, postings_rel(col, f.path))
                ):
                    todo.append((f.path, col, -1, 0))
        if not todo:
            return 0
        codebooks = {
            col: (
                (None, None) if meta.get("index_type") == "HNSW" else (
                    load_centroids(root, col),
                    load_pq_codebooks(root, col, meta)
                    if meta.get("index_type") == "IVF_PQ" else None,
                )
            )
            for col, meta in registered.items()
        }
        metas = dict(registered)
        todo_paths = {p for p, _, _, _ in todo}
        kind = (
            "vindex_hnsw"
            if any(metas[c].get("index_type") == "HNSW"
                   for _, c, _, _ in todo)
            else "vindex"
        )

        def _build(p, col, s, ns):
            meta = metas[col]
            if meta.get("index_type") == "HNSW":
                build_fragment_hnsw(
                    root, p, col,
                    meta.get("m", 8), meta.get("ef_construction", 64),
                    shard=int(s), n_shards=int(ns),
                )
            else:
                cents, books = codebooks[col]
                build_fragment_postings(root, p, col, cents, books)

        # the per-batch streaming-ingest maintenance typically covers ONE
        # small fresh fragment, which the routing keeps on the driver
        return fan_out(
            spark, kind,
            sum(f.physical_rows for f in self.manifest.fragments
                if f.path in todo_paths),
            todo, "path string, col string, shard int, n_shards int",
            _build)

    def vector_search(
        self,
        spark: SparkSession,
        column: str,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 2,
        id_columns: list[str] | None = None,
        refine: int = 50,
        with_io_stats: bool = False,
        max_queries: int = 4096,
        prefilter: tuple[str, list] | None = None,
        ef_search: int = 48,
    ) -> DataFrame:
        """Index-backed ANN search: top-k cosine neighbors per query row.

        `prefilter=(column, values)` is FILTERED ANN — the flagship
        LanceDB query shape: only rows whose metadata column is in
        `values` compete for top-k (true prefilter semantics: recall over
        the filtered population equals unfiltered recall, which
        post-filtering a shortlist cannot guarantee). Per fragment the
        allowed row set comes from the column's scalar-index sidecar when
        one exists (row-group-bounded IO — the scalar and vector indexes
        COMPOSE) and from a single-column fragment read otherwise.

        `queries` must have columns (query_id, <column>) and be bounded
        (<= max_queries — query sets are broadcast-sized by contract; fails
        loudly past the cap, same convention as `operators/similarity`).
        Fragment-parallel: each task reads ONLY the probed-cell row groups
        of its postings sidecar (~nprobe/n_cells of the index bytes), masks
        deletion vectors, scores locally (ADC + bounded exact refine for
        IVF_PQ), and emits its local top-k; the global merge is a tiny
        (fragments x queries x k) window. Never rescans the data files.

        Returns (query_id, *id_columns, cosine [, postings_read]) with one
        row per (query, neighbor)."""
        from pyspark.sql import Window as W
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        from .vector_index import (
            VINDEX_PROP,
            load_centroids,
            load_index_meta,
            load_pq_codebooks,
            search_fragment,
        )

        registered = self.manifest.properties.get(VINDEX_PROP, {})
        if column not in registered:
            raise ValueError(f"no vector index on column {column!r}")
        id_columns = list(id_columns or [])
        # limit BEFORE collect: the refusal below must not first pull an
        # unbounded query set onto the driver
        rows = queries.select("query_id", column).limit(max_queries + 1).collect()
        if len(rows) > max_queries:
            raise ValueError(
                f"query set ({len(rows)}) exceeds max_queries ({max_queries}) "
                "— vector_search ships queries to every fragment task; batch "
                "the query set or raise the cap explicitly"
            )
        import numpy as np

        from .vector_index import nearest_cells

        root = self.path
        meta = registered[column]
        is_hnsw = meta.get("index_type") == "HNSW"
        q_ids = [r[0] for r in rows]
        q_vecs = np.array([r[1] for r in rows], dtype=np.float64)
        if is_hnsw:
            centroids = pq_books = q_cells = None
        else:
            centroids = load_centroids(root, column)
            pq_books = (
                load_pq_codebooks(root, column, meta)
                if meta.get("index_type") == "IVF_PQ" else None
            )
            q_cells = nearest_cells(q_vecs, centroids, nprobe)

        qid_field = queries.schema["query_id"]
        name_of = {f.name: f for f in self.schema.fields}
        out_fields = [StructField("query_id", qid_field.dataType)]
        out_fields += [
            StructField(c, name_of[c].dataType) for c in id_columns
        ]
        out_fields += [
            StructField("cosine", DoubleType()),
            StructField("row_index", LongType()),
            StructField("postings_read", LongType()),
        ]
        out_schema = StructType(out_fields)
        if is_hnsw:
            # one task per SHARD graph (the HNSW parallelism unit — a
            # 1M-row fragment searches as ~64 concurrent beam tasks); the
            # global top-k window below merges shard-local hits exactly
            # like fragment-local ones. shard=None -> fragment has no
            # complete shard set; keep one row so consult-if-present
            # reports 0 candidates uniformly.
            from .vector_index import hnsw_shard_files

            frag_rows = []
            for f in self.manifest.fragments:
                dp = os.path.join(root, f.deletion.path) if f.deletion else None
                shards = hnsw_shard_files(root, column, f.path)
                if shards:
                    frag_rows += [(f.path, dp, s) for s in shards]
                else:
                    frag_rows.append((f.path, dp, None))
        else:
            frag_rows = [
                (f.path,
                 os.path.join(root, f.deletion.path) if f.deletion else None,
                 None)
                for f in self.manifest.fragments
            ]

        pf_col, pf_vals = prefilter if prefilter is not None else (None, None)
        if pf_col is not None and pf_col not in {
            f.name for f in self.schema.fields
        }:
            raise ValueError(f"no such prefilter column: {pf_col!r}")

        def _allowed(frag_path: str):
            """Matching physical row indices for the prefilter on one
            fragment: scalar-index sidecar when present (bounded IO),
            single-column read otherwise."""
            from .index import index_rel_path, lookup

            sidecar = os.path.join(root, index_rel_path(pf_col, frag_path))
            if os.path.exists(sidecar):
                return lookup(sidecar, list(pf_vals))
            import pyarrow.parquet as _pq2

            col = _pq2.read_table(
                os.path.join(root, frag_path), columns=[pf_col]
            ).column(pf_col).to_numpy(zero_copy_only=False)
            return np.flatnonzero(np.isin(col, list(pf_vals))).astype(np.int64)

        def _search(batches):
            import pandas as pd
            import pyarrow.parquet as _pq

            for pdf in batches:
                for p, dpath, shard in zip(
                    pdf["path"], pdf["deletion_path"], pdf["shard"]
                ):
                    del_idx = None
                    if dpath is not None and not (
                        isinstance(dpath, float) and pd.isna(dpath)
                    ):
                        del_idx = np.sort(
                            _pq.read_table(dpath, columns=["row_index"])
                            .column("row_index")
                            .to_numpy(zero_copy_only=False)
                            .astype(np.int64)
                        )
                    if is_hnsw:
                        from .vector_index import search_fragment_hnsw

                        shard_arg = (
                            None
                            if shard is None
                            or (isinstance(shard, float) and pd.isna(shard))
                            else [shard]
                        )
                        hits, n_read = search_fragment_hnsw(
                            root, p, column, q_ids, q_vecs, k, id_columns,
                            deletion_indices=del_idx,
                            ef_search=max(ef_search, k),
                            allowed_indices=(
                                _allowed(p) if pf_col is not None else None
                            ),
                            shard_paths=shard_arg,
                        )
                    else:
                        hits, n_read = search_fragment(
                            root, p, column, centroids, pq_books,
                            q_ids, q_vecs, q_cells, k, id_columns,
                            deletion_indices=del_idx, refine=refine,
                            allowed_indices=(
                                _allowed(p) if pf_col is not None else None
                            ),
                        )
                    yield pd.DataFrame(
                        [(*h, n_read) for h in hits],
                        columns=[f.name for f in out_fields],
                    )

        local = (
            spark.createDataFrame(
                frag_rows, "path string, deletion_path string, shard string"
            )
            .repartition(max(1, len(frag_rows)))
            .mapInPandas(_search, out_schema)
        )
        w = W.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("row_index").asc()
        )
        out = (
            local.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .drop("_rk")
        )
        if not with_io_stats:
            out = out.drop("postings_read")
        return out.drop("row_index") if not with_io_stats else out

    def _commit_next(self, operation: str, change) -> "LanceDataset":
        """Conflict-checked commit of the version after this snapshot:
        raise CommitConflictError when the dataset advanced since it was
        read, else publish ``operation`` as version latest+1 with the
        fields ``change(base)`` returns over the latest manifest's
        schema, fragments, max_fragment_id and properties (read_version
        = this snapshot). The retrying create/append paths commit on
        their own."""
        base = read_manifest(self.path, latest_version(self.path))
        if base.version != self.version:
            raise CommitConflictError(
                f"dataset advanced to v{base.version} since v{self.version} was read"
            )
        m = Manifest(**{
            "version": base.version + 1, "operation": operation,
            "schema_json": base.schema_json, "fragments": base.fragments,
            "read_version": self.version,
            "max_fragment_id": base.max_fragment_id,
            "properties": base.properties, **change(base)})
        commit_manifest(self.path, m)
        return LanceDataset(self.path, m)

    def commit_overwrite(
        self, fragment_files: list[tuple[str, int]]
    ) -> "LanceDataset":
        """Publish a copy-on-write Overwrite of this snapshot: the new
        version references only `fragment_files`; schema and properties
        carry over. Same conflict semantics as commit_update — any
        concurrent write invalidates the rewrite (A17)."""
        fragments = as_fragments(fragment_files)
        return self._commit_next("overwrite", lambda base: {
            "fragments": fragments, "max_fragment_id": len(fragments) - 1})

    # ------------------------------------------------------- row-level (MoR)
    def commit_update(
        self,
        deletions: dict[int, list[int]],
        new_fragment_files: list[tuple[str, int]] | None = None,
    ) -> "LanceDataset":
        """Publish a MoR Update transaction: per-fragment deletion vectors
        (unioned with existing ones — the reference warns exactly about this,
        `LanceMetadata.java:1199-1213`) plus optional new fragments.

        Unlike append, an Update conflicts with ANY concurrent write (the row
        addresses it deletes may no longer exist) → no retry, surface the
        conflict (A17).
        """
        import pyarrow as pa

        def change(base):
            frag_by_id = {f.id: f for f in base.fragments}
            del_dir = os.path.join(self.path, DELETIONS_DIR)
            os.makedirs(del_dir, exist_ok=True)
            removed: set[int] = set()
            for fid, rows in deletions.items():
                if fid not in frag_by_id:
                    raise ValueError(f"unknown fragment id {fid}")
                f = frag_by_id[fid]
                existing: set[int] = set()
                if f.deletion:
                    t = pq.read_table(os.path.join(self.path, f.deletion.path))
                    existing = set(t.column("row_index").to_pylist())
                merged = existing | set(rows)
                if len(merged) >= f.physical_rows:
                    removed.add(fid)  # fully deleted fragment drops out
                    continue
                rel = os.path.join(DELETIONS_DIR, f"{uuid.uuid4().hex}.parquet")
                pq.write_table(
                    pa.table(
                        {
                            "fragment_id": pa.array([fid] * len(merged), pa.int64()),
                            "row_index": pa.array(sorted(merged), pa.int64()),
                        }
                    ),
                    os.path.join(self.path, rel),
                )
                frag_by_id[fid] = Fragment(
                    f.id, f.path, f.physical_rows, DeletionFile(rel, len(merged))
                )

            kept = [frag_by_id[f.id] for f in base.fragments if f.id not in removed]
            next_id = base.max_fragment_id + 1
            appended = as_fragments(new_fragment_files or [], next_id)
            return {"fragments": kept + appended,
                    "max_fragment_id": base.max_fragment_id + len(appended)}

        return self._commit_next("update", change)


def table_changes(
    spark: SparkSession, path: str, from_version: int, to_version: int
) -> DataFrame:
    """Change-data-feed read between two versions (Delta CDF / Lance diff
    analogue): every row inserted or deleted in (from_version, to_version],
    tagged `_change_type` ('insert' | 'delete'). A MoR UPDATE surfaces as
    its delete + insert pair, the standard CDF rendering without pre/post
    image pairing.

    Physical diff over manifests — no log replay:
      * inserts  = fragments present in `to` but not `from`, scanned with
        `to`'s deletion vectors applied (a row both appended and deleted
        inside the range never existed to a reader and is not emitted);
      * deletes  = per-fragment deletion-vector DELTA on fragments common
        to both versions, joined back onto an undeleted scan of ONLY the
        affected fragments to recover the deleted rows' values.

    Rewrites (compaction / overwrite / CoW) inside the range are refused
    loudly: a physical diff cannot distinguish a rewrite from delete+insert
    churn, and emitting 100 TB of phantom changes is worse than an error —
    re-window the CDC read to start past the rewrite (same contract as the
    append-only streaming source).

    Scale shape: manifest-only planning; inserts scan only new fragments;
    deletes scan only fragments whose deletion file changed, with the
    (small) deletion delta broadcast onto the row-address join."""
    if from_version >= to_version:
        raise ValueError("from_version must be < to_version")
    mf_from = read_manifest(path, from_version)
    mf_to = read_manifest(path, to_version)
    # rewrites are detected from the operation log, not fragment diffing:
    # a fragment can legitimately DISAPPEAR from the manifest when every
    # one of its rows is deleted (full-fragment MoR delete drops the entry)
    for v in range(from_version + 1, to_version + 1):
        op = read_manifest(path, v).operation
        if op in ("overwrite", "restore"):
            raise ValueError(
                f"version {v} is a {op} (compaction/overwrite/restore) — a "
                "physical diff cannot represent a rewrite; start the CDC "
                "window after it"
            )
    from_ids = {f.id: f for f in mf_from.fragments}
    to_ids = {f.id: f for f in mf_to.fragments}
    moved = [
        fid for fid, f in from_ids.items()
        if fid in to_ids and to_ids[fid].path != f.path
    ]
    if moved:  # unreachable given the op guard; defense in depth
        raise ValueError(f"fragments {sorted(moved)} changed data files")
    schema = StructType.fromJson(mf_to.schema_json)
    empty = spark.createDataFrame([], schema).withColumn(
        "_change_type", F.lit("insert")
    )
    out = empty.limit(0)

    new_frags = [f for fid, f in to_ids.items() if fid not in from_ids]
    if new_frags:
        inserted = LanceDataset(
            path,
            Manifest(
                version=to_version,
                schema_json=mf_to.schema_json,
                fragments=new_frags,
                properties=mf_to.properties,
            ),
        ).to_df(spark)
        out = out.unionByName(
            inserted.withColumn("_change_type", F.lit("insert"))
        )

    # fragments fully deleted in the range: every row still live at
    # from_version is a delete (the manifest entry itself is gone)
    removed = [f for fid, f in from_ids.items() if fid not in to_ids]
    if removed:
        gone = LanceDataset(
            path,
            Manifest(
                version=from_version,
                schema_json=mf_to.schema_json,
                fragments=removed,  # keep from-version DVs applied
                properties=mf_to.properties,
            ),
        ).to_df(spark)
        out = out.unionByName(
            gone.withColumn("_change_type", F.lit("delete"))
        )

    affected = [
        (from_ids[fid], f)
        for fid, f in to_ids.items()
        if fid in from_ids
        and (f.deletion.path if f.deletion else None)
        != (from_ids[fid].deletion.path if from_ids[fid].deletion else None)
    ]
    if affected:
        def _del_df(frags):
            paths = [
                os.path.join(path, f.deletion.path) for f in frags if f.deletion
            ]
            if not paths:
                return None
            return spark.read.schema(
                "fragment_id long, row_index long"
            ).parquet(*paths)

        d_to = _del_df([f for _, f in affected])
        d_from = _del_df([f for f, _ in affected])
        delta = d_to if d_from is None else d_to.exceptAll(d_from)
        addr = delta.select(
            (
                F.col("fragment_id") * F.lit(1 << FRAGMENT_SHIFT)
                + F.col("row_index")
            ).alias("_del_addr")
        )
        # undeleted scan of ONLY the affected fragments (deletion stripped so
        # the deleted rows are still readable), then pick the delta addresses
        base_rows = LanceDataset(
            path,
            Manifest(
                version=to_version,
                schema_json=mf_to.schema_json,
                fragments=[
                    Fragment(f.id, f.path, f.physical_rows, None, f.stats)
                    for _, f in affected
                ],
                properties=mf_to.properties,
            ),
        ).to_df(spark, with_row_address=True)
        deleted = (
            base_rows.join(
                F.broadcast(addr),
                base_rows[ROW_ADDR_COL] == F.col("_del_addr"),
            )
            .drop("_del_addr", ROW_ADDR_COL)
            .withColumn("_change_type", F.lit("delete"))
        )
        out = out.unionByName(deleted)
    return out

def zorder_value(df: DataFrame, cols: list[str],
                 bounds: dict | None = None) -> Column:
    """Morton (Z-order) value over min/max-scaled 16-bit buckets of the
    given numeric columns — the interleaving core shared by the
    own-format OPTIMIZE ZORDER (LanceDataset._zorder_column) and the
    native clustered compaction. ``bounds`` maps column -> (lo, hi);
    missing columns trigger one tiny min/max aggregate."""
    bounds = dict(bounds or {})
    missing = [c for c in cols if c not in bounds]
    if missing:
        row = df.agg(
            *[F.min(c).alias(f"mn_{c}") for c in missing],
            *[F.max(c).alias(f"mx_{c}") for c in missing],
        ).collect()[0]
        for c in missing:
            bounds[c] = (row[f"mn_{c}"], row[f"mx_{c}"])
    m = len(cols)
    zval = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        lo, hi = bounds[c]
        if lo is None or hi is None or hi == lo:
            continue  # constant / all-null column contributes nothing
        bucket = F.floor(
            (F.col(c).cast("double") - F.lit(float(lo)))
            * F.lit(65535.0 / (float(hi) - float(lo)))
        ).cast("long")
        bucket = F.greatest(F.lit(0), F.least(F.lit(65535), bucket))
        for b in range(16):
            zval = zval + F.shiftleft(
                F.shiftright(bucket, b).bitwiseAND(F.lit(1)), b * m + i
            )
    return zval

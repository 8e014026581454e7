"""Directory-namespace catalog + SQL routing shim (SURVEY §2A.A14).

The reference exposes namespaces/tables through Trino's ConnectorMetadata
(`LanceMetadata.java:162-245` create/drop/list schemas, `:391-412` listTables,
`:815-830` dropTable; namespace modes `LanceRuntime.java:224-260`). Spark's
equivalent JVM surface (`TableCatalog` + `SupportsNamespaces`) cannot be
implemented from pure Python — `spark.sql.catalog.*` requires a JVM class —
so this is the sanctioned thin shim: a directory namespace
(`<root>/<schema>/<table>.lance`) with Python DDL methods, plus a SQL router
that handles the reference's DDL/metadata grammar and rewrites table
references (including `VERSION AS OF` / `TIMESTAMP AS OF` time travel,
`LanceMetadata.java:249-370`) into pinned-snapshot temp views before
delegating everything else to Spark SQL.

Supported statement grammar (case-insensitive; the reference's documented
DDL surface, docs/src/operations/ddl/*):

    CREATE SCHEMA [IF NOT EXISTS] <schema>
    DROP SCHEMA [IF EXISTS] <schema>            -- RESTRICT-only, like the ref
    SHOW SCHEMAS
    SHOW TABLES [IN <schema>]
    CREATE [OR REPLACE] TABLE <schema>.<table> AS <select>
    CREATE TABLE <schema>.<table> (<col> <type>[, ...])
    DROP TABLE [IF EXISTS] <schema>.<table>
    DESCRIBE <schema>.<table>
    INSERT INTO <schema>.<table> <select>
    DELETE FROM <schema>.<table> WHERE <predicate>
    UPDATE <schema>.<table> SET col = expr[, ...] [WHERE <predicate>]
    MERGE INTO <schema>.<table> USING <source> ON <col> = <col>[ AND ...]
      WHEN MATCHED [AND <cond>] THEN UPDATE SET c = e[, ...] | DELETE
      [WHEN NOT MATCHED THEN INSERT]        -- source columns as src.<name>
    CREATE INDEX ON <schema>.<table> (<col>)
    DROP [VECTOR] INDEX ON <schema>.<table> (<col>)
    CREATE VECTOR INDEX ON <schema>.<table> (<col>)
    CREATE FTS INDEX ON <schema>.<table> (<col>)
    FTS SEARCH <schema>.<table> (<col>) MATCHING '<query>' [TOP k]
      [USING IVF_FLAT|IVF_PQ|HNSW|IVF_HNSW] [WITH (n_cells = N)]
    VECTOR SEARCH <schema>.<table> (<col>) USING <schema>.<queries>
      [TOP <k>] [NPROBE <n>] [WHERE <col2> IN (v, ...)]
      -- queries table: (query_id, <col>); WHERE is a true PREFILTER
    ALTER TABLE <schema>.<table> ADD COLUMN <name> <type>
    ALTER TABLE <schema>.<table> DROP COLUMN <name>
    ALTER TABLE <schema>.<table> RENAME COLUMN <a> TO <b>  -- native only
    RESTORE TABLE <schema>.<table> TO VERSION <n>
    TABLE CHANGES <schema>.<table> FROM <v1> TO <v2>   -- CDC read
    CREATE TAG <name> ON <schema>.<table> [AS OF VERSION <n>]
    DROP TAG <name> ON <schema>.<table>
    SHOW TAGS <schema>.<table>
    SHOW STATS [FOR] <schema>.<table>        -- zone-map column statistics
    SHOW CREATE TABLE <schema>.<table>
    SELECT ... FROM <schema>.<table> VERSION AS OF '<tag>'
    EXPLAIN [FORMATTED|EXTENDED] <select>  -- plan with pinned snapshots
    SELECT ... FROM <schema>.<table> [FOR] VERSION AS OF <n>
                                     [FOR] TIMESTAMP AS OF '<ts>' ...

Namespace modes (schema_mode): "dir" (default), "single" (virtual `default`
schema at the root), "parent" ($-joined multi-level namespaces) — see the
LanceCatalog docstring.

COUNT(*) fast path (A8): an unfiltered, ungrouped `SELECT COUNT(*) FROM t`
is answered from the manifest in O(1) with zero fragments scanned — the same
guard conditions as the reference (`LanceMetadata.java:604-665`: refused when
a filter or grouping is present).
"""

from __future__ import annotations

import os
import re
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .format.dataset import LanceDataset
from .format.manifest import read_manifest
from .format.namespace import DirectoryNamespace, NamespaceError
from .operators import dml

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
# Schema-name positions additionally admit `$` — parent-prefix namespace
# mode flattens multi-level namespaces into `a$b` schema names
# (`LanceRuntime.java:224-260`).
_NSID = r"[A-Za-z_][A-Za-z0-9_$]*"


class CatalogError(ValueError):
    pass


def _prefilter_vals(raw: str) -> list:
    """Parse the `WHERE col IN (...)` literal list of FTS/VECTOR
    SEARCH. Quoted literals stay strings ('123' on a string column must
    not become int 123 — the btree/scan prefilter arms compare typed
    values); only UNQUOTED digit tokens coerce to int."""
    vals: list = []
    for v in raw.split(","):
        v = v.strip()
        if not v:
            continue
        if len(v) >= 2 and v[0] == "'" and v[-1] == "'":
            vals.append(v[1:-1])
        elif v.lstrip("-").isdigit():
            vals.append(int(v))
        else:
            vals.append(v)
    return vals


class LanceCatalog:
    """A directory namespace of Lance datasets with a SQL routing front-end.

    ``schema_mode`` mirrors the reference's namespace resolution modes
    (`LanceRuntime.java:224-260`, `LanceConfig.java:73-105`,
    `docs/src/config.md`):

    - ``"dir"`` (default): one directory level per schema —
      ``<root>/<schema>/<table>.lance``.
    - ``"single"``: a single-level namespace exposed as one virtual schema
      ``default``; tables live directly at ``<root>/<table>.lance``.
    - ``"parent"``: multi-level namespaces flattened into single-level
      schema names by ``$``-joining the levels — schema ``a$b`` resolves to
      ``<root>/a/b/`` (the reference's parent-prefix resolution).
    """

    SINGLE_SCHEMA = "default"

    def __init__(
        self,
        spark: SparkSession,
        root: str | None = None,
        stats_broadcast: bool = True,
        broadcast_threshold_bytes: int | None = None,
        schema_mode: str = "dir",
        namespace=None,
    ):
        """``namespace`` may be any backend implementing the
        format.namespace protocol (e.g. :class:`RestNamespace` for a remote
        namespace service); by default a :class:`DirectoryNamespace` over
        ``root`` with the given ``schema_mode`` is used."""
        self.spark = spark
        if namespace is None:
            if root is None:
                raise CatalogError("either root or namespace is required")
            try:
                if schema_mode == "metastore":
                    # the reference's hive/glue-style mode: schema→table
                    # mapping lives in the Spark session catalog (the Hive
                    # metastore when the session is Hive-enabled)
                    from .format.namespace import SparkCatalogNamespace

                    namespace = SparkCatalogNamespace(spark, root)
                else:
                    namespace = DirectoryNamespace(root, schema_mode=schema_mode)
            except NamespaceError as e:
                raise CatalogError(str(e)) from None
        self.namespace = namespace
        self.root = root
        self.schema_mode = schema_mode
        self._view_ids = 0
        # A9 statistics feed: hint broadcast for manifest-small tables in
        # SELECT rewrites (see _select). The threshold defaults to the
        # session's autoBroadcastJoinThreshold; pass an explicit byte count
        # to decouple the stats feed from the session conf.
        self.stats_broadcast = stats_broadcast
        self.broadcast_threshold_bytes = broadcast_threshold_bytes

    # ------------------------------------------------------------ namespaces
    # All schema/table-name resolution delegates to the namespace backend
    # (format/namespace.py) — directory modes or a REST service — with
    # backend errors surfaced under the catalog's own exception type.
    def create_namespace(self, ns: str, if_not_exists: bool = False) -> None:
        try:
            self.namespace.create_namespace(ns, if_not_exists=if_not_exists)
        except NamespaceError as e:
            raise CatalogError(str(e)) from None

    def drop_namespace(self, ns: str, if_exists: bool = False) -> None:
        try:
            self.namespace.drop_namespace(ns, if_exists=if_exists)
        except NamespaceError as e:
            raise CatalogError(str(e)) from None

    def list_namespaces(self) -> list[str]:
        try:
            return self.namespace.list_namespaces()
        except NamespaceError as e:
            raise CatalogError(str(e)) from None

    # ---------------------------------------------------------------- tables
    def table_path(self, ns: str, table: str) -> str:
        try:
            return self.namespace.table_location(ns, table)
        except NamespaceError as e:
            raise CatalogError(str(e)) from None

    def _native(self, ns: str, tbl: str) -> str | None:
        """Location when the table is a REAL `.lance` dataset (binary
        protobuf manifests) — the SQL router then drives the native
        read/DML/maintenance surface instead of the own-format one, so a
        catalog user manages SDK-written datasets through the same SQL."""
        from .format.lance_native import is_native_dataset

        try:
            path = self.table_path(ns, tbl)
        except CatalogError:
            return None
        return path if is_native_dataset(path) else None

    def _native_df(self, path: str, version=None, ts_ms=None, tag=None):
        from .sources.lance_datasource import register_lance_datasource

        register_lance_datasource(self.spark)
        r = self.spark.read.format("lance")
        if version is not None:
            r = r.option("version", str(version))
        if ts_ms is not None:
            r = r.option("timestampAsOf", str(ts_ms))
        if tag is not None:
            r = r.option("tagAsOf", tag)
        return r.load(path)

    def list_tables(self, ns: str) -> list[str]:
        try:
            return self.namespace.list_tables(ns)
        except NamespaceError as e:
            raise CatalogError(str(e)) from None

    def load(
        self,
        ns: str,
        table: str,
        version: int | None = None,
        asof_timestamp_ms: int | None = None,
        tag: str | None = None,
    ) -> LanceDataset:
        path = self.table_path(ns, table)
        if not LanceDataset.exists(path):
            raise CatalogError(f"table {ns}.{table} does not exist")
        return LanceDataset.open(
            path, version=version, asof_timestamp_ms=asof_timestamp_ms, tag=tag
        )

    def create_table(
        self, ns: str, table: str, df: DataFrame, mode: str = "error"
    ) -> LanceDataset:
        try:
            # declareTable resolves AND validates the location (the
            # reference's namespace declareTable, LanceMetadata.java:834-1027).
            location = self.namespace.declare_table(ns, table)
        except NamespaceError as e:
            raise CatalogError(str(e)) from None
        return LanceDataset.create(location, df, mode=mode)

    def drop_table(self, ns: str, table: str, if_exists: bool = False) -> None:
        try:
            path = self.namespace.table_location(ns, table)
        except NamespaceError as e:
            raise CatalogError(str(e)) from None
        if not LanceDataset.exists(path):
            if if_exists:
                return
            raise CatalogError(f"table {ns}.{table} does not exist")
        try:
            self.namespace.drop_table(ns, table, if_exists=if_exists)
        except NamespaceError as e:
            raise CatalogError(str(e)) from None

    # ------------------------------------------------------------ SQL router
    def sql(self, query: str) -> DataFrame:
        q = query.strip().rstrip(";").strip()
        # EXPLAIN [FORMATTED|EXTENDED] <select>: resolve table refs exactly
        # like a real run (same pinned snapshots, same broadcast hints) and
        # return the physical plan as one row instead of executing.
        em = re.match(
            r"EXPLAIN\s+(?:(?P<mode>FORMATTED|EXTENDED)\s+)?(?P<body>SELECT\b.*)$",
            q, re.IGNORECASE | re.DOTALL,
        )
        if em:
            df = self._select(em.group("body"))
            mode = (em.group("mode") or "simple").lower()
            plan = df._jdf.queryExecution()
            text = (
                plan.explainString(
                    self.spark._jvm.org.apache.spark.sql.execution
                    .ExplainMode.fromString(mode)
                )
            )
            return self.spark.createDataFrame([(text,)], "plan string")
        for pattern, handler in self._ROUTES:
            m = re.match(pattern, q, re.IGNORECASE | re.DOTALL)
            if m:
                return handler(self, m)
        return self._select(q)

    # --- DDL handlers ------------------------------------------------------
    def _h_create_schema(self, m) -> DataFrame:
        self.create_namespace(m.group("ns"), if_not_exists=bool(m.group("ine")))
        return self._status(f"created schema {m.group('ns')}")

    def _h_drop_schema(self, m) -> DataFrame:
        self.drop_namespace(m.group("ns"), if_exists=bool(m.group("ie")))
        return self._status(f"dropped schema {m.group('ns')}")

    def _h_show_schemas(self, m) -> DataFrame:
        return self.spark.createDataFrame(
            [(s,) for s in self.list_namespaces()], "namespace string"
        )

    def _h_show_tables(self, m) -> DataFrame:
        ns = m.group("ns")
        spaces = [ns] if ns else self.list_namespaces()
        rows = [(s, t) for s in spaces for t in self.list_tables(s)]
        return self.spark.createDataFrame(rows, "namespace string, table string")

    def _h_create_table(self, m) -> DataFrame:
        ns, tbl = m.group("ns"), m.group("tbl")
        mode = "overwrite" if m.group("replace") else (
            "ignore" if m.group("ine") else "error"
        )
        df = self._select(m.group("select"))
        if m.group("native"):
            # `CREATE NATIVE TABLE ns.t AS SELECT ...` — a REAL `.lance`
            # dataset (binary manifests, FILE-v2 data files), distributed
            # executor-staged CTAS; readable by the lance SDK and by every
            # native route in this router
            import shutil as _sh

            from .format.lance_native import create_native_dataset

            try:
                location = self.namespace.declare_table(ns, tbl)
            except NamespaceError as e:
                raise CatalogError(str(e)) from None
            # An OWN-FORMAT table at the same location must count as
            # "exists" too: writing a binary manifest next to
            # .manifest.json files would leave is_native_dataset()
            # False and every later read silently serving the OLD data.
            if self._native(ns, tbl) is not None or LanceDataset.exists(
                    location):
                if m.group("ine"):
                    return self._status(f"table {ns}.{tbl} exists")
                if not m.group("replace"):
                    raise CatalogError(f"table {ns}.{tbl} already exists")
                _sh.rmtree(location, ignore_errors=True)
            create_native_dataset(df, location, file_version=2)
            return self._status(
                f"created NATIVE table {ns}.{tbl} v1")
        # Mirror guard: plain CREATE TABLE over an existing NATIVE table
        # would interleave a JSON manifest into a binary-manifest dataset.
        if self._native(ns, tbl) is not None:
            if m.group("ine"):
                return self._status(f"table {ns}.{tbl} exists")
            if not m.group("replace"):
                raise CatalogError(
                    f"table {ns}.{tbl} already exists (native)")
            import shutil as _sh2

            _sh2.rmtree(self.namespace.table_location(ns, tbl),
                        ignore_errors=True)
        ds = self.create_table(ns, tbl, df, mode=mode)
        return self._status(f"created table {ns}.{tbl} v{ds.version}")

    def _h_drop_table(self, m) -> DataFrame:
        self.drop_table(m.group("ns"), m.group("tbl"), if_exists=bool(m.group("ie")))
        return self._status(f"dropped table {m.group('ns')}.{m.group('tbl')}")

    def _h_describe(self, m) -> DataFrame:
        np_ = self._native(m.group("ns"), m.group("tbl"))
        if np_ is not None:
            from .format.lance_native import (
                native_spark_schema, read_native_manifest)

            schema = native_spark_schema(read_native_manifest(np_))
        else:
            schema = self.load(m.group("ns"), m.group("tbl")).schema
        return self.spark.createDataFrame(
            [(f.name, f.dataType.simpleString()) for f in schema.fields],
            "col_name string, data_type string",
        )

    def _h_insert(self, m) -> DataFrame:
        np_ = self._native(m.group("ns"), m.group("tbl"))
        if np_ is not None:
            from .format.lance_native import (
                native_spark_schema, read_native_manifest)

            df = self._select(m.group("select"))
            schema = native_spark_schema(read_native_manifest(np_))
            cols = [f.name for f in schema.fields]
            if set(c.lower() for c in df.columns) == set(
                    c.lower() for c in cols):
                df = df.select(*cols)
            elif len(df.columns) == len(cols):
                df = df.toDF(*cols)
            else:
                raise CatalogError(
                    f"INSERT arity mismatch: table has {len(cols)} "
                    f"columns, query produced {len(df.columns)}")
            df = df.select(*[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ])
            df.write.format("lance").mode("append").save(np_)
            v = read_native_manifest(np_).version
            return self._status(
                f"inserted into {m.group('ns')}.{m.group('tbl')} "
                f"v{v} (native)")
        ds = self.load(m.group("ns"), m.group("tbl"))
        df = self._select(m.group("select"))
        cols = [f.name for f in ds.schema.fields]
        if set(c.lower() for c in df.columns) == set(c.lower() for c in cols):
            df = df.select(*cols)  # by name, table order
        elif len(df.columns) == len(cols):
            df = df.toDF(*cols)  # positional (e.g. INSERT ... VALUES)
        else:
            raise CatalogError(
                f"INSERT arity mismatch: table has {len(cols)} columns, "
                f"query produced {len(df.columns)}"
            )
        # SQL INSERT coerces values to the table's declared types (literal
        # ints are INTEGER but a BIGINT column must stay BIGINT).
        df = df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in ds.schema.fields]
        )
        out = ds.append(df)
        return self._status(f"inserted into {m.group('ns')}.{m.group('tbl')} v{out.version}")

    def _h_delete(self, m) -> DataFrame:
        np_ = self._native(m.group("ns"), m.group("tbl"))
        if np_ is not None:
            from .format.lance_native import native_delete_where

            v = native_delete_where(
                self.spark, np_, F.expr(m.group("pred")))
            return self._status(f"deleted v{v} (native)")
        ds = self.load(m.group("ns"), m.group("tbl"))
        out = dml.delete(ds, self.spark, m.group("pred"))
        return self._status(f"deleted v{out.version}")

    def _h_update(self, m) -> DataFrame:
        sets = {}
        for part in _split_top_level(m.group("sets")):
            name, expr = part.split("=", 1)
            sets[name.strip()] = expr.strip()
        np_ = self._native(m.group("ns"), m.group("tbl"))
        if np_ is not None:
            from .format.lance_native import native_update_where

            v = native_update_where(
                self.spark, np_, F.expr(m.group("pred")),
                {k: F.expr(e) for k, e in sets.items()})
            return self._status(f"updated v{v} (native)")
        ds = self.load(m.group("ns"), m.group("tbl"))
        out = dml.update(ds, self.spark, sets, m.group("pred"))
        return self._status(f"updated v{out.version}")

    def _h_merge(self, m) -> DataFrame:
        np_ = self._native(m.group("ns"), m.group("tbl"))
        ds = None if np_ is not None else self.load(
            m.group("ns"), m.group("tbl"))
        src_text = m.group("src").strip()
        if src_text.startswith("("):
            source = self._select(src_text[1:-1])
        elif re.fullmatch(rf"{_IDENT}\.{_IDENT}", src_text):
            ns2, tbl2 = src_text.split(".")
            np2 = self._native(ns2, tbl2)
            source = (self._native_df(np2) if np2 is not None
                      else self.load(ns2, tbl2).to_df(self.spark))
        else:
            source = self.spark.table(src_text)

        # ON t.k = s.k [AND ...] — keys must be same-named on both sides
        keys = []
        for lhs, rhs in re.findall(
            r"(?:t\.)?(\w+)\s*=\s*(?:s|src)\.(\w+)", m.group("on"), re.IGNORECASE
        ):
            if lhs.lower() != rhs.lower():
                raise CatalogError(
                    f"MERGE ON requires same-named key columns, got {lhs}={rhs}"
                )
            keys.append(lhs)
        if not keys:
            raise CatalogError(f"could not parse MERGE ON clause: {m.group('on')!r}")

        def rewrite(expr: str) -> str:
            # source refs s.c / src.c → _src_c; target refs t.c → c
            e = re.sub(r"\b(?:s|src)\.(\w+)", r"_src_\1", expr, flags=re.IGNORECASE)
            return re.sub(r"\bt\.(\w+)", r"\1", e, flags=re.IGNORECASE)

        matched_clauses: list[tuple[str | None, dict | None]] = []
        not_matched_insert = False
        for w in re.finditer(
            r"WHEN\s+(?P<neg>NOT\s+)?MATCHED"
            r"(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+"
            r"(?P<act>UPDATE\s+SET\s+.+?|DELETE|INSERT.*?)"
            r"(?=\s+WHEN\s+|$)",
            m.group("whens"),
            re.IGNORECASE | re.DOTALL,
        ):
            cond = rewrite(w.group("cond")) if w.group("cond") else None
            act = w.group("act").strip()
            if w.group("neg"):
                if not act.upper().startswith("INSERT"):
                    raise CatalogError("WHEN NOT MATCHED supports only INSERT")
                not_matched_insert = True
            elif act.upper() == "DELETE":
                matched_clauses.append((cond, None))
            elif act.upper().startswith("UPDATE"):
                sets = {}
                for part in _split_top_level(act[len("UPDATE SET"):]):
                    name, expr = part.split("=", 1)
                    sets[rewrite(name.strip())] = rewrite(expr.strip())
                matched_clauses.append((cond, sets))
            else:
                raise CatalogError(f"unsupported MERGE action: {act!r}")

        if np_ is not None:
            # native MERGE: the exact wholesale-upsert SQL shape keeps
            # the one-join fast path (DELETE_ROW_AND_INSERT_ROW,
            # LanceMergeSink.java:49-204); every other shape — ordered
            # multi-WHEN with AND conditions, partial SET, matched
            # DELETE — routes through native_merge_conditional, the
            # reference's full five-op-code surface
            # (LanceMergeSink.java:86-144).
            from .format.lance_native import (
                native_merge_conditional, native_merge_into,
                native_spark_schema, read_native_manifest)

            cols = [f.name for f in native_spark_schema(
                read_native_manifest(np_)).fields]
            wholesale = {c: f"_src_{c}" for c in cols if c not in keys}
            if (not_matched_insert and len(matched_clauses) == 1
                    and matched_clauses[0][0] is None
                    and matched_clauses[0][1] == wholesale):
                v = native_merge_into(
                    self.spark, np_, source.select(*cols), on=keys)
            else:
                v = native_merge_conditional(
                    self.spark, np_, source, on=keys,
                    matched_clauses=matched_clauses,
                    not_matched_insert=not_matched_insert)
            return self._status(
                f"merged into {m.group('ns')}.{m.group('tbl')} "
                f"v{v} (native)")
        out = dml.merge_multi(
            ds,
            self.spark,
            source,
            on=keys,
            matched_clauses=matched_clauses,
            not_matched_insert=not_matched_insert,
        )
        return self._status(f"merged into {m.group('ns')}.{m.group('tbl')} v{out.version}")

    def _h_create_table_columns(self, m) -> DataFrame:
        from pyspark.sql.types import StructType

        ns, tbl = m.group("ns"), m.group("tbl")
        try:
            location = self.namespace.declare_table(ns, tbl)
        except NamespaceError as e:
            raise CatalogError(str(e)) from None
        ddl = ", ".join(_split_top_level(m.group("cols")))
        schema = StructType.fromDDL(ddl)
        ds = LanceDataset.create_empty(location, schema)
        return self._status(f"created table {ns}.{tbl} v{ds.version}")

    def _h_optimize(self, m) -> DataFrame:
        """Maintenance: `OPTIMIZE <schema>.<table> [TARGET n ROWS]
        [SORT BY col, ... | ZORDER BY (col, ...)]` — rewrite small /
        deletion-bearing fragments (format-layer compaction); SORT BY
        rewrites everything clustered on one key order, ZORDER BY on a
        Morton interleave of several columns so zone maps prune filters on
        any of them."""
        np_ = self._native(m.group("ns"), m.group("tbl"))
        if np_ is not None:
            from .format.lance_native import (
                native_compact, read_native_manifest)

            before = len(read_native_manifest(np_).fragments)
            kw = {}
            if m.group("target"):
                kw["rows_per_fragment"] = int(m.group("target"))
            sort = m.group("sort") or m.group("zorder")
            if sort:
                keys = [c.strip() for c in sort.split(",")]
                kw["sort_by"] = keys[0] if (
                    m.group("sort") and len(keys) == 1) else keys
                # clustered rewrite covers the whole table, not just
                # the small/DV-laden victims
                kw["small_fragment_rows"] = 1 << 60
            native_compact(np_, spark=self.spark, **kw)
            mm = read_native_manifest(np_)
            return self._status(
                f"optimized {m.group('ns')}.{m.group('tbl')} "
                f"{before}->{len(mm.fragments)} fragments "
                f"v{mm.version} (native)")
        ds = self.load(m.group("ns"), m.group("tbl"))
        before = len(ds.manifest.fragments)
        kwargs = {}
        if m.group("target"):
            kwargs["target_rows_per_file"] = int(m.group("target"))
        if m.group("sort"):
            kwargs["sort_by"] = [c.strip() for c in m.group("sort").split(",")]
        if m.group("zorder"):
            kwargs["zorder_by"] = [c.strip() for c in m.group("zorder").split(",")]
        out = ds.compact(self.spark, **kwargs)
        return self._status(
            f"optimized {m.group('ns')}.{m.group('tbl')} "
            f"{before}->{len(out.manifest.fragments)} fragments v{out.version}"
        )

    def _h_create_index(self, m) -> DataFrame:
        """`CREATE INDEX ON <schema>.<table> (<col>)` — per-fragment scalar
        index sidecars (format/index.py), the reference's useScalarIndex
        analogue for point lookups on unclustered columns."""
        ns, tbl, col = m.group("ns"), m.group("tbl"), m.group("col")
        np_ = self._native(ns, tbl)
        if np_ is not None:
            from .format.lance_native import ensure_native_scalar_index

            # incremental: an existing index extends (sort the delta,
            # linear-merge the rest — probe-identical to a rebuild); a
            # fresh table still builds from scratch
            uid = ensure_native_scalar_index(
                np_, col, spark=self.spark, incremental=True)
            return self._status(
                f"indexed {ns}.{tbl}({col}) "
                f"{'(already covered)' if uid is None else uid} (native)")
        ds = self.load(ns, tbl).create_scalar_index(self.spark, col)
        return self._status(f"indexed {ns}.{tbl}({col}) v{ds.version}")

    def _h_create_fts_index(self, m) -> DataFrame:
        """`CREATE FTS INDEX ON <schema>.<table> (<col>) [WITH
        (analyzer = '<name>')]` — the native inverted index (analyzer
        'whitespace-v1' default, 'simple-v1' = lowercase +
        non-alphanumeric split; BM25 serving via FTS SEARCH).
        Incremental: an existing index extends by an O(delta) LSM run
        (keeping ITS analyzer); a fresh table builds from scratch
        (executor-staged either way). Own-format tables refuse with a
        pointer (the inverted sidecar is a native-format surface)."""
        ns, tbl, col = m.group("ns"), m.group("tbl"), m.group("col")
        np_ = self._native(ns, tbl)
        if np_ is None:
            raise CatalogError(
                f"{ns}.{tbl} is not a native-format table — FTS indexes "
                "live in native `.lance` sidecars; use CREATE INDEX "
                "(btree) or the text operators for parquet-backed tables")
        from .format.lance_native import (
            FTS_ANALYZER,
            ensure_native_fts_index,
        )

        uid = ensure_native_fts_index(
            np_, col, spark=self.spark, incremental=True,
            analyzer=m.group("analyzer") or FTS_ANALYZER)
        return self._status(
            f"fts-indexed {ns}.{tbl}({col}) "
            f"{'(already covered)' if uid is None else uid} (native)")

    def _h_create_bitmap_index(self, m) -> DataFrame:
        """`CREATE BITMAP INDEX ON <schema>.<table> (<col>)` — the
        exact-value (keyword-v1) index for low-cardinality string
        columns: a value's postings ARE its row-address bitmap, and the
        TRUE-prefilter path (FTS SEARCH / VECTOR SEARCH WHERE ... IN)
        serves allowed sets from them page-bounded. Incremental like
        CREATE FTS INDEX; DROP FTS INDEX drops it (same sidecar
        family)."""
        ns, tbl, col = m.group("ns"), m.group("tbl"), m.group("col")
        np_ = self._native(ns, tbl)
        if np_ is None:
            raise CatalogError(
                f"{ns}.{tbl} is not a native-format table — BITMAP "
                "indexes live in native `.lance` sidecars")
        from .format.lance_native import ensure_native_fts_index

        uid = ensure_native_fts_index(
            np_, col, spark=self.spark, incremental=True,
            analyzer="keyword-v1")
        return self._status(
            f"bitmap-indexed {ns}.{tbl}({col}) "
            f"{'(already covered)' if uid is None else uid} (native)")

    def _h_create_ngram_index(self, m) -> DataFrame:
        """`CREATE NGRAM INDEX ON <schema>.<table> (<col>)` — the
        substring-search (ngram-v1) index, the Lance SDK's fifth scalar
        family: distinct lowercase trigrams per value, so the scan's
        contains()/LIKE '%s%' pushdown preselects candidate rows from
        postings intersection and the residual recheck keeps exactness.
        Incremental like CREATE FTS INDEX; DROP FTS INDEX drops it
        (same sidecar family)."""
        ns, tbl, col = m.group("ns"), m.group("tbl"), m.group("col")
        np_ = self._native(ns, tbl)
        if np_ is None:
            raise CatalogError(
                f"{ns}.{tbl} is not a native-format table — NGRAM "
                "indexes live in native `.lance` sidecars")
        from .format.lance_native import ensure_native_fts_index

        uid = ensure_native_fts_index(
            np_, col, spark=self.spark, incremental=True,
            analyzer="ngram-v1")
        return self._status(
            f"ngram-indexed {ns}.{tbl}({col}) "
            f"{'(already covered)' if uid is None else uid} (native)")

    def _h_fts_search(self, m) -> DataFrame:
        """`FTS SEARCH <schema>.<table> (<col>) MATCHING '<query>'
        [TOP <k>]` — LIVE-SNAPSHOT BM25 (lf43's freshness contract):
        the inverted index serves its covered fragments from postings
        slices, fragments appended after the build are tokenized on the
        fly by the exact arm, so SQL users never see stale FTS between
        ingest and maintenance. The result is every non-text column of
        the matched rows plus (dl, score), best score first; scores are
        the exact rational-idf BM25 doubles of operators/text.py
        bm25_scores."""
        ns, tbl, col = m.group("ns"), m.group("tbl"), m.group("col")
        # MATCHING grammar (lance_native._fts_parse_query): bare terms
        # OR by default; "double-quoted groups" are PHRASES served from
        # positional postings; AND binds tighter than OR (r14 —
        # AND-joined operands form conjunction groups, a doc qualifies
        # iff some group is fully present); a leading '-' EXCLUDES the
        # operand (word/phrase/fuzzy, Lucene MUST_NOT); trailing ~ is a
        # fuzzy operand. WHERE <col> IN (...) is the LanceDB
        # where-on-FTS TRUE prefilter (global corpus stats, filtered
        # results — the VECTOR SEARCH syntax mirrored).
        query = m.group("q")
        k = int(m.group("k") or 10)
        prefilter = None
        if m.group("fcol"):
            prefilter = (m.group("fcol"), _prefilter_vals(m.group("fvals")))
        np_ = self._native(ns, tbl)
        if np_ is None:
            raise CatalogError(
                f"{ns}.{tbl} is not a native-format table — FTS SEARCH "
                "serves native inverted indexes; score parquet-backed "
                "tables with operators.text.bm25_scores")
        from .format.lance_native import (
            native_fts_search_fresh,
            native_spark_schema,
            read_native_fragment,
            read_native_manifest,
        )

        live = read_native_manifest(np_)
        got, _stats = native_fts_search_fresh(
            np_, col, query, k=k, spark=self.spark, manifest=live,
            prefilter=prefilter)
        id_fields = [f for f in native_spark_schema(live).fields
                     if f.name != col]
        frag_by_id = {f.id: f for f in live.fragments}
        need: dict[int, set] = {}
        for a, _dl, _s in got:
            need.setdefault(a >> 32, set()).add(a & 0xFFFFFFFF)
        vals_by_addr: dict[int, tuple] = {}
        for fid, rows_ in need.items():
            sel = sorted(rows_)
            tbl_ = read_native_fragment(
                np_, frag_by_id[fid], live,
                columns=[f.name for f in id_fields], preselected=sel)
            cols_ = [tbl_.column(f.name).to_pylist() for f in id_fields]
            for j, ridx in enumerate(sel):
                vals_by_addr[(fid << 32) | ridx] = tuple(
                    c[j] for c in cols_)
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            StructField,
            StructType,
        )

        schema = StructType(
            list(id_fields)
            + [StructField("dl", IntegerType()),
               StructField("score", DoubleType())]
        )
        out = [
            (*vals_by_addr[a], int(dl), float(s)) for a, dl, s in got
        ]
        return self.spark.createDataFrame(out, schema)

    def _h_drop_index(self, m) -> DataFrame:
        """`DROP [VECTOR|FTS] INDEX ON <schema>.<table> (<col>)` —
        unregister the index and reclaim its sidecars."""
        ns, tbl, col = m.group("ns"), m.group("tbl"), m.group("col")
        np_ = self._native(ns, tbl)
        if np_ is not None:
            import shutil as _sh

            from .format.lance_native import (
                INVERTED_FAMILIES,
                VECTOR_FAMILIES,
                list_native_indices,
            )

            # DROP VECTOR/FTS INDEX must target THAT kind's sidecars —
            # when several index kinds exist on one column, reaping the
            # scalar set for a vector drop is a destructive wrong-target
            # delete. VECTOR reaches every vector family (IVF_PQ, HNSW,
            # IVF_HNSW); FTS every inverted one (FTS, BITMAP,
            # LABEL_LIST, NGRAM).
            kind = ("vector" if m.group("vec")
                    else "fts" if m.group("fts") else "scalar")
            fams = {"vector": VECTOR_FAMILIES, "scalar": "btree",
                    "fts": INVERTED_FAMILIES}[kind]
            victims = [i for i in list_native_indices(np_, fams)
                       if i.column == col]
            if not victims:
                raise CatalogError(
                    f"no native {kind} index on {ns}.{tbl}({col})")
            for i in victims:
                _sh.rmtree(os.path.dirname(i.path))
            return self._status(
                f"dropped {len(victims)} native {kind} index sidecar(s) "
                f"on {ns}.{tbl}({col})")
        ds = self.load(ns, tbl)
        if m.group("fts"):
            raise CatalogError(
                f"{ns}.{tbl} is not a native-format table — FTS indexes "
                "exist only as native sidecars")
        if m.group("vec"):
            ds = ds.drop_vector_index(self.spark, col)
        else:
            ds = ds.drop_scalar_index(self.spark, col)
        return self._status(
            f"dropped {'vector ' if m.group('vec') else ''}index on "
            f"{ns}.{tbl}({col}) v{ds.version}"
        )

    def _h_alter_add_column(self, m) -> DataFrame:
        """`ALTER TABLE <schema>.<table> ADD COLUMN <name> <type>` —
        metadata-only schema evolution (format/dataset.py add_column):
        existing fragments read NULL for the new column, no data rewrite.
        Native tables route to the distributed NULL backfill
        (native_add_column_backfill — one column-split file per fragment,
        no existing byte rewritten)."""
        ns, tbl, col = m.group("ns"), m.group("tbl"), m.group("col")
        np_ = self._native(ns, tbl)
        if np_ is not None:
            from pyspark.sql import functions as F

            from .format.lance_native import native_add_column_backfill

            v = native_add_column_backfill(
                self.spark, np_, col,
                F.lit(None).cast(m.group("dtype")))
            return self._status(
                f"added column {col} to {ns}.{tbl} v{v} (native)")
        ds = self.load(ns, tbl).add_column(col, m.group("dtype"))
        return self._status(
            f"added column {col} to {ns}.{tbl} v{ds.version}"
        )

    def _h_alter_drop_column(self, m) -> DataFrame:
        """`ALTER TABLE <schema>.<table> DROP COLUMN <name>` — metadata-only
        drop; own-format retires the name permanently (re-adding it would
        resurrect pre-drop bytes via parquet name resolution); native drops
        the field proto and a later re-add allocates a fresh field id, so
        old pages stay shadowed (the fixture's drop-then-re-add rule)."""
        ns, tbl, col = m.group("ns"), m.group("tbl"), m.group("col")
        np_ = self._native(ns, tbl)
        if np_ is not None:
            from .format.lance_native import native_drop_column

            v = native_drop_column(np_, {col})
            return self._status(
                f"dropped column {col} from {ns}.{tbl} v{v} (native)")
        ds = self.load(ns, tbl).drop_column(col)
        return self._status(
            f"dropped column {col} from {ns}.{tbl} v{ds.version}"
        )

    def _h_alter_rename_column(self, m) -> DataFrame:
        """`ALTER TABLE <schema>.<table> RENAME COLUMN <a> TO <b>` — native
        tables only: the manifest field proto's NAME changes while its id
        (and so every data-file binding) stays put, O(1) at any scale
        (native_rename_column). Own-format tables refuse: their fragment
        files resolve columns by NAME, so a rename would read the column
        as NULL from every pre-rename file."""
        ns, tbl = m.group("ns"), m.group("tbl")
        old, new = m.group("old"), m.group("new")
        np_ = self._native(ns, tbl)
        if np_ is None:
            raise CatalogError(
                f"RENAME COLUMN is not supported on {ns}.{tbl}: this "
                "format resolves columns by NAME in fragment files, so a "
                "rename would null the column in every existing file "
                "(native .lance tables resolve by field id and support "
                "rename)"
            )
        from .format.lance_native import native_rename_column

        v = native_rename_column(np_, {old: new})
        return self._status(
            f"renamed {ns}.{tbl}.{old} -> {new} v{v} (native)")

    def _h_create_vector_index(self, m) -> DataFrame:
        """`CREATE VECTOR INDEX ON <schema>.<table> (<col>) [USING IVF_FLAT|
        IVF_PQ] [WITH (n_cells = N)]` — persisted IVF postings sidecars
        (format/vector_index.py), the Lance vector-index analogue
        (`docs/src/performance.md:21-58` index cache of opened vector
        indices)."""
        ns, tbl, col = m.group("ns"), m.group("tbl"), m.group("col")
        kind = (m.group("kind") or "IVF_FLAT").upper()
        n_cells = int(m.group("ncells") or 16)
        np_ = self._native(ns, tbl)
        if np_ is not None:
            # native tables build sidecars via the ensure hooks: covered
            # -> no-op; uncovered (appends since last build) -> rebuild
            # (IVF_PQ) or per-fragment extend (HNSW, r14). VECTOR SEARCH
            # stays live either way (fresh search unions an exact arm
            # over uncovered fragments).
            if kind == "HNSW":
                from .format.lance_native import ensure_native_hnsw_index

                uid = ensure_native_hnsw_index(
                    np_, col, spark=self.spark)
                return self._status(
                    f"vector-indexed {ns}.{tbl}({col}) HNSW "
                    f"{'(already covered)' if uid is None else uid} "
                    "(native)")
            if kind == "IVF_HNSW":
                from .format.lance_native import (
                    ensure_native_ivf_hnsw_index,
                )

                uid = ensure_native_ivf_hnsw_index(
                    np_, col, n_cells=n_cells, spark=self.spark)
                return self._status(
                    f"vector-indexed {ns}.{tbl}({col}) IVF_HNSW "
                    f"n_cells={n_cells} "
                    f"{'(already covered)' if uid is None else uid} "
                    "(native)")
            if m.group("kind") and kind != "IVF_PQ":
                raise CatalogError(
                    f"native vector index supports IVF_PQ or HNSW, "
                    f"got {kind}")
            from .format.lance_native import ensure_native_vector_index

            uid = ensure_native_vector_index(
                np_, col, n_cells=n_cells, spark=self.spark)
            return self._status(
                f"vector-indexed {ns}.{tbl}({col}) IVF_PQ "
                f"n_cells={n_cells} "
                f"{'(already covered)' if uid is None else uid} (native)")
        ds = self.load(ns, tbl).create_vector_index(
            self.spark, col, n_cells=n_cells, index_type=kind
        )
        return self._status(
            f"vector-indexed {ns}.{tbl}({col}) {kind} n_cells={n_cells} "
            f"v{ds.version}"
        )

    def _h_show_indexes(self, m) -> DataFrame:
        """`SHOW INDEXES ON <schema>.<table>` — one row per index
        sidecar on the table: family (BTREE / BITMAP / LABEL_LIST /
        NGRAM / FTS / IVF_PQ / HNSW / IVF_HNSW), column, a family-specific
        detail string, covered-fragment count, and the dataset version
        the index was built at. The Lance SDK's `list_indices()`
        surface as SQL: native tables read the one index registry
        (`lance_native.list_native_indices`, one record per `_indices/`
        directory); own-format tables list their manifest-property
        index registrations instead."""
        ns, tbl = m.group("ns"), m.group("tbl")
        np_ = self._native(ns, tbl)
        rows: list[tuple] = []
        if np_ is not None:
            from .format.lance_native import (
                list_native_indices,
                native_index_coverage,
            )

            # rows grouped BTREE, the inverted families (by version
            # among themselves), IVF_PQ, HNSW, IVF_HNSW
            group = {"btree": 0, "ivf_pq": 2, "hnsw": 3, "ivf_hnsw": 4}
            for i in sorted(list_native_indices(np_),
                            key=lambda i: group.get(i.family, 1)):
                rows.append((
                    i.family.upper(), i.column, i.detail,
                    len(native_index_coverage(np_, i)), i.dataset_version))
        else:
            ds = self.load(ns, tbl)
            p = ds.manifest.properties
            nfrag = len(ds.manifest.fragments)
            for col in sorted(p.get("scalar_indexes", [])):
                rows.append(("BTREE", col, "kind=btree", nfrag,
                             ds.version))
            vspec = p.get("vector_indexes", {})
            items = (sorted(vspec.items()) if isinstance(vspec, dict)
                     else [(c, "IVF_FLAT") for c in sorted(vspec)])
            for col, kind in items:
                rows.append((str(kind).upper().split(":")[0], col,
                             str(kind), nfrag, ds.version))
        rows.sort()
        return self.spark.createDataFrame(
            rows,
            "family string, column_name string, detail string, "
            "covered_fragments long, dataset_version long")

    def _h_show_create(self, m) -> DataFrame:
        """`SHOW CREATE TABLE <schema>.<table>` — reconstructed DDL with
        the table's properties (vector columns, indexes, blob columns)
        rendered as WITH options, Trino-style."""
        ns, tbl = m.group("ns"), m.group("tbl")
        ds = self.load(ns, tbl)
        cols = ",\n  ".join(
            f"{f.name} {f.dataType.simpleString().upper()}"
            for f in ds.schema.fields
        )
        props = []
        p = ds.manifest.properties
        if p.get("vector_columns"):
            spec = p["vector_columns"]
            if isinstance(spec, dict):
                spec = ", ".join(f"{k}:{v}" for k, v in sorted(spec.items()))
            props.append(f"vector_columns = '{spec}'")
        if p.get("blob_columns"):
            props.append(
                "blob_columns = '" + ", ".join(p["blob_columns"]) + "'"
            )
        if p.get("scalar_indexes"):
            props.append(
                "scalar_indexes = '" + ", ".join(p["scalar_indexes"]) + "'"
            )
        if p.get("vector_indexes"):
            props.append(
                "vector_indexes = '"
                + ", ".join(sorted(p["vector_indexes"])) + "'"
            )
        with_clause = (
            "\nWITH (\n  " + ",\n  ".join(props) + "\n)" if props else ""
        )
        ddl = f"CREATE TABLE {ns}.{tbl} (\n  {cols}\n){with_clause}"
        return self.spark.createDataFrame([(ddl,)], "create_table string")

    def _h_show_stats(self, m) -> DataFrame:
        """`SHOW STATS <schema>.<table>` — per-column min/max/null-count
        aggregated from the manifest's fragment zone maps plus the O(1) row
        count: the statistics surface the reference feeds Trino's CBO
        (`LanceMetadata.java:561-588` getTableStatistics), answerable here
        with ZERO data scanned."""
        np_ = self._native(m.group("ns"), m.group("tbl"))
        if np_ is not None:
            # native twin: aggregate the per-file stats sidecars
            # (FRAGSTATS_LAYOUT) — write-time bounds, zero data scanned;
            # columns without sidecar coverage report unknown
            from .format.lance_native import (
                LanceNativeDataset, fragment_stats_for_scan,
                hll_ndv_from_hex, read_native_manifest)

            mm = read_native_manifest(np_)
            per_frag = [fragment_stats_for_scan(np_, mm, f)[0]
                        for f in mm.fragments]
            n_rows = LanceNativeDataset(np_).count_rows()
            rows = []
            for fld in mm.top_level_fields():
                c = fld.name
                stats = [pf[c] for pf in per_frag if c in pf]
                counted = mm.fragments and len(stats) == len(mm.fragments)
                bounded = counted and all(
                    "min" in st and "max" in st for st in stats)
                # NDV estimate from the sidecars' HLL registers
                # (lossless elementwise-max union across files; zero
                # data scanned) — reported when every non-all-null
                # file of the column carries registers
                # (a sidecar omits hll only when the column is all-NULL
                # in that file — zero distinct values to contribute —
                # or predates the register layout: the latter has
                # min/max recorded and must make NDV unknown)
                hexes = [st["hll"] for st in stats if "hll" in st]
                sketched = counted and hexes and all(
                    "hll" in st or "min" not in st for st in stats)
                rows.append((
                    c,
                    n_rows,
                    str(min(st["min"] for st in stats))
                    if bounded else None,
                    str(max(st["max"] for st in stats))
                    if bounded else None,
                    sum(st.get("nulls", 0) for st in stats)
                    if counted else None,
                    hll_ndv_from_hex(hexes) if sketched else None,
                ))
            return self.spark.createDataFrame(
                rows,
                "column string, row_count long, min_value string, "
                "max_value string, null_count long, ndv long",
            )
        ds = self.load(m.group("ns"), m.group("tbl"))
        frags = ds.manifest.fragments
        rows = []
        for f_ in ds.schema.fields:
            c = f_.name
            stats = [f.stats[c] for f in frags if f.stats and c in f.stats]
            # an all-NULL fragment records {'nulls': n} with no min/max —
            # null counts still aggregate, but min/max need every fragment
            # to carry bounds (a boundless fragment makes them unknown)
            counted = len(stats) == len(frags) and frags
            bounded = counted and all("min" in s and "max" in s for s in stats)
            # NDV from the zone maps' HLL registers (numeric/bool columns;
            # r10): same lossless elementwise-max union as the native
            # sidecars. A register-less fragment that still has bounds
            # (pre-register manifest, or a string column) makes NDV
            # unknown; all-null fragments contribute nothing.
            from .format.lance_native import hll_ndv_from_hex

            hexes = [s["hll"] for s in stats if "hll" in s]
            sketched = counted and hexes and all(
                "hll" in s or "min" not in s for s in stats)
            rows.append((
                c,
                ds.count_rows(),
                str(min(s["min"] for s in stats)) if bounded else None,
                str(max(s["max"] for s in stats)) if bounded else None,
                sum(s.get("nulls", 0) for s in stats) if counted else None,
                hll_ndv_from_hex(hexes) if sketched else None,
            ))
        return self.spark.createDataFrame(
            rows,
            "column string, row_count long, min_value string, "
            "max_value string, null_count long, ndv long",
        )

    def _h_create_tag(self, m) -> DataFrame:
        """`CREATE TAG <name> ON <schema>.<table> [AS OF VERSION <n>]` —
        an immutable named version alias (Lance tags); readable via
        `VERSION AS OF '<name>'`, pinned against VACUUM."""
        ns, tbl = m.group("ns"), m.group("tbl")
        np_ = self._native(ns, tbl)
        v = int(m.group("v")) if m.group("v") else None
        if np_ is not None:
            from .format.lance_native import native_create_tag

            tv = native_create_tag(np_, m.group("tag"), v)
            return self._status(
                f"tagged {ns}.{tbl} v{tv} as {m.group('tag')!r} (native)")
        ds = self.load(ns, tbl)
        ds.create_tag(m.group("tag"), v)
        return self._status(
            f"tagged {ns}.{tbl} v{v if v is not None else ds.version} "
            f"as {m.group('tag')!r}"
        )

    def _h_drop_tag(self, m) -> DataFrame:
        ns, tbl = m.group("ns"), m.group("tbl")
        np_ = self._native(ns, tbl)
        if np_ is not None:
            from .format.lance_native import native_delete_tag

            native_delete_tag(np_, m.group("tag"))
            return self._status(
                f"dropped tag {m.group('tag')!r} on {ns}.{tbl} (native)")
        self.load(ns, tbl).delete_tag(m.group("tag"))
        return self._status(f"dropped tag {m.group('tag')!r} on {ns}.{tbl}")

    def _h_show_tags(self, m) -> DataFrame:
        np_ = self._native(m.group("ns"), m.group("tbl"))
        if np_ is not None:
            from .format.lance_native import native_list_tags

            tags = native_list_tags(np_)
        else:
            tags = self.load(m.group("ns"), m.group("tbl")).tags()
        return self.spark.createDataFrame(
            sorted(tags.items()), "tag string, version long"
        )

    def _h_restore(self, m) -> DataFrame:
        """`RESTORE TABLE <schema>.<table> TO VERSION <n>` — republishes the
        old snapshot (schema AND rows) as a new commit on either plane
        (history preserved; one manifest write, no data movement)."""
        ns, tbl = m.group("ns"), m.group("tbl")
        np_ = self._native(ns, tbl)
        if np_ is not None:
            from .format.lance_native import native_restore

            v = native_restore(np_, int(m.group("v")))
            return self._status(
                f"restored {ns}.{tbl} to v{m.group('v')} as v{v} (native)")
        ds = self.load(ns, tbl).restore(int(m.group("v")))
        return self._status(
            f"restored {ns}.{tbl} to v{m.group('v')} as v{ds.version}"
        )

    def _h_table_changes(self, m) -> DataFrame:
        """`TABLE CHANGES <schema>.<table> FROM <v1> TO <v2>` — the CDC read
        (format/dataset.py table_changes): rows inserted/deleted in the
        version range, tagged _change_type."""
        from .format.dataset import table_changes

        path = self.table_path(m.group("ns"), m.group("tbl"))
        return table_changes(
            self.spark, path, int(m.group("v1")), int(m.group("v2"))
        )

    def _h_vector_search(self, m) -> DataFrame:
        """`VECTOR SEARCH <schema>.<table> (<col>) USING <schema>.<queries>
        [TOP <k>] [NPROBE <n>]` — index-backed ANN through the SQL surface:
        the queries table supplies (query_id, <col>) rows; the result is
        (query_id, <col's id columns...>, cosine) from the persisted IVF
        index (format/vector_index.py). The id columns are every non-vector
        column of the indexed table."""
        ns, tbl, col = m.group("ns"), m.group("tbl"), m.group("col")
        qns, qtbl = m.group("qns"), m.group("qtbl")
        k = int(m.group("k") or 5)
        nprobe = int(m.group("nprobe") or 2)
        prefilter = None
        if m.group("fcol"):
            prefilter = (m.group("fcol"), _prefilter_vals(m.group("fvals")))
        np_ = self._native(ns, tbl)
        if np_ is not None:
            # NATIVE tables get LIVE-SNAPSHOT semantics (r10): the index
            # accelerates its covered fragments, an exact arm covers
            # appended-after-build fragments, stale hits (deleted rows /
            # compacted fragments) are dropped — SQL users never see
            # stale ANN. WHERE prefilter is TRUE-prefilter (allowed sets
            # computed before any top-k; scalar indexes compose).
            from .format.lance_native import (
                VECTOR_FAMILIES, latest_native_index,
                native_hnsw_search_fresh,
                native_ivf_hnsw_search_fresh, native_spark_schema,
                native_vector_search_fresh, read_native_fragment,
                read_native_manifest)

            qnp = self._native(qns, qtbl)
            qdf = (self._native_df(qnp) if qnp is not None
                   else self.load(qns, qtbl).to_df(self.spark))
            qrows = qdf.select("query_id", col).limit(4097).collect()
            if len(qrows) > 4096:
                raise CatalogError(
                    "VECTOR SEARCH query set exceeds 4096 rows — batch it")
            qids = [r["query_id"] for r in qrows]
            qvecs = [[float(x) for x in r[col]] for r in qrows]
            # family routing (r14): the NEWEST sidecar on the column
            # wins — a later HNSW/IVF_HNSW build supersedes an earlier
            # IVF for SQL search routing (and vice versa); the graph
            # families emit cosine, IVF_PQ emits l2_distance
            newest = latest_native_index(np_, col, VECTOR_FAMILIES)
            fam = newest.family if newest is not None else "ivf_pq"
            if fam == "hnsw":
                res = native_hnsw_search_fresh(
                    np_, col, qvecs, k=k, spark=self.spark,
                    prefilter=prefilter)
                for r in res:
                    r["distances"] = r.pop("sims")
                score_name = "cosine"
            elif fam == "ivf_hnsw":
                res = native_ivf_hnsw_search_fresh(
                    np_, col, qvecs, k=k, nprobe=nprobe,
                    spark=self.spark, prefilter=prefilter)
                for r in res:
                    r["distances"] = r.pop("sims")
                score_name = "cosine"
            else:
                res = native_vector_search_fresh(
                    np_, col, qvecs, k=k, nprobe=nprobe,
                    spark=self.spark, prefilter=prefilter)
                score_name = "l2_distance"
            live = read_native_manifest(np_)
            id_fields = [f for f in native_spark_schema(live).fields
                         if f.name != col]
            # resolve the k*Q neighbor addresses to id columns: one
            # bounded preselected read per touched fragment
            need: dict[int, set] = {}
            for r in res:
                for a in r["neighbors"]:
                    need.setdefault(a >> 32, set()).add(a & 0xFFFFFFFF)
            frag_by_id = {f.id: f for f in live.fragments}
            vals_by_addr: dict[int, tuple] = {}
            for fid, rows_ in need.items():
                sel = sorted(rows_)
                tbl_ = read_native_fragment(
                    np_, frag_by_id[fid], live,
                    columns=[f.name for f in id_fields],
                    preselected=sel)
                cols_ = [tbl_.column(f.name).to_pylist()
                         for f in id_fields]
                for j, ridx in enumerate(sel):
                    vals_by_addr[(fid << 32) | ridx] = tuple(
                        c[j] for c in cols_)
            out = []
            for qi, r in enumerate(res):
                for a, d in zip(r["neighbors"], r["distances"]):
                    out.append((qids[qi], *vals_by_addr[a], float(d)))
            from pyspark.sql.types import (
                DoubleType, StructField, StructType)

            qid_t = qdf.schema["query_id"].dataType
            schema = StructType(
                [StructField("query_id", qid_t)]
                + [StructField(f.name, f.dataType) for f in id_fields]
                + [StructField(score_name, DoubleType())])
            return self.spark.createDataFrame(out, schema)
        ds = self.load(ns, tbl)
        queries = self.load(qns, qtbl).to_df(self.spark).select(
            "query_id", col
        )
        id_cols = [
            f.name for f in ds.schema.fields if f.name != col
        ]
        return ds.vector_search(
            self.spark, col, queries, k=k, nprobe=nprobe, id_columns=id_cols,
            prefilter=prefilter,
        )

    def _h_history(self, m) -> DataFrame:
        """`DESCRIBE HISTORY <schema>.<table>` — the version log (Delta-style
        history): one row per retained version with commit time + operation."""
        path = self.table_path(m.group("ns"), m.group("tbl"))
        rows = []
        import json as _json

        np_ = self._native(m.group("ns"), m.group("tbl"))
        if np_ is not None:
            from .format.lance_native import (
                list_native_versions, read_native_manifest)

            for v in sorted(list_native_versions(np_)):
                mf = read_native_manifest(np_, v)
                rows.append((
                    v, "native-commit",
                    int(mf.timestamp_s * 1000)
                    if mf.timestamp_s is not None else None,
                    sum(f.physical_rows or 0 for f in mf.fragments),
                    len(mf.fragments), None, None,
                ))
            return self.spark.createDataFrame(
                rows,
                "version int, operation string, timestamp_ms long, "
                "total_rows long, n_fragments int, read_version int, "
                "commit_metadata string",
            )
        for v in LanceDataset.open(path).versions():
            mf = read_manifest(path, v)
            rows.append(
                (
                    v,
                    mf.operation,
                    mf.timestamp_ms,
                    mf.total_rows,
                    len(mf.fragments),
                    mf.read_version,
                    _json.dumps(mf.commit_metadata, sort_keys=True)
                    if mf.commit_metadata else None,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version int, operation string, timestamp_ms long, "
            "total_rows long, n_fragments int, read_version int, "
            "commit_metadata string",
        )

    def _h_vacuum(self, m) -> DataFrame:
        """Maintenance: `VACUUM <schema>.<table> [RETAIN n VERSIONS]` — drop
        old manifests and unreferenced files (point of no return)."""
        keep = int(m.group("keep")) if m.group("keep") else 1
        np_ = self._native(m.group("ns"), m.group("tbl"))
        if np_ is not None:
            from .format.lance_native import native_cleanup_old_versions

            stats = native_cleanup_old_versions(np_, keep_versions=keep)
            return self._status(
                f"vacuumed {m.group('ns')}.{m.group('tbl')}: "
                f"{stats} (native)")
        stats = LanceDataset.vacuum(self.table_path(m.group("ns"), m.group("tbl")), keep)
        return self._status(
            f"vacuumed {m.group('ns')}.{m.group('tbl')}: {stats}"
        )

    def _h_count_star(self, m) -> DataFrame:
        # A8: O(1) from the manifest, zero fragments scanned. Guard: the
        # route pattern only matches bare, unfiltered, ungrouped COUNT(*).
        alias = m.group("alias") or "count"
        np_ = self._native(m.group("ns"), m.group("tbl"))
        if np_ is not None:
            from .format.lance_native import LanceNativeDataset

            return self.spark.createDataFrame(
                [(LanceNativeDataset(np_).count_rows(),)], f"{alias} long")
        ds = self.load(m.group("ns"), m.group("tbl"))
        return self.spark.createDataFrame(
            [(ds.count_rows(),)], f"{alias} long"
        )

    _ROUTES = [
        (
            rf"CREATE\s+SCHEMA\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<ns>{_NSID})$",
            _h_create_schema,
        ),
        (
            rf"DROP\s+SCHEMA\s+(?P<ie>IF\s+EXISTS\s+)?(?P<ns>{_NSID})$",
            _h_drop_schema,
        ),
        (r"SHOW\s+SCHEMAS$", _h_show_schemas),
        (
            rf"SHOW\s+INDEXES\s+ON\s+(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})$",
            _h_show_indexes,
        ),
        (rf"SHOW\s+TABLES(?:\s+IN\s+(?P<ns>{_NSID}))?$", _h_show_tables),
        (
            rf"CREATE\s+(?P<replace>OR\s+REPLACE\s+)?"
            rf"(?P<native>NATIVE\s+)?TABLE\s+"
            rf"(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})"
            rf"\s+AS\s+(?P<select>.+)$",
            _h_create_table,
        ),
        (
            rf"CREATE\s+TABLE\s+(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})\s*"
            rf"\((?P<cols>.+)\)$",
            _h_create_table_columns,
        ),
        (
            rf"MERGE\s+INTO\s+(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})"
            rf"(?:\s+(?:AS\s+)?t)?\s+USING\s+(?P<src>\(.*?\)|\S+)"
            rf"(?:\s+(?:AS\s+)?(?:s|src))?\s+ON\s+(?P<on>.+?)"
            rf"\s+(?P<whens>WHEN\s+.+)$",
            _h_merge,
        ),
        (
            rf"DROP\s+TABLE\s+(?P<ie>IF\s+EXISTS\s+)?"
            rf"(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})$",
            _h_drop_table,
        ),
        (
            rf"DESC(?:RIBE)?\s+(?:TABLE\s+)?(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})$",
            _h_describe,
        ),
        (
            rf"INSERT\s+INTO\s+(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})\s+"
            rf"(?P<select>SELECT\s+.+|VALUES\s+.+)$",
            _h_insert,
        ),
        (
            rf"DELETE\s+FROM\s+(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})\s+"
            rf"WHERE\s+(?P<pred>.+)$",
            _h_delete,
        ),
        (
            rf"UPDATE\s+(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})\s+SET\s+"
            rf"(?P<sets>.+?)(?:\s+WHERE\s+(?P<pred>.+))?$",
            _h_update,
        ),
        (
            rf"SELECT\s+COUNT\s*\(\s*\*\s*\)(?:\s+AS\s+(?P<alias>{_IDENT}))?\s+"
            rf"FROM\s+(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})$",
            _h_count_star,
        ),
        (
            rf"OPTIMIZE\s+(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})"
            rf"(?:\s+TARGET\s+(?P<target>\d+)\s+ROWS)?"
            rf"(?:\s+SORT\s+BY\s+(?P<sort>{_IDENT}(?:\s*,\s*{_IDENT})*)"
            rf"|\s+ZORDER\s+BY\s+\(?\s*(?P<zorder>{_IDENT}(?:\s*,\s*{_IDENT})*)\s*\)?)?$",
            _h_optimize,
        ),
        (
            rf"DESC(?:RIBE)?\s+HISTORY\s+(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})$",
            _h_history,
        ),
        (
            rf"CREATE\s+INDEX\s+ON\s+(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})"
            rf"\s*\(\s*(?P<col>{_IDENT})\s*\)$",
            _h_create_index,
        ),
        (
            rf"DROP\s+(?:(?P<vec>VECTOR)\s+|(?P<fts>FTS)\s+)?INDEX\s+ON\s+"
            rf"(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})"
            rf"\s*\(\s*(?P<col>{_IDENT})\s*\)$",
            _h_drop_index,
        ),
        (
            rf"CREATE\s+BITMAP\s+INDEX\s+ON\s+"
            rf"(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})"
            rf"\s*\(\s*(?P<col>{_IDENT})\s*\)$",
            _h_create_bitmap_index,
        ),
        (
            rf"CREATE\s+NGRAM\s+INDEX\s+ON\s+"
            rf"(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})"
            rf"\s*\(\s*(?P<col>{_IDENT})\s*\)$",
            _h_create_ngram_index,
        ),
        (
            rf"CREATE\s+FTS\s+INDEX\s+ON\s+"
            rf"(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})"
            rf"\s*\(\s*(?P<col>{_IDENT})\s*\)"
            rf"(?:\s+WITH\s*\(\s*analyzer\s*=\s*"
            rf"'(?P<analyzer>[a-z0-9\-]+)'\s*\))?$",
            _h_create_fts_index,
        ),
        (
            rf"FTS\s+SEARCH\s+(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})"
            rf"\s*\(\s*(?P<col>{_IDENT})\s*\)"
            rf"\s+MATCHING\s+'(?P<q>[^']*)'"
            rf"(?:\s+TOP\s+(?P<k>\d+))?"
            rf"(?:\s+WHERE\s+(?P<fcol>{_IDENT})\s+"
            rf"(?:IN|HAS\s+ANY)\s*"
            rf"\(\s*(?P<fvals>(?:'[^']*'|-?\d+)"
            rf"(?:\s*,\s*(?:'[^']*'|-?\d+))*)\s*\))?$",
            _h_fts_search,
        ),
        (
            rf"ALTER\s+TABLE\s+(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})"
            rf"\s+ADD\s+COLUMNS?\s+\(?\s*(?P<col>{_IDENT})\s+"
            rf"(?P<dtype>[A-Za-z_]+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?"
            rf"(?:\s*<[^>]+>)?)\s*\)?$",
            _h_alter_add_column,
        ),
        (
            rf"ALTER\s+TABLE\s+(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})"
            rf"\s+DROP\s+COLUMNS?\s+\(?\s*(?P<col>{_IDENT})\s*\)?$",
            _h_alter_drop_column,
        ),
        (
            rf"ALTER\s+TABLE\s+(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})"
            rf"\s+RENAME\s+COLUMN\s+(?P<old>{_IDENT})\s+TO\s+"
            rf"(?P<new>{_IDENT})$",
            _h_alter_rename_column,
        ),
        (
            rf"CREATE\s+VECTOR\s+INDEX\s+ON\s+(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})"
            rf"\s*\(\s*(?P<col>{_IDENT})\s*\)"
            rf"(?:\s+USING\s+(?P<kind>IVF_HNSW|IVF_FLAT|IVF_PQ|HNSW))?"
            rf"(?:\s+WITH\s*\(\s*n_cells\s*=\s*(?P<ncells>\d+)\s*\))?$",
            _h_create_vector_index,
        ),
        (
            rf"RESTORE\s+TABLE\s+(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})"
            rf"\s+TO\s+VERSION\s+(?P<v>\d+)$",
            _h_restore,
        ),
        (
            rf"CREATE\s+TAG\s+(?P<tag>[A-Za-z0-9][A-Za-z0-9._-]*)\s+ON\s+"
            rf"(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})"
            rf"(?:\s+AS\s+OF\s+VERSION\s+(?P<v>\d+))?$",
            _h_create_tag,
        ),
        (
            rf"DROP\s+TAG\s+(?P<tag>[A-Za-z0-9][A-Za-z0-9._-]*)\s+ON\s+"
            rf"(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})$",
            _h_drop_tag,
        ),
        (
            rf"SHOW\s+TAGS\s+(?:ON\s+|IN\s+)?(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})$",
            _h_show_tags,
        ),
        (
            rf"SHOW\s+STATS\s+(?:FOR\s+)?(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})$",
            _h_show_stats,
        ),
        (
            rf"SHOW\s+CREATE\s+TABLE\s+(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})$",
            _h_show_create,
        ),
        (
            rf"TABLE\s+CHANGES\s+(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})"
            rf"\s+FROM\s+(?P<v1>\d+)\s+TO\s+(?P<v2>\d+)$",
            _h_table_changes,
        ),
        (
            rf"VECTOR\s+SEARCH\s+(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})"
            rf"\s*\(\s*(?P<col>{_IDENT})\s*\)"
            rf"\s+USING\s+(?P<qns>{_NSID})\.(?P<qtbl>{_IDENT})"
            rf"(?:\s+TOP\s+(?P<k>\d+))?"
            rf"(?:\s+NPROBE\s+(?P<nprobe>\d+))?"
            rf"(?:\s+WHERE\s+(?P<fcol>{_IDENT})\s+"
            rf"(?:IN|HAS\s+ANY)\s*"
            rf"\(\s*(?P<fvals>(?:'[^']*'|-?\d+)(?:\s*,\s*(?:'[^']*'|-?\d+))*)\s*\))?$",
            _h_vector_search,
        ),
        (
            rf"VACUUM\s+(?P<ns>{_NSID})\.(?P<tbl>{_IDENT})"
            rf"(?:\s+RETAIN\s+(?P<keep>\d+)\s+VERSIONS?)?$",
            _h_vacuum,
        ),
    ]

    # --- SELECT rewriting --------------------------------------------------
    # Identifiers in table refs may be backtick-quoted (Spark's quoting);
    # quoted parts are unwrapped before namespace resolution. The schema
    # position admits `$` (parent-prefix mode's flattened level separator).
    _QIDENT = rf"(?:`[^`]+`|{_IDENT})"
    _QNSID = rf"(?:`[^`]+`|{_NSID})"
    _TABLE_REF = re.compile(
        rf"\b(?P<kw>FROM|JOIN)\s+(?P<ns>{_QNSID})\.(?P<tbl>{_QIDENT})"
        rf"(?:\s+FOR)?"
        rf"(?:\s+(?P<kind>VERSION|TIMESTAMP)\s+AS\s+OF\s+"
        rf"(?P<val>'[^']*'|[\w.:+-]+))?",
        re.IGNORECASE,
    )
    # String literals ('' = escaped quote, per ANSI/Spark) and double-quoted
    # spans. Masked before table-ref rewriting so a literal like
    # 'see FROM s.t' can never be rewritten into a temp-view reference.
    _LITERAL = re.compile(r"'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"")
    _MASK = re.compile(r"'\x00(\d+)\x00'")

    def _select(self, q: str) -> DataFrame:
        """Rewrite `<schema>.<table> [VERSION|TIMESTAMP AS OF ...]` refs into
        pinned-snapshot temp views (snapshot isolation: the version is chosen
        here, at planning time — `LanceTableHandle.java:48`), then hand the
        query to Spark SQL, which supplies the whole relational surface
        (SURVEY §2B: the reference delegates identically to Trino).

        String literals are masked with opaque placeholders before the
        rewrite and restored after, so table references only match in real
        SQL positions. A masked placeholder is itself a quoted token, so a
        time-travel value (`TIMESTAMP AS OF '<ts>'`) still matches — it is
        unmasked before parsing.

        Statistics feed (SURVEY A9, `LanceMetadata.java:561-588`
        getTableStatistics → engine CBO): a table whose manifest-estimated
        size is at or below the session's autoBroadcastJoinThreshold is
        registered with a broadcast hint, so joins against it plan as
        broadcast-hash joins even where Spark's file-size heuristics cannot
        see through the view. Disable with ``stats_broadcast=False``."""
        literals: list[str] = []

        def mask(m: re.Match) -> str:
            literals.append(m.group(0))
            return f"'\x00{len(literals) - 1}\x00'"

        def unmask(s: str) -> str:
            return self._MASK.sub(lambda m: literals[int(m.group(1))], s)

        def repl(m: re.Match) -> str:
            ns = m.group("ns").strip("`")
            tbl = m.group("tbl").strip("`")
            kind, val = m.group("kind"), m.group("val")
            if val is not None:
                val = unmask(val)
            np_ = self._native(ns, tbl)
            if np_ is not None:
                if kind is None:
                    df = self._native_df(np_)
                elif kind.upper() == "VERSION":
                    bare = (val or "").strip("'")
                    df = (self._native_df(np_, version=int(bare))
                          if bare.lstrip("-").isdigit()
                          else self._native_df(np_, tag=bare))
                else:
                    df = self._native_df(np_, ts_ms=_parse_ts_ms(val))
                self._view_ids += 1
                safe = re.sub(r"\W", "_", f"{ns}_{tbl}")
                view = f"_lance_{safe}_{self._view_ids}"
                df.createOrReplaceTempView(view)
                return f"{m.group('kw')} {view}"
            try:
                if kind is None:
                    ds = self.load(ns, tbl)
                elif kind.upper() == "VERSION":
                    # a quoted, non-numeric value is a TAG name (Lance tags:
                    # immutable version aliases)
                    bare = val.strip("'")
                    ds = (
                        self.load(ns, tbl, version=int(bare))
                        if bare.lstrip("-").isdigit()
                        else self.load(ns, tbl, tag=bare)
                    )
                else:
                    ds = self.load(ns, tbl, asof_timestamp_ms=_parse_ts_ms(val))
            except CatalogError:
                return m.group(0)  # not ours — leave for Spark to resolve
            self._view_ids += 1
            # sanitize: `$`-joined parent-prefix schemas (and any quoted
            # chars) must yield a plain-identifier view name
            safe = re.sub(r"\W", "_", f"{ns}_{tbl}")
            view = f"_lance_{safe}_{self._view_ids}"
            df = ds.to_df(self.spark)
            if (
                self.stats_broadcast
                and 0 <= ds.estimated_size_bytes() <= self._broadcast_threshold()
            ):
                df = F.broadcast(df)
            df.createOrReplaceTempView(view)
            return f"{m.group('kw')} {view}"

        masked = self._LITERAL.sub(mask, q)
        return self.spark.sql(unmask(self._TABLE_REF.sub(repl, masked)))

    def _broadcast_threshold(self) -> int:
        if self.broadcast_threshold_bytes is not None:
            return self.broadcast_threshold_bytes
        return LanceDataset.autobroadcast_threshold_bytes(self.spark)

    def _status(self, msg: str) -> DataFrame:
        return self.spark.createDataFrame([(msg,)], "status string")


def _parse_ts_ms(val: str) -> int:
    v = val.strip().strip("'")
    if re.fullmatch(r"\d+", v):
        return int(v)
    dt = datetime.fromisoformat(v)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def _split_top_level(s: str) -> list[str]:
    """Split on commas not inside parens/quotes (for UPDATE SET lists)."""
    out, depth, quote, start = [], 0, None, 0
    for i, ch in enumerate(s):
        if quote:
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(s[start:i])
            start = i + 1
    out.append(s[start:])
    return [p for p in (x.strip() for x in out) if p]

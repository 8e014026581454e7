"""analytics_scan: SQL templates over lineitem and orders on every
scan entry point, each checked against the same SQL on vanilla Spark over
the source parquet.

The scan path does nearly all the work here: the Python DataSource bridge,
page decode, zone-map and btree pruning, and the JVM catalog's delegated
parquet scan. Commit, DML and index search do none.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import (
    Op, Sample, WriteMeter, dir_bytes, geomean, median, rows_equal,
)

SIZES = {"full": 30_000, "tiny": 4_000}  # lineitem rows
SCHEMA = "tpch"
TABLES = ("lineitem", "orders")
COPIES = ("own", "v1", "v2")  # own-format, native FILE v1, native FILE v2
ENTRIES = ("jvm", "cat", "to_df", "pyds")
# the copy format("lance") reads for each template: each copy has one
# template that reads every lineitem row (q1_agg, join, projection)
PYDS_COPY = {"q1_agg": "own", "count_star": "own", "join": "v1",
             "eq_btree": "v1", "version_as_of": "v1", "projection": "v2",
             "range_clustered": "v2", "limit10": "v2"}
EPOCH = datetime.date(1992, 1, 1)


def _day(n: int) -> str:
    return (EPOCH + datetime.timedelta(days=int(n))).isoformat()


# name -> (tables, sql, full scan?, selective?, time travel?). ``{li}``,
# ``{o}`` are the table references of the entry point.
TEMPLATES = {
    "q1_agg": (("lineitem",), (
        "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS q, "
        "SUM(l_price_c) AS p, SUM(l_price_c * (100 - l_discount)) AS dp, "
        "COUNT(*) AS n FROM {li} WHERE l_shipdate <= DATE '{d}' "
        "GROUP BY l_returnflag, l_linestatus"), True, False, False),
    "range_clustered": (("lineitem",), (
        "SELECT COUNT(*) AS n, SUM(l_price_c) AS p FROM {li} "
        "WHERE l_orderkey BETWEEN {lo} AND {hi}"), False, True, False),
    "eq_btree": (("lineitem",), (
        "SELECT l_orderkey, l_linenumber, l_quantity FROM {li} "
        "WHERE l_partkey = {pk}"), False, True, False),
    "projection": (("lineitem",), (
        "SELECT l_suppkey, SUM(l_quantity) AS q FROM {li} "
        "WHERE l_suppkey < {s} GROUP BY l_suppkey"), True, False, False),
    "join": (("lineitem", "orders"), (
        "SELECT o.o_orderpriority, COUNT(*) AS n, SUM(l.l_price_c) AS p "
        "FROM {li} l JOIN {o} o ON l.l_orderkey = o.o_orderkey "
        "WHERE o.o_orderstatus = '{st}' AND o.o_orderdate < DATE '{d}' "
        "GROUP BY o.o_orderpriority"), False, False, False),
    "count_star": (("lineitem",), "SELECT COUNT(*) AS n FROM {li}",
                   False, False, False),
    "limit10": (("lineitem",), (
        "SELECT l_orderkey, l_linenumber FROM {li} "
        "WHERE l_returnflag = '{f}' LIMIT 10"), False, False, False),
    "version_as_of": (("lineitem",), (
        "SELECT COUNT(*) AS n, SUM(l_price_c) AS p FROM {li} "
        "WHERE l_quantity > {q}"), False, False, True),
}
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def generate(rng, n_lineitem: int) -> dict[str, pa.Table]:
    """TPC-H-shaped tables from the seed: lineitem clustered on
    l_orderkey, 1-7 lines per order, integer money columns (cents) so
    every engine's sums agree exactly."""
    n_orders = max(8, n_lineitem // 4)
    odate = rng.integers(0, 2400, n_orders)
    orders = pa.table({
        "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, max(2, n_orders // 10) + 1, n_orders),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice_c": rng.integers(100_000, 50_000_000, n_orders),
        "o_orderdate": pa.array(
            np.datetime64(EPOCH) + odate.astype("timedelta64[D]")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)[
        :n_lineitem]
    n = len(okey)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines])[:n]
    ship = np.repeat(odate, lines)[:n] + rng.integers(1, 122, n)
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(1, max(2, n // 30) + 1, n),
        "l_suppkey": rng.integers(1, max(2, n // 600) + 1, n),
        "l_linenumber": lineno.astype(np.int64),
        "l_quantity": rng.integers(1, 51, n),
        "l_price_c": rng.integers(90_000, 10_500_000, n),
        "l_discount": rng.integers(0, 11, n),
        "l_tax": rng.integers(0, 9, n),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(
            np.datetime64(EPOCH) + ship.astype("timedelta64[D]")),
    })
    return {"lineitem": lineitem, "orders": orders}


class Analytics:
    name = "analytics_scan"
    ROUND_S = 13.0  # nominal seconds of one round (4 CPUs, local[4])

    def __init__(self, ctx, scale: str):
        self.ctx = ctx
        self.spark = ctx.spark
        self.scale = scale
        self.rng = np.random.default_rng([ctx.seed, 1])
        self.root = os.path.join(ctx.work, f"analytics-{scale}")
        self.provenance: dict = {}

    # --------------------------------------------------------------- setup
    def path(self, copy: str, table: str) -> str:
        return os.path.join(self.root, copy, SCHEMA, f"{table}.lance")

    def setup(self) -> None:
        from lance_trino_spark.catalog import LanceCatalog
        from lance_trino_spark.format.dataset import LanceDataset
        from lance_trino_spark.format.lance_native import (
            append_native_rows, write_native_dataset,
            write_native_scalar_index,
        )

        spark, rng = self.spark, self.rng
        self.tables = generate(rng, SIZES[self.scale])
        li = self.tables["lineitem"]
        n = li.num_rows
        self.n_lineitem = n
        # the time-travel template reads the version holding the first
        # half of the orders
        self.cut = int(li.column("l_orderkey")[n // 2].as_py())
        frag_rows = max(500, n // 4)
        src = os.path.join(self.root, "src")
        os.makedirs(src)
        for t, tbl in self.tables.items():
            pq.write_table(tbl, os.path.join(src, f"{t}.parquet"))
            spark.read.parquet(os.path.join(src, f"{t}.parquet")) \
                .createOrReplaceTempView(f"pq_{t}")
        for c in COPIES:
            os.makedirs(os.path.join(self.root, c, SCHEMA))
        self.meter = WriteMeter([os.path.join(self.root, c) for c in COPIES])

        def df(t, where=None):
            d = spark.read.parquet(os.path.join(src, f"{t}.parquet"))
            return d.where(where) if where else d

        # own-format: version 1 = the first half, version 2 = all rows
        first, rest = f"l_orderkey <= {self.cut}", f"l_orderkey > {self.cut}"
        for t in TABLES:
            w = first if t == "lineitem" else None
            LanceDataset.create(self.path("own", t), df(t, w),
                                max_rows_per_file=frag_rows)
        LanceDataset.open(self.path("own", "lineitem")).append(
            df("lineitem", rest), max_rows_per_file=frag_rows)
        LanceDataset.open(self.path("own", "lineitem")).create_scalar_index(
            spark, "l_partkey")
        # native copies, written driver-side one fragment (= one version)
        # at a time: the first half is complete at version n_first
        n_first = li.column("l_orderkey").to_numpy().searchsorted(
            self.cut, side="right")
        chunks = [(a, min(a + frag_rows, n_first))
                  for a in range(0, n_first, frag_rows)]
        chunks += [(a, min(a + frag_rows, n))
                   for a in range(n_first, n, frag_rows)]
        self.tt_version = {"own": 1, "v1": len(
            [c for c in chunks if c[1] <= n_first])}
        self.tt_version["v2"] = self.tt_version["v1"]
        for c, fv in (("v1", 1), ("v2", 2)):
            for t in TABLES:
                parts = chunks if t == "lineitem" else [
                    (0, self.tables[t].num_rows)]
                for i, (a, b) in enumerate(parts):
                    cols = self.tables[t].slice(a, b - a).to_pydict()
                    (write_native_dataset if i == 0 else append_native_rows)(
                        self.path(c, t), cols, file_version=fv)
            write_native_scalar_index(self.path(c, "lineitem"), "l_partkey",
                                      spark=spark)
        self.meter.step()
        self.rows_written_bytes = len(COPIES) * sum(
            t.nbytes for t in self.tables.values())
        spark.conf.set("spark.sql.catalog.lance_jvm",
                       "io.lancespark.LanceJvmCatalog")
        spark.conf.set("spark.sql.catalog.lance_jvm.root",
                       os.path.join(self.root, "own"))
        self.catalog = LanceCatalog(spark, os.path.join(self.root, "own"))
        self._params()

    def _params(self) -> None:
        rng, li = self.rng, self.tables["lineitem"]
        n_orders = self.tables["orders"].num_rows
        ok = li.column("l_orderkey").to_numpy()
        pool = {}
        pool["q1_agg"] = [{"d": _day(d)} for d in rng.integers(2000, 2400, 4)]
        span = max(2, n_orders // 200)
        los = rng.integers(1, n_orders - span, 4)
        pool["range_clustered"] = [{"lo": int(a), "hi": int(a + span)}
                                   for a in los]
        pool["eq_btree"] = [{"pk": int(p)} for p in rng.choice(
            li.column("l_partkey").to_numpy(), 4)]
        n_supp = int(li.column("l_suppkey").to_numpy().max())
        pool["projection"] = [{"s": int(s)} for s in rng.integers(
            max(2, n_supp // 4), n_supp + 1, 4)]
        pool["join"] = [{"st": "FOP"[int(s)], "d": _day(d)} for s, d in
                        zip(rng.integers(0, 3, 4),
                            rng.integers(1100, 1300, 4))]
        pool["count_star"] = [{}]
        pool["limit10"] = [{"f": f} for f in ("A", "N", "R")]
        pool["version_as_of"] = [{"q": int(q)} for q in rng.integers(5, 45, 4)]
        self.pool = pool
        flags = li.column("l_returnflag").to_numpy(zero_copy_only=False)
        lineno = li.column("l_linenumber").to_numpy()
        self.limit_rows = {
            f: set(zip(ok[flags == f].tolist(), lineno[flags == f].tolist()))
            for f in ("A", "N", "R")}
        self.expected: dict = {}

    # ------------------------------------------------------------ requests
    def _refs(self, entry: str, copy: str, tables, tt: bool) -> dict:
        """Table references of one entry point; the DataFrame-based entry
        points register fresh temp views (a fresh load per query)."""
        from lance_trino_spark.format.dataset import LanceDataset

        spark = self.spark
        keys = {"lineitem": "li", "orders": "o"}
        version = self.tt_version[copy if entry == "pyds" else "own"] \
            if tt else None
        refs = {}
        for t in tables:
            k = keys[t]
            if entry == "jvm":
                refs[k] = f"lance_jvm.{SCHEMA}.{t}"
                if tt:
                    refs[k] += f" VERSION AS OF {version}"
            elif entry == "cat":
                refs[k] = f"{SCHEMA}.{t}" + (
                    f" VERSION AS OF {version}" if tt else "")
            elif entry == "parquet":
                refs[k] = f"pq_{t}"
                if tt:
                    refs[k] = (f"(SELECT * FROM pq_{t} "
                               f"WHERE l_orderkey <= {self.cut})")
            else:
                name = f"pb_{entry}_{copy}_{t}"
                if entry == "pyds":
                    r = spark.read.format("lance")
                    if version:
                        # each plane's documented time-travel option
                        r = r.option("versionAsOf" if copy == "own"
                                     else "version", str(version))
                    d = r.load(self.path(copy, t))
                else:
                    d = LanceDataset.open(self.path("own", t),
                                          version=version).to_df(spark)
                d.createOrReplaceTempView(name)
                refs[k] = name
        return refs

    def _query(self, entry: str, copy: str, tmpl: str, params: dict,
               info: dict):
        tables, sql, _full, _sel, tt = TEMPLATES[tmpl]

        def run():
            refs = self._refs(entry, copy, tables, tt)
            q = sql.format(**refs, **params)
            if entry == "cat":
                import time
                t = time.monotonic()
                frame = self.catalog.sql(q)
                info["plan_s"] = time.monotonic() - t
            else:
                frame = self.spark.sql(q)
            rows = [tuple(r) for r in frame.collect()]
            if tmpl == "range_clustered":
                info["matched"] = rows[0][0]
            elif tmpl == "eq_btree":
                info["matched"] = len(rows)
            return rows
        return run

    def _check(self, tmpl: str, key):
        def check(rows):
            if tmpl == "limit10":
                f = dict(key[1])["f"]
                return len(rows) == 10 and all(
                    tuple(r) in self.limit_rows[f] for r in rows)
            return rows_equal(rows, self.expected[key])
        return check

    def round(self, r: int) -> list[Op]:
        """Every template on every entry point, in seeded order: 32
        (template, entry point) pairs, each template's group between its
        two parquet twins. The mix of a round does not depend on the seed
        or on ``r``; only parameters and order do."""
        return self._ops(twins=2)

    def warmup(self) -> list[Op]:
        """A round with parameters of its own and one twin per template:
        every (template, entry point) pair compiles its plan once before
        the timed phase."""
        return self._ops(twins=1)

    def _ops(self, twins: int) -> list[Op]:
        ops = []
        order = list(TEMPLATES)
        self.rng.shuffle(order)
        for tmpl in order:
            pool = self.pool[tmpl]
            params = pool[int(self.rng.integers(0, len(pool)))]
            key = (tmpl, tuple(sorted(params.items())))
            _tables, _sql, full, sel, _tt = TEMPLATES[tmpl]

            def record(rows, key=key):
                self.expected[key] = rows
                return True

            def twin():
                return Op(tmpl, "parquet", self._query(
                    "parquet", "", tmpl, params, {}), record,
                    {"tmpl": tmpl}, reference=True)
            group = []
            for entry in ENTRIES:
                c = PYDS_COPY[tmpl] if entry == "pyds" else "own"
                layer = f"pyds.{c}" if entry == "pyds" else entry
                info = {"tmpl": tmpl, "entry": entry, "copy": c,
                        "full": full, "selective": sel}
                group.append(Op(f"{tmpl}@{entry}", layer, self._query(
                    entry, c, tmpl, params, info), self._check(tmpl, key),
                    info))
            self.rng.shuffle(group)
            # the twin runs first (it records the expected rows) and, in
            # a timed round, again after the group: the ratio's base
            ops += [twin(), *group] + [twin() for _ in range(twins - 1)]
        return ops

    def finish(self) -> tuple[bool, str]:
        return True, "read-only workload: every op was checked"

    # ------------------------------------------------------------- metrics
    def primaries(self) -> tuple[str, str]:
        return self.path("own", "lineitem"), self.path("v1", "lineitem")

    def end_to_end(self, timed: list[Sample]) -> dict:
        ratios = {}
        for tmpl in TEMPLATES:
            lance = [s.ms for s in timed if not s.reference
                     and s.info.get("tmpl") == tmpl]
            base = [s.ms for s in timed if s.reference
                    and s.info.get("tmpl") == tmpl]
            if lance and base:
                ratios[tmpl] = median(lance) / median(base)
        live = len(COPIES) * sum(t.nbytes for t in self.tables.values())
        on_disk = sum(dir_bytes(os.path.join(self.root, c)) for c in COPIES)
        self.provenance = {
            "rows": {t: v.num_rows for t, v in self.tables.items()},
            "bytes_on_disk": {c: dir_bytes(os.path.join(self.root, c))
                              for c in COPIES},
            "parquet_ratio_by_template": ratios,
        }
        return {
            "parquet_ratio": (geomean(ratios.values()),
                              "geomean over templates of Lance median / "
                              "parquet-twin median"),
            # no ANN request runs here: recall is vacuously complete
            "ann_recall_at_10": (1.0, "no ANN requests in this workload"),
            "write_amp": (self.meter.bytes / self.rows_written_bytes,
                          "bytes created by the fixture build / Arrow bytes "
                          "of the rows written (3 copies)"),
            "space_amp": (on_disk / live, "bytes on disk / Arrow bytes of "
                          "live rows (3 copies)"),
        }

    def layers(self, traced: list[Sample], cost) -> dict:
        out = {}
        jvm = [s for s in traced if s.layer == "jvm"]
        if jvm:
            out["jvm.query_ms"] = median([s.ms for s in jvm])
            full = [s for s in jvm if s.info.get("full")]
            if full:
                out["jvm.rows_per_s"] = (len(full) * self.n_lineitem
                                         / sum(s.ms for s in full) * 1000)
        pyds = [s for s in traced if s.layer.startswith("pyds.")]
        for c in COPIES:
            xs = [s.ms for s in pyds if s.layer == f"pyds.{c}"]
            if xs:
                out[f"pyds.{c}.query_ms"] = median(xs)
        full = [s for s in pyds if s.info.get("full")]
        if full:
            out["pyds.rows_per_s"] = (len(full) * self.n_lineitem
                                      / sum(s.ms for s in full) * 1000)
        sel = [s for s in pyds if s.info.get("selective")]
        if sel:
            out["prune.tasks_per_query"] = (
                sum(cost(s)["tasks"] for s in sel) / len(sel))
        # rows the parquet readers materialised per row the query matched
        read, returned = 0, 0
        for s in traced:
            if s.info.get("selective") and s.layer in ("jvm", "cat", "to_df"):
                read += cost(s)["input_records"]
                returned += s.info.get("matched", 0)
        if read and returned:
            out["prune.rows_read_per_row_returned"] = read / returned
        plans = [s.info["plan_s"] * 1000 for s in traced
                 if "plan_s" in s.info]
        if plans:
            out["router.plan_ms"] = median(plans)
        return out

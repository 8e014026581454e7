"""ingest_mutate: a seeded sequence of appends, DELETE/UPDATE/MERGE,
index extends, compactions and one streaming lifecycle against one native
dataset and one own-format dataset that start with the same doc rows.

Commit, encode, DML staging, index maintenance and compaction do the work
here. Every op is checked against an in-memory model (row counts after
every op, the full content at the end).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import (
    Op, Sample, WriteMeter, dir_bytes, geomean, median,
)

# initial rows, rows per append, rows per merge source, rows per stream run
SIZES = {"full": (2_000, 100, 6, 200), "tiny": (400, 20, 6, 30)}
DIM = 16
HOT = 300  # mutations target the most recent HOT live ids
SOURCES = ("web", "news", "wiki", "code", "forum")
COLS = ("id", "source", "text", "vec", "val")
SCHEMA = "id long, source string, text string, vec array<float>, val long"
MUTATIONS = ("append_native", "append_own", "delete_native",
             "update_native", "merge_native", "delete_own", "update_own",
             "merge_own", "extend_btree", "extend_fts", "extend_ivf")


class Ingest:
    name = "ingest_mutate"
    ROUND_S = 13.0  # nominal seconds of one round (4 CPUs, local[4])

    def __init__(self, ctx, scale: str):
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = np.random.default_rng([ctx.seed, 3])
        self.root = os.path.join(ctx.work, f"ingest-{scale}")
        self.nat = os.path.join(self.root, "docs-native.lance")
        self.own = os.path.join(self.root, "docs-own.lance")
        self.stream_target = os.path.join(self.root, "stream-native.lance")
        self.provenance: dict = {}
        self.n0, self.batch, self.n_merge, self.n_stream = SIZES[scale]

    # ------------------------------------------------------------- rows
    def _rows(self, ids) -> dict:
        rng, n = self.rng, len(ids)
        words = rng.integers(0, 400, (n, 6))
        return {
            "id": [int(i) for i in ids],
            "source": [SOURCES[int(s)] for s in rng.integers(0, 5, n)],
            "text": [" ".join(f"w{w}" for w in ws) for ws in words],
            "vec": [tuple(float(x) for x in v) for v in
                    rng.normal(size=(n, DIM)).astype(np.float32)],
            "val": [int(v) for v in rng.integers(0, 1_000_000, n)],
        }

    def _new_ids(self, n: int) -> list[int]:
        ids = list(range(self.next_id, self.next_id + n))
        self.next_id += n
        return ids

    @staticmethod
    def _table(rows: dict) -> pa.Table:
        return pa.table({
            "id": pa.array(rows["id"], pa.int64()),
            "source": rows["source"], "text": rows["text"],
            "vec": pa.array([list(v) for v in rows["vec"]],
                            pa.list_(pa.float32())),
            "val": pa.array(rows["val"], pa.int64()),
        })

    def _df(self, rows: dict):
        return self.spark.createDataFrame(
            self._table(rows).to_pandas(), SCHEMA)

    def _upsert(self, model: dict, rows: dict) -> None:
        for i, key in enumerate(rows["id"]):
            model[key] = tuple(rows[c][i] for c in COLS[1:])

    # ------------------------------------------------------------ setup
    def setup(self) -> None:
        from lance_trino_spark.format.dataset import LanceDataset
        from lance_trino_spark.format.lance_native import (
            create_native_dataset, ensure_native_fts_index,
            ensure_native_scalar_index, ensure_native_vector_index,
        )

        spark, ctx = self.spark, self.ctx
        os.makedirs(self.root)
        self.next_id = 0
        rows = self._rows(self._new_ids(self.n0))
        src = os.path.join(self.root, "src")
        os.makedirs(src)
        pq.write_table(self._table(rows), os.path.join(src, "docs.parquet"))
        self.meter = WriteMeter([self.nat, self.own, self.stream_target])
        df = spark.read.parquet(os.path.join(src, "docs.parquet"))
        # four base fragments; compaction merges the small fragments that
        # appends and merges leave (and every fragment carrying deletions)
        self.frag = max(100, self.n0 // 4)
        self.small = 4 * self.batch
        create_native_dataset(df, self.nat, fsl_columns={"vec": DIM},
                              rows_per_fragment=self.frag)
        LanceDataset.create(self.own, df, max_rows_per_file=self.frag)
        self.models = {"native": {}, "own": {}}
        for m in self.models.values():
            self._upsert(m, rows)
        self.builds = {}
        for fam, fn in (
                ("btree", lambda: ensure_native_scalar_index(
                    self.nat, "id", spark=spark)),
                ("fts", lambda: ensure_native_fts_index(
                    self.nat, "text", spark=spark)),
                ("ivf", lambda: ensure_native_vector_index(
                    self.nat, "vec", n_cells=4, nsub=4, spark=spark))):
            self.builds[fam] = ctx.build(fn)
        ds = LanceDataset.open(self.own).create_scalar_index(spark, "id")
        ds.create_vector_index(spark, "vec", n_cells=4, index_type="IVF_PQ",
                               pq_m=4)
        # the streaming source and its (empty) native target
        self.stream_src = os.path.join(self.root, "stream-src")
        srows = self._rows(range(10**9, 10**9 + self.n_stream))
        st = self._table(srows).drop(["vec"])
        half = self.n_stream // 2
        os.makedirs(self.stream_src)
        pq.write_table(st.slice(0, half),
                       os.path.join(self.stream_src, "part-0.parquet"))
        pq.write_table(st.slice(half),
                       os.path.join(self.stream_src, "part-1.parquet"))
        create_native_dataset(spark.read.parquet(self.stream_src).limit(0),
                              self.stream_target)
        self.stream_rows = 0
        self.twin = os.path.join(self.root, "parquet-twin")
        self.meter.step()
        self.meter.bytes = 0
        self.submitted_bytes = 0
        self.removed = {}

    # -------------------------------------------------------------- ops
    def _live(self, plane: str, n: int) -> list[int]:
        """``n`` live ids among the most recent rows: mutations hit fresh
        data, so the base fragments stay clean and each compaction merges
        the small recent fragments only."""
        keys = sorted(self.models[plane])[-HOT:]
        return [keys[int(i)] for i in
                self.rng.choice(len(keys), size=n, replace=False)]

    def _check_counts(self, kind: str, info: dict, submitted: int = 0):
        """Row counts of both planes and the stream target against the
        model; also books the bytes the op wrote and the files it removed."""
        from lance_trino_spark.format.dataset import LanceDataset
        from lance_trino_spark.format.lance_native import LanceNativeDataset

        def check(_result) -> bool:
            info["written"], info["removed"] = self.meter.step()
            self.removed[kind] = self.removed.get(kind, 0) + info["removed"]
            self.submitted_bytes += submitted
            return (LanceNativeDataset(self.nat).count_rows()
                    == len(self.models["native"])
                    and LanceDataset.open(self.own).count_rows()
                    == len(self.models["own"])
                    and LanceNativeDataset(self.stream_target).count_rows()
                    == self.stream_rows)
        return check

    def _op(self, kind: str) -> list[Op]:
        """The op of one kind, built against the model as it stands when
        the op runs (its parameters are drawn from the seeded generator
        in op order)."""
        from pyspark.sql import functions as F

        from lance_trino_spark.format.dataset import LanceDataset
        from lance_trino_spark.format import lance_native as ln
        from lance_trino_spark.operators import dml

        spark = self.spark
        plane = "own" if kind.endswith("_own") else "native"
        info: dict = {"plane": plane}

        if kind.startswith("append"):
            rows = self._rows(self._new_ids(self.batch))
            df = self._df(rows).cache()
            df.count()
            nbytes = self._table(rows).nbytes

            def run():
                if plane == "native":
                    df.write.format("lance").mode("append").save(self.nat)
                else:
                    LanceDataset.open(self.own).append(
                        df, maintain_indexes=True, spark=spark)
                self._upsert(self.models[plane], rows)
            twin = Op(kind, "parquet", lambda: df.write.mode("append")
                      .parquet(self.twin), lambda _r: True,
                      {"twin_of": kind}, reference=True)
            return [Op(kind, f"append.{plane}", run,
                       self._check_counts(kind, info, nbytes), info), twin]

        if kind.startswith(("delete", "update")):
            ids = self._live(plane, 3)
            cond = F.col("id").isin(ids)
            value = int(self.rng.integers(0, 1_000_000))

            def run():
                if kind == "delete_native":
                    ln.native_delete_where(spark, self.nat, cond)
                elif kind == "update_native":
                    ln.native_update_where(spark, self.nat, cond, {
                        "val": F.lit(value).cast("long")})
                elif kind == "delete_own":
                    dml.delete(LanceDataset.open(self.own), spark, cond)
                else:
                    dml.update(LanceDataset.open(self.own), spark,
                               {"val": F.lit(value).cast("long")}, cond)
                m = self.models[plane]
                for i in ids:
                    if kind.startswith("delete"):
                        del m[i]
                    else:
                        m[i] = m[i][:3] + (value,)
            nbytes = 0 if kind.startswith("delete") else (
                self._table({c: [self.models[plane][i][j - 1] if j else i
                                 for i in ids]
                             for j, c in enumerate(COLS)}).nbytes)
            return [Op(kind, f"dml.{plane}", run,
                       self._check_counts(kind, info, nbytes), info)]

        if kind.startswith("merge"):
            half = self.n_merge // 2
            rows = self._rows(self._live(plane, half)
                              + self._new_ids(self.n_merge - half))
            src = self._df(rows).cache()
            src.count()
            nbytes = self._table(rows).nbytes

            def run():
                if plane == "native":
                    ln.native_merge_into(spark, self.nat, src, on=["id"])
                else:
                    dml.merge(LanceDataset.open(self.own), spark, src,
                              on="id", matched_update={
                                  c: F.col(f"_src_{c}") for c in COLS[1:]},
                              insert_not_matched=True)
                self._upsert(self.models[plane], rows)
            return [Op(kind, f"dml.{plane}", run,
                       self._check_counts(kind, info, nbytes), info)]

        if kind.startswith("extend"):
            fam = kind.split("_", 1)[1]
            ensure = {
                "btree": lambda: ln.ensure_native_scalar_index(
                    self.nat, "id", spark=spark, incremental=True),
                "fts": lambda: ln.ensure_native_fts_index(
                    self.nat, "text", spark=spark, incremental=True),
                "ivf": lambda: ln.ensure_native_vector_index(
                    self.nat, "vec", spark=spark, incremental=True),
            }[fam]
            counts = self._check_counts(kind, info)

            def check(r):
                # covered now: a second ensure has nothing to do
                return counts(r) and ensure() is None
            return [Op(kind, f"index.{fam}", ensure, check, info)]

        if kind == "compact_native":
            def run():
                t = time.monotonic()
                ln.native_compact(self.nat, small_fragment_rows=self.small,
                                  spark=spark)
                info["compact_s"] = time.monotonic() - t
                t = time.monotonic()
                ln.native_cleanup_old_versions(
                    self.nat, keep_versions=1, debris_grace_seconds=0)
                info["cleanup_s"] = time.monotonic() - t
            return [Op(kind, "maint", run, self._check_counts(kind, info), info)]

        if kind == "compact_own":
            def run():
                t = time.monotonic()
                LanceDataset.open(self.own).compact(
                    spark, target_rows_per_file=self.frag)
                info["compact_s"] = time.monotonic() - t
                t = time.monotonic()
                LanceDataset.vacuum(self.own, keep_versions=1)
                info["cleanup_s"] = time.monotonic() - t
            return [Op(kind, "maint", run, self._check_counts(kind, info), info)]

        if kind == "stream":
            ckpt = os.path.join(self.root, f"ckpt-{self.ctx.next_op}")

            def run():
                (spark.readStream
                 .schema("id long, source string, text string, val long")
                 .option("maxFilesPerTrigger", 1)
                 .parquet(self.stream_src)
                 .writeStream.format("lance")
                 .option("appId", os.path.basename(ckpt))
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True)
                 .start(self.stream_target)
                 .awaitTermination(120))
                self.stream_rows += self.n_stream
            return [Op(kind, "stream", run, self._check_counts(kind, info), info)]
        raise ValueError(kind)

    def _sequence(self, kinds) -> list[Op]:
        """Ops are built lazily, right before they run, so each draws its
        parameters from the model as the earlier ops left it."""
        for kind in kinds:
            yield from self._op(kind)

    def round(self, r: int):
        kinds = list(MUTATIONS)
        self.rng.shuffle(kinds)
        if r == 0:
            kinds.insert(int(self.rng.integers(0, len(kinds) + 1)), "stream")
        # every len(MUTATIONS)-th op: compaction plus cleanup, both planes
        return self._sequence(kinds + ["compact_native", "compact_own"])

    def warmup(self):
        return self._sequence(list(MUTATIONS) + [
            "stream", "compact_native", "compact_own"])

    # ------------------------------------------------------------ finish
    def finish(self) -> tuple[bool, str]:
        """The full content of both planes against the model (every round
        ends with a compaction and cleanup of both), then, after one more
        index extend, the recall of the maintained IVF index against exact
        L2 over the live rows."""
        from lance_trino_spark.format.dataset import LanceDataset
        from lance_trino_spark.format import lance_native as ln

        spark = self.spark
        ln.ensure_native_vector_index(self.nat, "vec", spark=spark,
                                      incremental=True)
        notes, ok = [], True
        frames = {
            "native": spark.read.format("lance").load(self.nat),
            "own": LanceDataset.open(self.own).to_df(spark),
        }
        for plane, frame in frames.items():
            got = sorted(
                (r["id"], r["source"], r["text"],
                 tuple(float(x) for x in r["vec"]), r["val"])
                for r in frame.select(*COLS).collect())
            want = sorted((k,) + v for k, v in self.models[plane].items())
            same = got == want
            ok &= same
            notes.append(f"{plane}: {len(got)} rows, content "
                         f"{'matches' if same else 'DIFFERS from'} the model")
        self.recall = self._recall()
        self.live_bytes = sum(
            self._table({c: [k if j == 0 else v[j - 1]
                             for k, v in m.items()]
                         for j, c in enumerate(COLS)}).nbytes
            for m in self.models.values())
        self.disk_bytes = dir_bytes(self.nat) + dir_bytes(self.own)
        return ok, "; ".join(notes)

    def _recall(self) -> float:
        from lance_trino_spark.format.lance_native import (
            native_vector_search_fresh, read_native_fragment,
            read_native_manifest,
        )

        m = read_native_manifest(self.nat)
        addr_to_id = {}
        for fr in m.fragments:
            t = read_native_fragment(self.nat, fr, m, ["id"],
                                     with_row_address=True)
            addr_to_id.update(zip(t.column("_row_address").to_pylist(),
                                  t.column("id").to_pylist()))
        model = self.models["native"]
        ids = np.array(sorted(model))
        vecs = np.array([model[i][2] for i in ids], dtype=np.float32)
        rng = np.random.default_rng([self.ctx.seed, 33])
        q = vecs[rng.choice(len(ids), 16, replace=False)] + rng.normal(
            scale=0.3, size=(16, DIM)).astype(np.float32)
        res = native_vector_search_fresh(self.nat, "vec", q, k=10, nprobe=2,
                                         spark=self.spark)
        hits = []
        for qi, r in enumerate(res):
            d = ((vecs - q[qi]) ** 2).sum(axis=1)
            exact = set(ids[np.argsort(d, kind="stable")[:10]].tolist())
            got = {addr_to_id.get(int(a)) for a in r["neighbors"]}
            hits.append(len(exact & got) / 10.0)
        return float(np.mean(hits))

    # ----------------------------------------------------------- metrics
    def primaries(self) -> tuple[str, str]:
        return self.own, self.nat

    def end_to_end(self, timed: list[Sample]) -> dict:
        ratios = {}
        for kind in ("append_native", "append_own"):
            lance = [s.ms for s in timed if s.kind == kind
                     and not s.reference]
            base = [s.ms for s in timed if s.reference
                    and s.info.get("twin_of") == kind]
            if lance and base:
                ratios[kind] = median(lance) / median(base)
        self.provenance = {
            "rows": {p: len(m) for p, m in self.models.items()},
            "stream_rows": self.stream_rows,
            "bytes_on_disk": {"native": dir_bytes(self.nat),
                              "own": dir_bytes(self.own)},
            "parquet_ratio_by_append": ratios,
            "files_removed_by_kind": self.removed,
            "timed_bytes_written": self.meter.bytes,
            "timed_bytes_submitted": self.submitted_bytes,
        }
        return {
            "parquet_ratio": (geomean(ratios.values()), "geomean over the "
                              "two append paths of Lance median / parquet-"
                              "append median"),
            "ann_recall_at_10": (self.recall, "maintained IVF index after "
                                 "the run, nprobe=2 of 4, vs exact L2 "
                                 "(16 queries)"),
            "write_amp": (self.meter.bytes / self.submitted_bytes,
                          "bytes of files created under the dataset roots "
                          "(timed phase) / Arrow bytes of rows submitted"),
            "space_amp": (self.disk_bytes / self.live_bytes,
                          "bytes on disk after final compaction and cleanup "
                          "/ Arrow bytes of live rows (both planes)"),
        }

    def layers(self, traced: list[Sample], cost) -> dict:
        out = {}

        def med(pred):
            xs = [s.ms for s in traced if not s.reference and pred(s)]
            return median(xs) if xs else None

        out["append.own_ms"] = med(lambda s: s.kind == "append_own")
        out["append.native_ms"] = med(lambda s: s.kind == "append_native")
        for plane in ("own", "native"):
            for k in ("delete", "update", "merge"):
                out[f"dml.{plane}.{k}_ms"] = med(
                    lambda s, n=f"{k}_{plane}": s.kind == n)
        for fam in ("btree", "fts", "ivf"):
            ext = [s for s in traced if s.kind == f"extend_{fam}"]
            if ext:
                out[f"index.{fam}.extend_ms"] = median([s.ms for s in ext])
                out[f"index.{fam}.extend_jobs"] = median(
                    [cost(s)["jobs"] for s in ext])
            secs, group = self.builds[fam]
            out[f"index.{fam}.build_s"] = secs
            out[f"index.{fam}.jobs"] = self.ctx.spark_cost(group)["jobs"]
        maint = [s for s in traced if s.layer == "maint"]
        if maint:
            out["maint.compact_ms"] = median(
                [s.info["compact_s"] * 1000 for s in maint])
            out["maint.cleanup_ms"] = median(
                [s.info["cleanup_s"] * 1000 for s in maint])
            out["maint.bytes_rewritten"] = median(
                [s.info.get("written", 0) for s in maint])
            out["maint.files_removed"] = median(
                [s.info.get("removed", 0) for s in maint])
        out["stream.lifecycle_ms"] = med(lambda s: s.kind == "stream")
        return {k: v for k, v in out.items() if v is not None}

"""search_serving: driver-side requests into the native index families
over a corpus generated from the seed (Zipf text, a source label and a
clustered 64-dim embedding per doc).

Index kernels, sidecar reads and the manifest cache do the work here;
Spark scans do none. The scalar lookups are paired with a vanilla twin,
the same predicate read by pyarrow's parquet reader from a parquet copy
of the corpus (a reference, not an op). Request parameters are drawn
with Zipf skew from fixed pools, so requests repeat.
"""

from __future__ import annotations

import os
import re
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import Op, Sample, WriteMeter, dir_bytes, geomean, median, zipf_index

SIZES = {"full": 10_000, "tiny": 600}  # docs
VOCAB = 20_000
DIM = 64
N_FRAGS = 2
SOURCES = ("web", "news", "wiki", "code", "forum", "book", "paper", "misc")
K = 10
IVF_NPROBE = 4
K1, B = 1.2, 0.75  # BM25, as the native FTS index scores
# requests of one round: family -> count. Costs span three orders of
# magnitude (sub-ms scalar lookups to the ~1.5 s flat HNSW search, a
# Spark job over two shards), so the cheap families repeat more and every
# family takes a visible share of time, HNSW about a sixth.
MIX = {"btree": 180, "bitmap": 120, "fts": 48, "fts_phrase": 24,
       "fts_bool": 24, "fts_filtered": 24, "ivf": 96, "hnsw": 1,
       "ivf_hnsw": 12, "filtered_ann": 12}
POOL = 64
TWIN_EVERY = 2


def tokenize(text: str) -> list[str]:
    """The simple-v1 analyzer: lowercase, split on non-alphanumerics."""
    return [t for t in re.split(r"[^0-9a-z]+", text.lower()) if t]


class Search:
    name = "search_serving"
    ROUND_S = 9.5  # nominal seconds of one round (4 CPUs, local[4])

    def __init__(self, ctx, scale: str):
        self.ctx = ctx
        self.spark = ctx.spark
        self.scale = scale
        self.rng = np.random.default_rng([ctx.seed, 2])
        self.root = os.path.join(ctx.work, f"search-{scale}")
        self.corpus = os.path.join(self.root, "corpus.lance")
        self.provenance: dict = {}
        self.seen: set = set()
        self.requests = 0
        self.repeats = 0
        self.scalar_lookups = 0

    # ------------------------------------------------------------ setup
    def _generate(self, n: int) -> dict:
        rng = self.rng
        p = 1.0 / np.arange(1, VOCAB + 1) ** 1.07
        lens = rng.integers(10, 50, n)
        toks = rng.choice(VOCAB, size=int(lens.sum()), p=p / p.sum())
        offs = np.concatenate([[0], np.cumsum(lens)])
        text = [" ".join(f"t{w}" for w in toks[offs[i]:offs[i + 1]])
                for i in range(n)]
        centers = rng.normal(size=(32, DIM)).astype(np.float32)
        vec = (centers[rng.integers(0, 32, n)]
               + 0.35 * rng.normal(size=(n, DIM))).astype(np.float32)
        src = [SOURCES[i] for i in np.minimum(
            rng.zipf(1.6, n) - 1, len(SOURCES) - 1)]
        return {"id": list(range(n)), "source": src, "text": text,
                "vec": vec}

    def setup(self) -> None:
        from lance_trino_spark.format import lance_native as ln

        spark, ctx = self.spark, self.ctx
        n = SIZES[self.scale]
        os.makedirs(self.root)
        docs = self._generate(n)
        self.meter = WriteMeter([self.corpus])
        per = n // N_FRAGS
        for f in range(N_FRAGS):
            a, b = f * per, (n if f == N_FRAGS - 1 else (f + 1) * per)
            cols = {"id": docs["id"][a:b], "source": docs["source"][a:b],
                    "text": docs["text"][a:b],
                    "vec": docs["vec"][a:b].tolist()}
            (ln.write_native_dataset if f == 0 else ln.append_native_rows)(
                self.corpus, cols)
        self.builds = {}
        for fam, fn in (
                ("btree", lambda: ln.ensure_native_scalar_index(
                    self.corpus, "id", spark=spark)),
                ("bitmap", lambda: ln.write_native_bitmap_index(
                    self.corpus, "source", spark=spark)),
                ("fts", lambda: ln.ensure_native_fts_index(
                    self.corpus, "text", spark=spark, analyzer="simple-v1")),
                ("ivf", lambda: ln.write_native_vector_index(
                    self.corpus, "vec", n_cells=16, nsub=8, sample=1024,
                    iters=4, spark=spark)),
                ("hnsw", lambda: ln.write_native_hnsw_index(
                    self.corpus, "vec", spark=spark)),
                ("ivf_hnsw", lambda: ln.write_native_ivf_hnsw_index(
                    self.corpus, "vec", n_cells=8, sample=1024, iters=4,
                    spark=spark))):
            self.builds[fam] = ctx.build(fn)
        self.meter.step()
        table = pa.table({"id": pa.array(docs["id"], pa.int64()),
                          "source": docs["source"], "text": docs["text"]})
        self.arrow_bytes = table.nbytes + docs["vec"].nbytes
        # the vanilla twin of the scalar lookups
        self.pq_path = os.path.join(self.root, "corpus.parquet")
        pq.write_table(table, self.pq_path)
        self._ground_truth(docs)
        self._pools(docs)

    def _ground_truth(self, docs: dict) -> None:
        """Stored vectors and row addresses as the dataset returns them,
        plus per-doc token statistics for the brute-force BM25."""
        from lance_trino_spark.format import lance_native as ln

        m = ln.read_native_manifest(self.corpus)
        addr, ids, vecs = [], [], []
        for fr in m.fragments:
            t = ln.read_native_fragment(self.corpus, fr, m, ["id", "vec"],
                                        with_row_address=True)
            addr += t.column("_row_address").to_pylist()
            ids += t.column("id").to_pylist()
            vecs.append(np.asarray(t.column("vec").to_pylist(),
                                   dtype=np.float64))
        order = np.argsort(ids)
        self.addr = np.asarray(addr, dtype=np.int64)[order]
        self.pos = {int(a): i for i, a in enumerate(self.addr)}
        self.vecs = np.concatenate(vecs)[order]
        self.unit = self.vecs / np.linalg.norm(self.vecs, axis=1,
                                               keepdims=True)
        self.source = np.asarray(docs["source"])
        self.tokens = [tokenize(t) for t in docs["text"]]
        self.tf = [Counter(ts) for ts in self.tokens]
        self.dl = np.array([len(ts) for ts in self.tokens], dtype=np.float64)
        self.avgdl = float(self.dl.sum() / len(self.dl))
        self.postings: dict[str, list[int]] = {}
        for i, c in enumerate(self.tf):
            for t in c:
                self.postings.setdefault(t, []).append(i)

    def _pools(self, docs: dict) -> None:
        rng, n = self.rng, len(self.tokens)
        # query terms come from one document-frequency band, and the terms
        # of one query read about as many postings as those of any other,
        # so that a request's cost does not depend on the seed; so do the
        # filter labels, which cycle with the pool index
        df = {t: len(d) for t, d in self.postings.items()}
        band = sorted(t for t, c in df.items() if n // 40 <= c <= n // 20)
        in_band = set(band)
        mid = float(np.median([df[t] for t in band]))

        def terms(k: int) -> str:
            while True:
                ts = rng.choice(band, k, replace=False)
                if abs(sum(df[t] for t in ts) - k * mid) <= 0.1 * k * mid:
                    return " ".join(ts)
        pool = {}
        pool["btree"] = [int(i) for i in rng.choice(n, POOL, replace=False)]
        pool["bitmap"] = list(SOURCES)
        pool["fts"] = [terms(3) for _ in range(POOL)]
        phrases, bools = [], []
        for i in rng.permutation(n):
            ts = [t for t in self.tokens[int(i)]]
            pairs = [(a, b) for a, b in zip(ts, ts[1:])
                     if a in in_band and b in in_band and a != b]
            if pairs and len(phrases) < POOL:
                a, b = pairs[int(rng.integers(0, len(pairs)))]
                phrases.append(f'"{a} {b}"')
            both = sorted({t for t in ts if t in in_band})
            if len(both) >= 2 and len(bools) < POOL:
                a, b = rng.choice(both, 2, replace=False)
                bools.append(f"{a} AND {b}")
            if len(phrases) == POOL and len(bools) == POOL:
                break
        pool["fts_phrase"] = phrases
        pool["fts_bool"] = bools
        pool["fts_filtered"] = [(terms(2), SOURCES[i % 3])
                                for i in range(POOL)]
        qv = (self.vecs[rng.choice(n, POOL, replace=False)]
              + 0.2 * rng.normal(size=(POOL, DIM))).astype(np.float32)
        for fam in ("ivf", "hnsw", "ivf_hnsw"):
            pool[fam] = list(range(POOL))
        pool["filtered_ann"] = [(i, SOURCES[i % 3]) for i in range(POOL)]
        self.queries = qv
        self.pool = pool
        self.recalls: list[float] = []

    # --------------------------------------------------------- oracles
    def _bm25(self, groups: list[list[str]], allowed=None) -> dict:
        """Brute-force BM25 (rational idf, k1=1.2, b=0.75) of every doc
        that fully holds some group; a group is a list of operands, each a
        term or a phrase (a tuple of terms)."""
        n = len(self.tokens)

        def occurrences(op):
            if isinstance(op, str):
                return {d: self.tf[d][op] for d in self.postings.get(op, [])}
            first = self.postings.get(op[0], [])
            out = {}
            for d in first:
                ts = self.tokens[d]
                c = sum(1 for j in range(len(ts) - len(op) + 1)
                        if tuple(ts[j:j + len(op)]) == op)
                if c:
                    out[d] = c
            return out

        ops = {op for g in groups for op in g}
        occ = {op: occurrences(op) for op in ops}
        scores: dict[int, float] = {}
        docs = set()
        for g in groups:
            members = [set(occ[op]) for op in g]
            docs |= set.intersection(*members) if members else set()
        for d in docs:
            if allowed is not None and self.source[d] != allowed:
                continue
            s = 0.0
            for op in ops:
                tf = occ[op].get(d)
                if not tf:
                    continue
                df_t = float(len(occ[op]))
                idf = (n - df_t + 0.5) / (df_t + 0.5)
                norm = K1 * ((1.0 - B) + B * (self.dl[d] / self.avgdl))
                s += idf * (tf * (K1 + 1.0)) / (tf + norm)
            scores[d] = s
        return scores

    def _check_fts(self, groups, allowed=None):
        def check(result) -> bool:
            hits, _stats = result
            want = self._bm25(groups, allowed)
            top = sorted(want.values(), reverse=True)[:K]
            if len(hits) != len(top):
                return False
            by_addr = {int(self.addr[d]): s for d, s in want.items()}
            for (a, _dl, score), exp in zip(hits, top):
                if not np.isclose(score, exp, rtol=1e-9):
                    return False
                if not np.isclose(by_addr.get(int(a), np.nan), score,
                                  rtol=1e-9):
                    return False
            return True
        return check

    def _check_rows(self, mask):
        want = set(self.addr[mask].tolist())

        def check(result) -> bool:
            rows = result[0]
            got = {(int(f) << 32) | int(r) for f, rs in rows.items()
                   for r in rs}
            return got == want
        return check

    def _check_ann(self, q, cosine: bool, allowed=None):
        cand = np.arange(len(self.vecs)) if allowed is None else \
            np.flatnonzero(self.source == allowed)
        if cosine:
            qn = q / np.linalg.norm(q)
            d = -(self.unit[cand] @ qn)
        else:
            d = ((self.vecs[cand] - q) ** 2).sum(axis=1)
        exact = set(self.addr[cand[np.argsort(d, kind="stable")[:K]]]
                    .tolist())
        pos = self.pos

        def check(result) -> bool:
            """Well-formed: distinct known rows that pass the filter, K of
            them unfiltered; under a prefilter the probed cells may hold
            fewer than K allowed rows, so fewer (but some) may come back.
            A missing neighbour counts against recall."""
            r = result[0]
            got = [int(a) for a in r["neighbors"]]
            if len(set(got)) != len(got) or any(a not in pos for a in got):
                return False
            enough = len(got) == K if allowed is None else 0 < len(got) <= K
            if not enough:
                return False
            if allowed is not None and any(self.source[pos[a]] != allowed
                                           for a in got):
                return False
            self.recalls.append(len(exact & set(got)) / len(exact))
            return True
        return check

    # ----------------------------------------------------------- requests
    def _request(self, fam: str) -> list[Op]:
        from lance_trino_spark.format import lance_native as ln

        spark = self.spark
        i = zipf_index(self.rng, len(self.pool[fam]))
        key = (fam, i)
        self.requests += 1
        self.repeats += key in self.seen
        self.seen.add(key)
        p = self.pool[fam][i]
        info = {"family": fam}
        root = self.corpus

        if fam == "btree":
            idx = self.btree

            def run():
                r = ln.scalar_index_lookup(idx, eq_values=[p])
                info["pages_read"] = r[1]["pages_read"]
                return r
            twin = Op(fam, "parquet", lambda: pq.read_table(
                self.pq_path, columns=["id"], filters=[("id", "==", p)]),
                lambda t: t.column("id").to_pylist() == [p],
                {"family": fam}, reference=True)
            return [Op(fam, "search.btree", run,
                       self._check_rows(np.arange(len(self.addr)) == p),
                       info)] + self._twin(twin)
        if fam == "bitmap":
            twin = Op(fam, "parquet", lambda: pq.read_table(
                self.pq_path, columns=["source"],
                filters=[("source", "==", p)]),
                lambda t: t.num_rows == int((self.source == p).sum()),
                {"family": fam}, reference=True)
            return [Op(fam, "search.bitmap",
                       lambda: ln.native_bitmap_lookup(root, "source", [p]),
                       self._check_rows(self.source == p), info)] + \
                self._twin(twin)
        if fam.startswith("fts"):
            if fam == "fts_filtered":
                query, label = p
                prefilter = ("source", [label])
            else:
                query, label, prefilter = p, None, None

            def run():
                r = ln.native_fts_search(root, "text", query, k=K,
                                         spark=spark, prefilter=prefilter)
                info["postings_read"] = r[1].get("postings_read", 0)
                return r
            if fam == "fts_phrase":
                groups = [[tuple(tokenize(query))]]
            elif fam == "fts_bool":
                groups = [[t for t in tokenize(query) if t != "and"]]
            else:
                groups = [[t] for t in tokenize(query)]
            layer = "search.fts_phrase" if fam == "fts_phrase" else \
                "search.fts"
            return [Op(fam, layer, run, self._check_fts(groups, label),
                       info)]
        q = self.queries[p[0] if fam == "filtered_ann" else p]
        if fam == "ivf":
            idx = self.ivf

            def run():
                r = ln.native_index_search(root, idx, q[None, :], k=K,
                                           nprobe=IVF_NPROBE)
                info["candidates"] = r[0]["n_candidates"]
                info["index_bytes_read"] = r[0]["index_bytes_read"]
                return r
            return [Op(fam, "search.ivf", run,
                       self._check_ann(q, cosine=False), info)]
        if fam == "hnsw":
            return [Op(fam, "search.hnsw", lambda: ln.native_hnsw_search(
                root, q[None, :], k=K, column="vec", spark=spark),
                self._check_ann(q, cosine=True), info)]
        if fam == "ivf_hnsw":
            return [Op(fam, "search.ivf_hnsw",
                       lambda: ln.native_ivf_hnsw_search(
                           root, q[None, :], k=K, column="vec", nprobe=2),
                       self._check_ann(q, cosine=True), info)]
        label = p[1]
        return [Op(fam, "search.filtered_ann",
                   lambda: ln.native_ivf_hnsw_search(
                       root, q[None, :], k=K, column="vec", nprobe=2,
                       prefilter=("source", [label])),
                   self._check_ann(q, cosine=True, allowed=label), info)]

    def _twin(self, twin: Op) -> list[Op]:
        """Every TWIN_EVERY-th scalar lookup is followed by its vanilla
        twin (the same predicate read by pyarrow from the parquet
        corpus)."""
        self.scalar_lookups += 1
        return [twin] if self.scalar_lookups % TWIN_EVERY == 1 else []

    def _open_indexes(self) -> None:
        """The serving process holds open handles of the btree and IVF
        sidecars (their search functions take the handle)."""
        from lance_trino_spark.format import lance_native as ln

        self.btree = ln.list_native_scalar_indices(self.corpus)[-1]
        self.ivf = ln.list_native_vector_indices(self.corpus)[-1]

    def round(self, r: int):
        if r == 0 or not hasattr(self, "btree"):
            self._open_indexes()
        fams = [f for f, c in MIX.items() for _ in range(c)]
        self.rng.shuffle(fams)
        for fam in fams:
            yield from self._request(fam)

    def warmup(self):
        """Every family once, and scalar lookups until each kind of
        parquet twin has run a few times."""
        self._open_indexes()
        for fam in MIX:
            yield from self._request(fam)
        for _ in range(4 * TWIN_EVERY):
            yield from self._request("btree")
            yield from self._request("bitmap")
        self.recalls = []
        self.seen = set()
        self.requests = self.repeats = 0

    def finish(self) -> tuple[bool, str]:
        return True, "read-only workload: every request was checked"

    # ----------------------------------------------------------- metrics
    def primaries(self) -> tuple[str, str]:
        return None, self.corpus

    def end_to_end(self, timed: list[Sample]) -> dict:
        ratios = {}
        for fam in ("btree", "bitmap"):
            lance = [s.ms for s in timed if s.kind == fam
                     and not s.reference]
            base = [s.ms for s in timed if s.kind == fam and s.reference]
            if lance and base:
                ratios[fam] = median(lance) / median(base)
        self.provenance = {
            "docs": SIZES[self.scale], "bytes_on_disk": dir_bytes(self.corpus),
            "index_build_s": {f: b[0] for f, b in self.builds.items()},
            "repeated_request_share": self.repeats / max(1, self.requests),
            "parquet_ratio_by_family": ratios,
        }
        return {
            "parquet_ratio": (geomean(ratios.values()), "geomean over btree "
                              "and bitmap lookups of native median / median "
                              "of the same predicate read by pyarrow from "
                              "the parquet corpus"),
            "ann_recall_at_10": (float(np.mean(self.recalls)),
                                 f"mean over {len(self.recalls)} ANN "
                                 "requests vs exact top-10"),
            "write_amp": (self.meter.bytes / self.arrow_bytes,
                          "bytes written by the corpus and index build / "
                          "Arrow bytes of the corpus"),
            "space_amp": (dir_bytes(self.corpus) / self.arrow_bytes,
                          "bytes on disk / Arrow bytes of the corpus"),
        }

    def layers(self, traced: list[Sample], cost) -> dict:
        out = {}
        ops = [s for s in traced if not s.reference]
        for fam in ("btree", "bitmap", "fts", "fts_phrase", "ivf", "hnsw",
                    "ivf_hnsw", "filtered_ann"):
            xs = [s.ms for s in ops if s.kind == fam]
            if xs:
                out[f"search.{fam}_ms"] = median(xs)

        def mean(fam, key):
            xs = [s.info[key] for s in ops if s.kind == fam
                  and key in s.info]
            return float(np.mean(xs)) if xs else None
        for k, v in (("search.btree.pages_read", mean("btree", "pages_read")),
                     ("search.fts.postings_read", mean("fts", "postings_read")),
                     ("search.ivf.candidates", mean("ivf", "candidates")),
                     ("search.ivf.index_bytes_read",
                      mean("ivf", "index_bytes_read"))):
            if v is not None:
                out[k] = v
        for fam, (secs, group) in self.builds.items():
            out[f"index.{fam}.build_s"] = secs
            out[f"index.{fam}.jobs"] = self.ctx.spark_cost(group)["jobs"]
        return out

"""The closed-loop driver of one run: set up, warm up, run whole rounds of
ops until the time is up, check, and turn samples into metrics.

One client issues one op at a time (closed loop, no think time). A round
is a fixed multiset of ops in a seeded order; the timed phase runs whole
rounds, as many as take about ``--seconds`` on the reference machine
(each workload states its nominal round time), so every run of a
workload measures the same mix.

The traced run runs every round's mix twice, traced then untraced
(tracing overhead = untraced ops/s over traced ops/s), then runs one
traced round of each other workload at the tiny size, so every per-layer
metric is emitted on every workload, then the direct codec and manifest
probes.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow
import pyspark

from common import (
    SPARK_CPUS, WORKLOADS, Context, cpu_ticks, machine_ms, median, quantile,
)

E2E_UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "latency_p50_ms": "ms",
    "latency_p90_ms": "ms", "latency_p99_ms": "ms", "parquet_ratio": "x",
    "ann_recall_at_10": "ratio", "write_amp": "x", "space_amp": "x",
    "peak_rss_mb": "MB",
}


def workload(name: str, ctx, scale: str):
    if name == "analytics_scan":
        from analytics import Analytics as cls
    elif name == "search_serving":
        from search import Search as cls
    else:
        from ingest import Ingest as cls
    return cls(ctx, scale)


def run(args, t_start: float) -> dict:
    ctx = Context(args, t_start)
    try:
        ctx.start_spark()
        return _run(ctx, args)
    finally:
        ctx.stop_spark()
        shutil.rmtree(ctx.work, ignore_errors=True)


def _run(ctx: Context, args) -> dict:
    main = workload(args.workload, ctx, args.scale)
    t = time.monotonic()
    main.setup()
    ctx.setup_parts["fixture_s"] = time.monotonic() - t
    t = time.monotonic()
    warm = [ctx.run_op(op, False) for op in main.warmup()]
    ctx.setup_parts["warmup_s"] = time.monotonic() - t
    setup_s = time.monotonic() - ctx.t0
    traced_mode = bool(args.trace)

    # --seconds sets the amount of work: whole rounds, as many as take
    # about that long here (never fewer than one), so that every run of a
    # workload measures the same mix whatever the machine's speed
    n_rounds = max(1, round(args.seconds / main.ROUND_S))
    if traced_mode:
        n_rounds = max(2, n_rounds + n_rounds % 2)
    speed0 = machine_ms()
    t_timed = time.monotonic()
    ticks0 = cpu_ticks()
    timed = []
    for r in range(n_rounds):
        # the traced run runs each round's mix twice, traced then
        # untraced, so the overhead compares like with like (first-run
        # costs land on the traced copy: the overhead is not understated)
        traced = traced_mode and r % 2 == 0
        span = ctx.tracer.add("round", time.monotonic(), None, None, -1,
                              round=r) if traced else None
        for op in main.round(r // 2 if traced_mode else r):
            timed.append(ctx.run_op(op, traced, parent=span))
        if traced:
            ctx.tracer.spans[span]["end"] = time.monotonic()
    timed_wall = time.monotonic() - t_timed
    ticks1 = cpu_ticks()
    steal = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
    speed1 = machine_ms()
    oracle_s = ctx.check_s
    final_ok, final_note = main.finish()

    ops = [s for s in timed if not s.reference]
    failed = [s for s in ops if not s.ok]
    refs_failed = [s for s in timed if s.reference and not s.ok]
    warm_failed = [s for s in warm if not s.ok]
    lat = [s.ms for s in ops]
    busy = sum(lat) / 1000.0
    e2e = {
        "setup_s": (setup_s, "process start to end of warm-up"),
        "ops_per_s": (len(ops) / busy, f"{len(ops)} ops / {busy:.3f} s of "
                      "op service time"),
        "latency_p50_ms": (quantile(lat, 0.50), f"n={len(lat)}, HD"),
        "latency_p90_ms": (quantile(lat, 0.90), f"n={len(lat)}, HD"),
        "latency_p99_ms": (quantile(lat, 0.99), f"n={len(lat)}, HD"),
    }
    e2e.update(main.end_to_end(timed))
    py_mb, jvm_mb = ctx.peak_rss_mb()
    e2e["peak_rss_mb"] = (py_mb + jvm_mb, f"driver Python {py_mb:.0f} MB + "
                          f"JVM VmHWM {jvm_mb:.0f} MB")

    by_kind: dict[str, list[float]] = {}
    for s in ops:
        by_kind.setdefault(s.kind, []).append(s.ms)
    report = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "trace": args.trace, "local_n": SPARK_CPUS,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "rounds": n_rounds, "timed_wall_s": timed_wall, "oracle_s": oracle_s,
        "cpu_steal_share": steal,
        "machine_ms": [speed0, speed1],
        "setup_parts_s": ctx.setup_parts,
        "op_counts": {k: len(v) for k, v in sorted(by_kind.items())},
        "op_median_ms": {k: median(v) for k, v in sorted(by_kind.items())},
        "warmup_op_ms": [(s.kind, round(s.ms, 1)) for s in warm],
        "failure_ratio": len(failed) / max(1, len(ops)),
        "failures": [f"{s.kind}: {s.error}" for s in
                     failed + refs_failed + warm_failed][:20],
        "final_check": final_note,
        "provenance": main.provenance,
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k], "base": b}
                       for k, (v, b) in e2e.items()},
    }
    # latency_p99_ms stays in the report: no workload of BENCHMARK.json
    # has the samples a 99th percentile needs in every run
    metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]}
               for k, (v, _b) in e2e.items() if k != "latency_p99_ms"}
    if traced_mode:
        layers, trace_info = traced_layers(ctx, args, main, timed)
        report["per_layer"] = layers
        report["trace"] = trace_info
        metrics = {k: {"value": float(v), "unit": u}
                   for k, (v, u) in layers.items()}
        spans = os.path.join(args.work_dir, "spans")
        os.makedirs(spans, exist_ok=True)
        ctx.tracer.write(os.path.join(
            spans, f"{args.workload}-{args.scale}-{args.seed}.jsonl"))
    print("perfbench-report " + _json(report))
    correct = (not failed and not refs_failed and not warm_failed
               and final_ok)
    return {"correct": correct, "attempted": len(ops),
            "failed": len(failed), "metrics": metrics}


def _json(obj) -> str:
    return json.dumps(obj, default=lambda o: o.item()
                      if isinstance(o, np.generic) else str(o))


# ---------------------------------------------------------------- traced run
LAYER_UNITS = {
    "session.start_s": "s",
    "jvm.query_ms": "ms", "jvm.rows_per_s": "1/s",
    "pyds.own.query_ms": "ms", "pyds.v1.query_ms": "ms",
    "pyds.v2.query_ms": "ms", "pyds.rows_per_s": "1/s",
    "codec.v1_decode_rows_per_s": "1/s", "codec.v2_decode_rows_per_s": "1/s",
    "codec.encode_rows_per_s": "1/s",
    "prune.tasks_per_query": "count",
    "prune.rows_read_per_row_returned": "ratio",
    "router.plan_ms": "ms",
    "manifest.own_open_ms": "ms", "manifest.native_open_ms": "ms",
    "manifest.versions": "count",
    "append.own_ms": "ms", "append.native_ms": "ms",
    **{f"dml.{p}.{k}_ms": "ms" for p in ("own", "native")
       for k in ("delete", "update", "merge")},
    **{f"index.{f}.build_s": "s" for f in
       ("btree", "bitmap", "fts", "ivf", "hnsw", "ivf_hnsw")},
    **{f"index.{f}.jobs": "count" for f in
       ("btree", "bitmap", "fts", "ivf", "hnsw", "ivf_hnsw")},
    **{f"index.{f}.extend_ms": "ms" for f in ("btree", "fts", "ivf")},
    **{f"index.{f}.extend_jobs": "count" for f in ("btree", "fts", "ivf")},
    **{f"search.{f}_ms": "ms" for f in
       ("btree", "bitmap", "fts", "fts_phrase", "ivf", "hnsw", "ivf_hnsw",
        "filtered_ann")},
    "search.btree.pages_read": "count", "search.fts.postings_read": "count",
    "search.ivf.candidates": "count", "search.ivf.index_bytes_read": "bytes",
    "maint.compact_ms": "ms", "maint.cleanup_ms": "ms",
    "maint.bytes_rewritten": "bytes", "maint.files_removed": "count",
    "stream.lifecycle_ms": "ms",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.executor_run_ms_per_op": "ms",
    "trace.untraced_ops_per_s": "1/s", "trace.traced_ops_per_s": "1/s",
    "trace.overhead_ratio": "x",
}


def traced_layers(ctx: Context, args, main, timed) -> tuple[dict, dict]:
    costs: dict[int, dict] = {}

    def cost(s):
        if s.op_id not in costs:
            costs[s.op_id] = ctx.spark_cost(s.group)
        return costs[s.op_id]

    traced = [s for s in timed if s.traced]
    ops_t = [s for s in traced if not s.reference]
    source = {}
    layers = dict(main.layers(traced, cost))
    source.update({k: args.workload for k in layers})

    # spark work per op, by op kind
    per_kind: dict[str, list[dict]] = {}
    for s in ops_t:
        per_kind.setdefault(s.kind, []).append(cost(s))
    n = max(1, len(ops_t))
    layers["spark.jobs_per_op"] = sum(cost(s)["jobs"] for s in ops_t) / n
    layers["spark.tasks_per_op"] = sum(cost(s)["tasks"] for s in ops_t) / n
    layers["spark.executor_run_ms_per_op"] = sum(
        cost(s)["executor_run_ms"] for s in ops_t) / n
    layers["session.start_s"] = ctx.setup_parts["session_start_s"]

    # tracing overhead on the op kinds both kinds of round ran
    untraced = [s for s in timed if not s.traced and not s.reference]
    kinds = {s.kind for s in ops_t} & {s.kind for s in untraced}
    a = [s.ms for s in untraced if s.kind in kinds]
    b = [s.ms for s in ops_t if s.kind in kinds]
    layers["trace.untraced_ops_per_s"] = len(a) / (sum(a) / 1000.0)
    layers["trace.traced_ops_per_s"] = len(b) / (sum(b) / 1000.0)
    layers["trace.overhead_ratio"] = (layers["trace.untraced_ops_per_s"]
                                      / layers["trace.traced_ops_per_s"])

    # one traced round of every other workload at the tiny size, for the
    # layers this workload does not exercise; no warm-up (it would not fit
    # the time limit), so those ops pay their first use in the process
    instances = [main]
    phases: dict[str, float] = {}
    for other in WORKLOADS:
        if other == args.workload:
            continue
        w = workload(other, ctx, "tiny")
        instances.append(w)
        t = time.monotonic()
        w.setup()
        done = [ctx.run_op(op, True) for op in w.round(0)]
        w.finish()
        phases[f"{other} (tiny)"] = time.monotonic() - t
        bad = [f"{s.kind}: {s.error}" for s in done if not s.ok]
        if bad:
            raise RuntimeError(f"{other} (tiny) failed in the traced run: "
                               f"{bad[:5]}")
        for k, v in w.layers(done, cost).items():
            if k not in layers:
                layers[k] = v
                source[k] = f"{other} (tiny)"
    t = time.monotonic()
    probed = probes(ctx, instances)
    phases["probes"] = time.monotonic() - t
    for k, v in probed.items():
        layers[k] = v
        source[k] = "probe"
    missing = sorted(set(LAYER_UNITS) - set(layers))
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {missing}")
    info = {
        "source": source,
        "spark_by_kind": {
            k: {m: sum(c[m] for c in v) / len(v) for m in v[0]}
            for k, v in sorted(per_kind.items())},
        "spans": len(ctx.tracer.spans),
        "phase_s": phases,
    }
    return {k: (layers[k], LAYER_UNITS[k]) for k in LAYER_UNITS}, info


def probes(ctx: Context, instances) -> dict:
    """Direct calls into the codec and manifest layers: decode every
    fragment of a FILE v1 and a FILE v2 dataset with read_native_fragment,
    encode with append_native_rows, and open the workload's own-format and
    native manifests (the first workload that has one)."""
    from lance_trino_spark.format.dataset import LanceDataset
    from lance_trino_spark.format.lance_native import (
        append_native_rows, list_native_versions, read_native_fragment,
        read_native_manifest, write_native_dataset,
    )

    rng = np.random.default_rng([ctx.seed, 99])
    n_frag, rows = 4, 25_000
    out = {}
    for fv in (1, 2):
        root = os.path.join(ctx.work, f"probe-codec-v{fv}.lance")
        encode = []
        for f in range(n_frag):
            cols = {
                "k": list(range(f * rows, (f + 1) * rows)),
                "a": rng.integers(0, 1 << 40, rows).tolist(),
                "b": rng.integers(0, 1000, rows).tolist(),
                "s": [f"v{x}" for x in rng.integers(0, 5000, rows)],
            }
            if f == 0:
                write_native_dataset(root, cols, file_version=fv)
            else:
                t = time.monotonic()
                append_native_rows(root, cols, file_version=fv)
                encode.append(rows / (time.monotonic() - t))
        if fv == 1:
            out["codec.encode_rows_per_s"] = median(encode)
        m = read_native_manifest(root)
        speeds = []
        for _ in range(3):
            t = time.monotonic()
            n = sum(read_native_fragment(root, fr, m).num_rows
                    for fr in m.fragments)
            speeds.append(n / (time.monotonic() - t))
        out[f"codec.v{fv}_decode_rows_per_s"] = median(speeds)

    own = next(w.primaries()[0] for w in instances if w.primaries()[0])
    native = instances[0].primaries()[1]
    for key, fn in (("manifest.own_open_ms", lambda: LanceDataset.open(own)),
                    ("manifest.native_open_ms",
                     lambda: read_native_manifest(native))):
        xs = []
        for _ in range(20):
            t = time.monotonic()
            fn()
            xs.append((time.monotonic() - t) * 1000)
        out[key] = median(xs)
    out["manifest.versions"] = len(list_native_versions(native))
    return out

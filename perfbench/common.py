"""Shared machinery of the benchmark: the Spark session, the closed-loop
round runner, spans, Spark status-store reads and the metric helpers.

Every measurement is taken from outside the program: the benchmark times
calls into each layer's public functions and reads Spark's own status
store. Nothing in ``lance_trino_spark`` is instrumented.
"""

from __future__ import annotations

import math
import os
import resource
import shutil
import statistics
import subprocess
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

WORKLOADS = ("analytics_scan", "search_serving", "ingest_mutate")
# local[N]: the same N on every commit, never more than the machine has.
SPARK_CPUS = max(1, min(4, os.cpu_count() or 4))
DRIVER_MEMORY = "1g"


@dataclass
class Op:
    """One closed-loop request. ``run`` is the timed call; ``check`` gets
    its result, runs untimed and returns False for a wrong answer.
    ``layer`` names the module the op exercises; ``info`` carries
    whatever the workload wants to fold into its layer metrics."""

    kind: str
    layer: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    info: dict = field(default_factory=dict)
    reference: bool = False  # a vanilla-parquet twin: timed, not an op


@dataclass
class Sample:
    op_id: int
    kind: str
    layer: str
    start: float
    end: float
    ok: bool
    traced: bool
    reference: bool
    info: dict
    group: str | None = None
    error: str | None = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span buffer, written out once when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None,
            op_id: int, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "name": name,
                           "start": start, "end": end, "parent": parent,
                           "op_id": op_id, **attrs})
        return len(self.spans) - 1

    def write(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")


class Context:
    """Everything one run shares: arguments, the session, the work dir
    and the spans."""

    def __init__(self, args, t_process_start: float):
        self.args = args
        self.seed = args.seed
        self.t0 = t_process_start
        self.work = os.path.join(
            args.work_dir, f"{args.workload}-{args.scale}-{args.seed}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.spark = None
        self.tracer = Tracer()
        self.next_op = 0
        self.setup_parts: dict[str, float] = {}
        self.check_s = 0.0  # time spent in the output oracles

    # ------------------------------------------------------------ session
    def start_spark(self) -> None:
        from pyspark.sql import SparkSession

        from lance_trino_spark.session import RUNTIME_CONFS, apply_runtime_confs
        from lance_trino_spark.sources.lance_datasource import (
            register_lance_datasource,
        )

        t = time.monotonic()
        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        b = (
            SparkSession.builder.master(f"local[{SPARK_CPUS}]")
            .appName(f"perfbench-{self.args.workload}")
            .config("spark.driver.memory", DRIVER_MEMORY)
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", local)
            # keep the JVM's temp files (and its perf data, which ignores
            # java.io.tmpdir) out of /tmp
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={local} -Dderby.system.home={local} "
                    "-XX:-UsePerfData")
            .config("spark.sql.warehouse.dir",
                    os.path.join(self.work, "warehouse"))
            .config("spark.sql.shuffle.partitions", str(SPARK_CPUS))
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            # the traced run reads every op's jobs back at the end
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.jars", os.path.abspath(
                os.path.join("jvm", "lance-jvm-catalog.jar")))
        )
        for k, v in RUNTIME_CONFS.items():
            b = b.config(k, v)
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        apply_runtime_confs(self.spark)
        register_lance_datasource(self.spark)
        self.setup_parts["session_start_s"] = time.monotonic() - t
        self.jvm_pid = int(
            self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop_spark(self) -> None:
        """Stop the session and the JVM it launched, and wait for it."""
        if self.spark is None:
            return
        from py4j.protocol import Py4JError

        gw = self.spark.sparkContext._gateway
        proc = getattr(gw, "proc", None)  # the spark-submit JVM
        self.spark.stop()
        self.spark = None
        try:
            gw.shutdown()
        except Py4JError:
            pass  # the gateway is already closed
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -------------------------------------------------------------- timing
    def run_op(self, op: Op, traced: bool,
               parent: int | None = None) -> Sample:
        """Run one op closed-loop: time ``run``, then check untimed. With
        ``traced`` the op runs in its own Spark job group and gets a span."""
        op_id = self.next_op
        self.next_op += 1
        sc = self.spark.sparkContext
        group = None
        err = None
        start = time.monotonic()
        try:
            if traced:
                group = f"pb-{op_id}"
                sc.setJobGroup(group, f"{op.kind}#{op_id}", False)
            result = op.run()
            end = time.monotonic()
        except Exception as e:  # an errored op is a failed op, not a crash
            end = time.monotonic()
            result, err = None, f"{type(e).__name__}: {e}"
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        ok = False
        t_check = time.monotonic()
        if err is None:
            try:
                ok = bool(op.check(result))
                if not ok:
                    err = "wrong answer"
            except Exception as e:
                err = f"check {type(e).__name__}: {e}"
        self.check_s += time.monotonic() - t_check
        s = Sample(op_id, op.kind, op.layer, start, end, ok, traced,
                   op.reference, op.info, group, err)
        if traced:
            self.tracer.add(op.kind, start, end, parent, op_id,
                            layer=op.layer, ok=ok, group=group)
        return s

    def build(self, fn: Callable[[], Any]) -> tuple[float, str]:
        """Run a set-up step (an index build) in its own Spark job group;
        returns (seconds, group) so the traced run can count its jobs."""
        group = f"pb-build-{len(self.setup_parts)}-{self.next_op}"
        self.next_op += 1
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group, False)
        try:
            t = time.monotonic()
            fn()
            return time.monotonic() - t, group
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    # ------------------------------------------------------- spark status
    def spark_cost(self, group: str | None) -> dict:
        """Jobs, stages, tasks, executorRunTime and inputRecords of one job
        group, read from Spark's status store."""
        out = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0,
               "input_records": 0}
        if group is None:
            return out
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        seen = set()
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:
                    continue  # skipped stage: never attempted
                out["stages"] += 1
                out["tasks"] += int(sd.numCompleteTasks())
                out["executor_run_ms"] += int(sd.executorRunTime())
                out["input_records"] += int(sd.inputRecords())
        return out

    def peak_rss_mb(self) -> tuple[float, float]:
        """Peak RSS of this Python process and of the JVM it drives."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        try:
            with open(f"/proc/{self.jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except (OSError, AttributeError):
            pass
        return py_kb / 1024.0, jvm_kb / 1024.0


# ----------------------------------------------------------------- helpers
def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine so far, for the share of CPU
    time the hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def machine_ms() -> float:
    """Milliseconds of a fixed single-threaded task (a Python loop and a
    numpy sort), median of five: the speed of the machine at that moment.
    On a shared machine every timing of a run can move by a quarter with
    the load of other guests, steal or no steal; this reading tells such
    a shift from a change of the program."""
    data = np.random.default_rng(0).random(200_000)
    xs = []
    for _ in range(5):
        t = time.monotonic()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        np.sort(data)
        xs.append((time.monotonic() - t) * 1000.0)
    return float(statistics.median(xs))


def quantile(values, p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted mean of
    all order statistics. With the few dozen samples a run has, it varies
    much less from run to run than the single order statistic a plain
    sample percentile picks."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cells = 2000  # integration cells per order statistic
    g = (np.arange(n * cells) + 0.5) / (n * cells)
    logpdf = (a - 1) * np.log(g) + (b - 1) * np.log1p(-g)
    w = np.exp(logpdf - logpdf.max()).reshape(n, cells).sum(axis=1)
    return float(w @ x / w.sum())


def median(values) -> float:
    return float(statistics.median(values))


def geomean(values) -> float:
    vals = [v for v in values if v > 0]
    return float(math.exp(sum(math.log(v) for v in vals) / len(vals)))


def file_sizes(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def dir_bytes(root: str) -> int:
    return sum(file_sizes(root).values())


class WriteMeter:
    """Bytes of files created under some roots, accumulated by diffing
    the file census before and after each write (so files a later
    compaction or cleanup removes still count)."""

    def __init__(self, roots: list[str]):
        self.roots = roots
        self.bytes = 0
        self._last = self._census()

    def _census(self) -> dict[str, int]:
        out = {}
        for r in self.roots:
            out.update(file_sizes(r))
        return out

    def step(self) -> tuple[int, int]:
        """(bytes created, files removed) since the last step."""
        now = self._census()
        new = sum(sz for p, sz in now.items()
                  if p not in self._last or sz != self._last[p])
        removed = len(set(self._last) - set(now))
        self.bytes += new
        self._last = now
        return new, removed


def zipf_index(rng, n: int, s: float = 0.6) -> int:
    """A Zipf-skewed index into a pool of ``n`` (0 is the hottest). With
    a steeper skew a family's median is the cost of its few hottest
    requests, which moves with the seed (an FTS query costs about half
    again as much when its terms sit in three posting files, not two)."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return int(rng.choice(n, p=w / w.sum()))


def rows_equal(a, b) -> bool:
    """Order-insensitive row-set equality of two collected results."""
    def norm(rows):
        return sorted(tuple(r) for r in rows)
    return norm(a) == norm(b)

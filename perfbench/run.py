"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analytics_scan --seed 1 \\
        --seconds 12 --trace 0

Run from the root of a checkout of the repository. Workloads:
analytics_scan, search_serving, ingest_mutate. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` is the traced run, which prints the
per-layer metrics. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
(``perfbench-report ...``) carries provenance, per-op-type breakdowns and
every ratio with its base. See perfbench/README.md.

The measurement runs in a child process in its own session; the parent
enforces a time limit and, when the child ends, kills and reaps whatever
the child left behind (the Spark JVM and its Python workers).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import threading
import time

from common import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
TIME_LIMIT_S = 175
WORK_DIR = ".perfbench-work"


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny: the smoke-test size")
    p.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def checkout_ok() -> bool:
    """The benchmark builds nothing: it needs the program's sources and the
    committed JVM plugin jar in the current directory."""
    return (os.path.isfile(os.path.join("lance_trino_spark", "__init__.py"))
            and os.path.isfile(os.path.join("jvm", "lance-jvm-catalog.jar")))


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            if int(fields[2]) == pgid and fields[0] != "Z":
                pids.append(int(d))
        except (OSError, IndexError, ValueError):
            pass
    return pids


def _reap_group(pgid: int) -> None:
    """Kill every process left in the child's session and wait for them."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10
        while _group_pids(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not _group_pids(pgid):
            return


def parent(argv) -> int:
    args = parse(argv)
    if not checkout_ok():
        print("perfbench: run from the root of a repository checkout "
              "(lance_trino_spark/ and jvm/lance-jvm-catalog.jar are "
              "missing here)", file=sys.stderr)
        return 2
    cwd = os.getcwd()
    work = os.path.join(cwd, WORK_DIR)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    # Spark's Python workers import the program from the checkout.
    env["PYTHONPATH"] = os.pathsep.join(
        [cwd, HERE] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep)
                       if p])
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    # the short-lived launcher JVM of spark-submit would write its perf
    # data file under /tmp
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env.pop("SPARK_HOME_CONF_DIR", None)
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv, "--child"],
        env=env, stdout=subprocess.PIPE, start_new_session=True, text=True)
    timed_out = []

    def expire():
        timed_out.append(True)
        _reap_group(proc.pid)
    timer = threading.Timer(TIME_LIMIT_S, expire)
    timer.start()
    last = None
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line
        code = proc.wait()
    finally:
        timer.cancel()
        _reap_group(proc.pid)
        if proc.poll() is None:
            proc.kill()
        proc.wait()
    if timed_out:
        code = None
    if code is None:
        print("perfbench: time limit exceeded", file=sys.stderr)
        return 3
    if code != 0 or last is None or not last.startswith("{"):
        print(f"perfbench: the run failed (exit {code})", file=sys.stderr)
        return code or 4
    return 0


def child(argv) -> int:
    t_start = time.monotonic()
    args = parse(argv)
    args.work_dir = os.path.join(os.getcwd(), WORK_DIR)
    sys.path.insert(0, os.getcwd())
    from runner import run

    result = run(args, t_start)
    print(json.dumps(result))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    argv = sys.argv[1:]
    if "--child" in argv:
        argv.remove("--child")
        sys.exit(child(argv))
    sys.exit(parent(argv))

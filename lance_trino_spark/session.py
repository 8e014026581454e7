"""SparkSession construction and per-session configuration.

Local testing runs on ``local[N]`` but every conf here is chosen to hold on a
multi-executor cluster: AQE for runtime re-planning (skew joins, coalescing),
shuffle partitions sized to cores (overridable for real clusters), Arrow for
any Python-boundary crossing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe (and desirable) to apply to an externally provided
# session at runtime — e.g. the verification driver's session.
RUNTIME_CONFS: dict[str, str] = {
    # The synthetic `events` table stores timestamp[ns]; Spark's parquet
    # reader has no ns type — read as long and convert (tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp semantics vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Fragments written by the format layer must round-trip through Arrow
    # readers type-exactly: INT96 (the legacy default) reads back as ns.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # format("lance") pushes predicates into the pyarrow fragment scan.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Adaptive execution: runtime shuffle-partition coalescing + skew joins.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (driver contract:
    `entry(spark)` receives a session we did not build). Memoized per
    session: this runs on every load_table call, and the seven py4j
    conf.set round-trips (~10 ms) are a fixed tax every suite query would
    otherwise re-pay. The memo is an attribute ON the session object
    (stamped with the applicationId), never a module-level set keyed on
    id(spark): CPython reuses object ids after GC, so a collected session
    could alias a new one (e.g. spark.newSession() with a fresh SQLConf)
    and silently skip the confs AND the scan-rebind correctness rule."""
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:
        app_id = None
    if app_id is not None and getattr(
            spark, "_lts_confs_applied", None) == app_id:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in this session; proceed with defaults
    install_pyds_scan_rebind(spark)
    if app_id is not None:
        try:
            spark._lts_confs_applied = app_id
        except Exception:
            pass
    return spark


_REBIND_RULE = "io.lancespark.PythonScanRebind"


def install_pyds_scan_rebind(spark: SparkSession) -> bool:
    """Install the PythonScanRebind optimizer rule on a LIVE session
    (idempotent). Upstream Spark 4.1.x defect: `PythonDataSourceV2`
    caches ONE readInfo (partitions + pickled read function) per
    TableProvider instance and `PythonScanBuilder.pushFilters`
    overwrites it on every push — so a self-union/self-join that reuses
    one `.load()` DataFrame under DIFFERENT pushed filters executes
    EVERY branch with the LAST branch's filters (silently wrong rows;
    the printed plan looks correct), and an UNFILTERED action after a
    filtered one on the same DataFrame executes the stale filtered
    partitions (df.count() shrinks). The JVM rule
    (jvm/src/io/lancespark/PythonScanRebind.java) rebinds each aliased
    PythonScan to a private PythonDataSourceV2 clone and re-pushes its
    own filters, and clears a solo unfiltered scan's stale slot;
    correctly-planned solo filtered scans are untouched. Injection uses
    `spark.experimental.extraOptimizations` (runtime-assignable — runs
    after V2ScanRelationPushDown, before physical planning), so the
    driver's externally built sessions get the fix through
    apply_runtime_confs. Returns True when the rule is active. The memo
    is an attribute on the session object (same id-reuse hazard as the
    conf memo above — see apply_runtime_confs)."""
    if getattr(spark, "_lts_rebind_installed", False):
        return True
    try:
        exp = spark._jsparkSession.experimental()
        cur = exp.extraOptimizations()
        it = cur.iterator()
        while it.hasNext():
            if it.next().getClass().getName() == _REBIND_RULE:
                spark._lts_rebind_installed = True
                return True
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        jar = os.path.join(repo, "jvm", "lance-jvm-catalog.jar")
        if not os.path.exists(jar):
            return False  # no compiled plugin in this deployment
        spark.sql(f"ADD JAR {jar}")
        jvm = spark._jvm
        gw = spark.sparkContext._gateway
        cls = jvm.org.apache.spark.util.Utils.classForName(
            _REBIND_RULE, True, False)
        rule = cls.getDeclaredConstructor(
            gw.new_array(jvm.java.lang.Class, 0)
        ).newInstance(gw.new_array(jvm.java.lang.Object, 0))
        rules = jvm.java.util.ArrayList()
        it = cur.iterator()
        while it.hasNext():
            rules.add(it.next())
        rules.add(rule)
        getattr(exp, "extraOptimizations_$eq")(
            jvm.org.apache.spark.api.python.PythonUtils.toSeq(rules))
        spark._lts_rebind_installed = True
        return True
    except Exception:
        return False  # degraded: the upstream aliasing hazard remains


def _default_driver_mem() -> str:
    """48g, capped at half the memory this process may use — the
    machine's physical memory, or its cgroup's limit when that is lower:
    a JVM heap allowed to outgrow either gets the whole process killed."""
    cap = 48 << 30
    try:
        cap = min(cap, os.sysconf("SC_PHYS_PAGES")
                  * os.sysconf("SC_PAGE_SIZE") >> 1)
    except (ValueError, OSError):
        pass
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:  # cgroup v2
            cap = min(cap, int(fh.read()) >> 1)
    except (OSError, ValueError):  # no cgroup v2 limit, or "max"
        pass
    return f"{cap >> 20}m"


def get_spark(
    app_name: str = "lance_trino_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # getOrCreate may have returned a pre-existing session: re-apply.
    return apply_runtime_confs(spark)

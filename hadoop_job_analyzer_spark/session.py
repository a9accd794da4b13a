"""Canonical SparkSession construction and session-conf hygiene.

Two confs are CORRECTNESS-critical (SURVEY.md §0.2, verified):

- ``spark.sql.legacy.parquet.nanosAsLong=true`` — some fixture
  generations store events.ts as timestamp[ns]; Spark 4.1.2 hard-errors
  on such files otherwise (harmless when the fixture is timestamp[us]).
- ``spark.sql.session.timeZone=UTC`` — collected timestamps must be
  tz-naive-equal to the DuckDB oracle's.

The rest is local-mode performance hygiene. ``apply_session_conf`` is
runtime-safe (all SQL confs) and is applied defensively at the top of
every registered query, because the driver may call queries() with a
session we did not build.
"""

from __future__ import annotations

import atexit
import os
import pathlib
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

from . import cds

# Runtime-settable SQL confs applied to ANY session before our queries run.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime partition coalescing + skew-join splitting; this is the
    # 100 TB story (plans re-size at every shuffle boundary from real stats).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
}


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


# The production streaming state store. The default HDFSBackedStateStore
# keeps every state row in JVM-heap maps and is measured to OOM an 8g
# driver/executor JVM one decade above bench SF (usershift_x256 session
# load, BASELINE.md r9 state-store A/B); RocksDB holds the same state
# off-heap in native files (93 MB JVM footprint at the same point) at
# −12%-to-noise wall cost everywhere measured. A user should not need to
# know this class string to make the production choice — hence the helper,
# which get_spark always applies.
ROCKSDB_STATE_STORE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def enable_rocksdb_state_store(spark: SparkSession) -> SparkSession:
    """One-call production state store: RocksDB (off-heap, spill-to-disk)
    instead of the heap-map default. Runtime-settable SQL conf — it is
    read at streaming-query start, so it applies to queries started after
    this call on ANY session (driver-provided included)."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        ROCKSDB_STATE_STORE_PROVIDER,
    )
    return spark


# applicationId values already shipped to. Keyed on applicationId, NOT
# id(sc) (ADVICE r7): after a stopped context is GC'd a new context can
# reuse the same id() and would silently skip addPyFile, reintroducing
# the worker ModuleNotFoundError this mechanism exists to fix; appIds
# embed the app start time and are fresh per context.
_PKG_SHIPPED: set[str] = set()
_PKG_ZIP: str | None = None


def _package_zip() -> str:
    """Zip this package once per process into a temporary directory that
    is removed at interpreter exit (again if a temp cleaner removed it)."""
    global _PKG_ZIP
    if _PKG_ZIP is None or not os.path.exists(_PKG_ZIP):
        pkg_dir = pathlib.Path(__file__).resolve().parent
        staging = tempfile.mkdtemp(prefix="hja_pyfiles_")
        atexit.register(shutil.rmtree, staging, True)
        zip_path = os.path.join(staging, "hadoop_job_analyzer_spark.zip")
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
            for p in sorted(pkg_dir.rglob("*.py")):
                z.write(p, f"{pkg_dir.name}/{p.relative_to(pkg_dir)}")
        _PKG_ZIP = zip_path
    return _PKG_ZIP


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Pythons via ``addPyFile``.

    UDF/UDTF closures that reference module-level helpers are pickled BY
    REFERENCE (cloudpickle's rule for importable modules), so every
    worker Python must be able to ``import hadoop_job_analyzer_spark``.
    Locally that works by accident when the driver's cwd is the repo
    root; on a real cluster — or a local driver started from any other
    directory — it fails with ModuleNotFoundError in the worker (seen
    live in verification/README.md r7 notes). ``addPyFile`` is the
    cluster-correct mechanism: the zip is distributed to every executor
    and prepended to worker ``sys.path``, making the engine
    self-contained regardless of deploy layout. The zip is built once per
    driver process (~100 .py files, metadata-sized) and shipped once per
    context; no-op on sessions without a reachable SparkContext (e.g.
    Spark Connect).
    """
    try:
        sc = spark.sparkContext
        app_id = sc.applicationId
    except Exception:
        return  # connect-mode session: no JVM-local context to ship through
    if app_id in _PKG_SHIPPED:
        return
    try:
        sc.addPyFile(_package_zip())
        _PKG_SHIPPED.add(app_id)
    except Exception:
        # Shipping is a robustness layer, not a correctness dependency in
        # the driver's own layout (repo-root cwd); never fail a query
        # over it.
        pass


def apply_session_conf(spark: SparkSession) -> SparkSession:
    """Set runtime SQL confs on an existing session (driver-provided or ours).

    Shuffle partitions: sized to local cores, not the 200 default — at
    bench scale (sf0.1) 200 tiny partitions burn scheduling time; on a
    real cluster this would be sized to ~2-3× total executor cores and
    AQE coalescing handles the rest.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — get_spark() sets it at build time
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(_default_parallelism()))
    except Exception:
        pass
    _ship_package(spark)
    return spark


# --- Transient-cache hygiene (r17, VERDICT r16 #7) --------------------
#
# Operators that persist a multi-consumer INTERMEDIATE (the rare-shingle
# index, LSH band frames, the edit-distance capped frame, …) cannot
# unpersist it at operator exit: the returned DataFrame is lazy and the
# consuming action runs caller-side, so an exit-time unpersist would
# drop the cache before its first use. Within one invocation that is
# fine (fresh session per bench/driver run), but a LONG-LIVED driver
# session accumulates one CacheManager entry per distinct plan. The
# registry below closes that leak with code: every such persist is
# registered (operators/_common.tpersist), and a long-lived session
# calls release_transient_caches() between pipeline runs — releasing
# ONLY the operator-internal caches, never the session's deliberate
# base-table caches (which spark.catalog.clearCache() would also drop).
# Note plan-identical re-invocations BETWEEN releases dedup to the same
# CacheManager entry, so entries grow with distinct plans, not calls.

_TRANSIENT_CACHES: list = []


def track_transient_cache(df):
    """Register an operator-internal persisted DataFrame for release.

    Holds a STRONG reference deliberately: the JVM-side cache outlives
    the Python DataFrame handle, so a weakref that dies before release
    would orphan the cached blocks (observed — the exact leak this
    registry exists to close). The handle itself is a few hundred bytes
    of py4j plumbing; the data lives in the cache either way."""
    _TRANSIENT_CACHES.append(df)
    return df


def release_transient_caches(blocking: bool = False) -> int:
    """Unpersist every registered operator-internal cache; returns the
    number released. Safe to call at any time: results already
    materialized (localCheckpoint/collected) are unaffected, and lazy
    frames not yet executed simply recompute without the cache."""
    n = 0
    for df in _TRANSIENT_CACHES:
        try:
            df.unpersist(blocking=blocking)
            n += 1
        except Exception:
            pass
    _TRANSIENT_CACHES.clear()
    return n


def get_spark(app_name: str = "hja-spark", master: str | None = None) -> SparkSession:
    """Build the engine's own session (tests, bench, CLI use).

    The driver JVM starts with a class-data sharing archive of Spark's
    classes (see ``cds``), kept in ``$XDG_CACHE_HOME/hadoop_job_analyzer_spark``
    (``~/.cache/...`` when that is unset). The first run on a machine
    writes it at JVM exit (a slower run, and a dump of about 15 s at
    exit); later runs check and use it, which roughly halves session
    start. It is skipped, and the JVM starts as without it, when the
    Spark conf directory holds real files, driver JVM options are already
    set, or the cache directory cannot be written. Delete the directory
    for a cold measurement.
    """
    cpus = _default_parallelism()
    master = master or os.environ.get("HJA_MASTER", f"local[{cpus}]")
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("HJA_DRIVER_MEM", "8g"))
    )
    for k, v in RUNTIME_CONF.items():
        b = b.config(k, v)
    launch = cds.driver_launch()
    if launch is None:
        spark = b.getOrCreate()
    else:
        with launch.environment():
            spark = b.config("spark.driver.extraJavaOptions", launch.java_options).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    enable_rocksdb_state_store(spark)
    return apply_session_conf(spark)

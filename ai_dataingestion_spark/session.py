"""SparkSession factory with the engine's scale-aware configuration.

Every knob here is chosen for the 100 TB posture first and local testing
second (SURVEY.md §7.3):

- AQE on (runtime partition coalescing, skew-join splitting, plan re-opt) —
  at 100 TB, static shuffle-partition counts are always wrong somewhere.
- ``spark.sql.shuffle.partitions`` defaults to a local-friendly count but is a
  parameter: on a real cluster set it ~2-3x total cores; AQE coalesces down.
- Arrow enabled for every Python<->JVM data crossing (pandas UDFs, toPandas).
- Session timezone pinned to UTC so TIMESTAMP_NTZ columns (o_orderdate,
  l_shipdate) and TIMESTAMP<->NTZ casts are deterministic (SURVEY.md §5.4).
- ``spark.sql.legacy.parquet.nanosAsLong=true``: the events table carries a
  parquet TIMESTAMP(NANOS) column that Spark 4.x refuses to read natively
  (PARQUET_TYPE_ILLEGAL). The registry converts the raw nanos long to
  TIMESTAMP_NTZ at load (registry.py).
- ``local[N]`` sessions run their Python workers under the engine's own
  PySpark daemon (``worker_daemon.py``), which spares a reused worker the
  per-task re-read of Spark's zip archives and the per-task scan of its
  import-time heap. Only sessions built here get it: the daemon module is
  read when the Python worker factory starts, so it cannot be set at
  runtime, and a driver-provided session (``ensure_session_conf``,
  ``scripts/driver_sim.py``) keeps PySpark's stock daemon. A cluster master
  keeps it too, since its executors may not have the engine installed.
"""

from __future__ import annotations

import os

from pyspark import SparkConf
from pyspark.sql import SparkSession

# the directory holding the ai_dataingestion_spark package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CGROUP_PATHS = (
    "/sys/fs/cgroup/memory.max",  # v2 unified hierarchy (cgroup namespace)
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # v1 root
)


def _own_cgroup_paths(proc_cgroup: str = "/proc/self/cgroup") -> tuple[str, ...]:
    """Limit files for the cgroup THIS process belongs to (ADVICE r9): in a
    non-root cgroup without a cgroup namespace (a systemd slice, a container
    sharing the host cgroupfs), the limit lives under the subpath from
    /proc/self/cgroup — probing only the root paths silently misses it and
    falls back to host-RAM sizing, the exact swap/OOM scenario the sizing
    exists to avoid. Returns () when unresolvable (then the root fallbacks
    in _CGROUP_PATHS still apply)."""
    paths: list[str] = []
    try:
        with open(proc_cgroup) as f:
            for line in f:
                # v2: "0::/some/slice"   v1: "N:memory:/some/slice"
                parts = line.strip().split(":", 2)
                if len(parts) != 3:
                    continue
                _, controllers, sub = parts
                sub = sub.lstrip("/")
                if controllers == "" and sub:  # v2 unified entry
                    paths.append(f"/sys/fs/cgroup/{sub}/memory.max")
                elif "memory" in controllers.split(",") and sub:  # v1
                    paths.append(
                        f"/sys/fs/cgroup/memory/{sub}/memory.limit_in_bytes"
                    )
    except OSError:
        return ()
    return tuple(paths)


def _cgroup_mem_limit_gb(paths: tuple[str, ...] | None = None) -> float | None:
    """Container memory limit in GiB, if one applies (ADVICE r8: sysconf
    reports HOST RAM inside cgroup-limited containers, so a 64 GB host with
    an 8 GB container limit would still get a 24g heap and hit exactly the
    swap/OOM-killer failure the sizing exists to avoid). Probes the
    process's OWN cgroup subpath first (ADVICE r9), then the v2 root
    ``memory.max`` and v1 root ``memory.limit_in_bytes``; "max" / absurdly
    large sentinels (>=2^60, the no-limit convention) mean unlimited ->
    None. ``paths`` is parameterized for tests only."""
    if paths is None:
        paths = _own_cgroup_paths() + _CGROUP_PATHS
    for path in paths:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw == "max":
            return None
        try:
            limit = int(raw)
        except ValueError:
            continue
        if 0 < limit < 2**60:
            return limit / (1024**3)
    return None


def _default_driver_mem(cap_gb: int = 24) -> str:
    """Bench-stable 24g, bounded by ~60% of AVAILABLE physical RAM (minimum
    2g to stay above the broadcast-build floor), where available = min of
    sysconf-detected host RAM and any cgroup container limit (ADVICE r8).
    The 60% bound deliberately trims hosts between 24 and 40 GB too (e.g.
    32 GB -> 19g), not only <24 GB hosts: the heap is not the process — JVM
    metaspace/off-heap, Python UDF workers, and the OS page cache for
    parquet scans share the same RAM, and a 24g heap on a 32 GB host swaps
    under exactly the wide shuffles the big heap exists for. Hosts >=40 GB
    get the full 24g. Detection failures fall back to the cap — the
    historical default. SPARK_GRAFT_DRIVER_MEM overrides for bench-parity
    runs on small hosts."""
    try:
        phys_gb = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        ) / (1024**3)
    except (ValueError, OSError, AttributeError):
        return f"{cap_gb}g"
    cg_gb = _cgroup_mem_limit_gb()
    if cg_gb is not None:
        phys_gb = min(phys_gb, cg_gb)
    return f"{max(2, min(cap_gb, int(phys_gb * 0.6)))}g"


def session_builder(
    app_name: str = "ai_dataingestion_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession.Builder:
    """Return a pre-configured builder; callers may add overrides before build.

    ``master=None`` leaves cluster selection to spark-submit / the environment
    (the right default on a real cluster); tests and local tools pass
    ``local[N]`` explicitly or rely on SPARK_GRAFT_CPUS.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if cpus:
            master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        shuffle_partitions = max(8, int(cpus))

    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    default_mem = _default_driver_mem()
    # Optional GC/JVM flags for the local driver JVM (e.g. "-XX:+UseZGC" to
    # trade some throughput for pause stability in bench runs). Launch-time
    # only, like driver.memory.
    java_opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS")
    if java_opts:
        b = b.config("spark.driver.extraJavaOptions", java_opts)
    if master and master.startswith("local"):
        b = _engine_worker_daemon(b)
    return (
        # local mode runs every task inside the driver JVM; the 1g default
        # heap OOMs on any broadcast build beyond toy scale (measured at
        # 10x sf0.1), and 8g showed up-to-4x GC-pause swings on the
        # warm-cached bench suite (BASELINE.md round-5 infra findings).
        # Default: bench-stable 24g, capped at ~60% of detected physical
        # RAM (ADVICE r7: a fixed 24g on a <24 GB host exceeds physical
        # memory and trades a clean in-JVM failure for swap/OOM-killer).
        # Only effective at JVM launch — a no-op when the driver hands us
        # an already-started session; SPARK_GRAFT_DRIVER_MEM overrides.
        b.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_mem),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Deterministic float formatting & parquet behavior across reruns.
        .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
        .config("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
        .config("spark.ui.showConsoleProgress", "false")
    )


def _engine_worker_daemon(b: SparkSession.Builder) -> SparkSession.Builder:
    """Run Python workers under ``worker_daemon``. The daemon starts before
    any task ships files to the worker, so the package root goes on the
    workers' PYTHONPATH: whatever the driver's working directory, the
    daemon imports. A value the running JVM's conf already holds (a gateway
    started earlier in this process) is kept after it."""
    key = "spark.executorEnv.PYTHONPATH"
    paths = [_PACKAGE_ROOT] + [
        p for p in SparkConf().get(key, "").split(os.pathsep) if p and p != _PACKAGE_ROOT
    ]
    return b.config("spark.python.daemon.module", "ai_dataingestion_spark.worker_daemon").config(
        key, os.pathsep.join(paths)
    )


def get_spark(
    app_name: str = "ai_dataingestion_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch the active) SparkSession with engine configuration."""
    return session_builder(app_name, master, shuffle_partitions).getOrCreate()


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine confs to an externally-built session.

    The driver hands us an already-built SparkSession; most engine confs are
    runtime-settable and applied here. ``nanosAsLong`` is read at reader
    construction time, so it works as a runtime conf too.
    The worker daemon (``worker_daemon.py``) is launch-time only, so such a
    session keeps PySpark's stock daemon.
    """
    runtime = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
    for k, v in runtime.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment; builder-configured sessions have it
    return spark

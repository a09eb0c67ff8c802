"""SparkSession factory with scale-oriented defaults.

The reference issues Hive tuning flags (``hive.cbo.enable`` etc.,
``verizon_automation_script.sh:99-103``) that never reach its queries
(SURVEY §2.8.7). Here the equivalents — AQE, CBO-ish runtime re-planning,
Arrow transfers — are applied once, on the session, where they actually
take effect.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_cpus() -> str:
    """CPUs this process may run on (its affinity mask, as ``nproc`` counts)."""
    try:
        return str(len(os.sched_getaffinity(0)))
    except AttributeError:  # no sched_getaffinity on this platform
        return str(os.cpu_count() or 1)


# Local task slots and shuffle partitions default to the CPUs this process
# may use; on a real cluster the env knobs (or spark-submit conf) override.
_HOST_CPUS = _host_cpus()
_DEFAULT_SHUFFLE_PARTITIONS = os.environ.get(
    "SPARK_GRAFT_SHUFFLE_PARTITIONS", _HOST_CPUS
)
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", _HOST_CPUS)


def _default_driver_mem() -> str:
    """Local-mode JVM heap default, adaptive to the host.

    A fixed 24g default overcommits small hosts (the JVM reserves the
    heap ceiling lazily, but a loaded box can still OOM-kill the
    process). Take ~half of physical RAM, clamped to [4g, 24g]; the
    SPARK_GRAFT_DRIVER_MEM env var stays the explicit override.
    """
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(4, min(24, total_gib // 2))}g"
    except OSError:
        pass
    # no /proc/meminfo (macOS/Windows): probe total RAM portably via
    # sysconf before resorting to a constant — a silent drop to 8g
    # could OOM local workloads that used to fit on large-RAM hosts
    try:
        pages = os.sysconf("SC_PHYS_PAGES")
        page_size = os.sysconf("SC_PAGE_SIZE")
        if pages > 0 and page_size > 0:
            total_gib = (pages * page_size) // (1024**3)
            return f"{max(4, min(24, total_gib // 2))}g"
    except (ValueError, OSError, AttributeError):
        pass
    return "8g"


def get_spark(app_name: str = "hive_scripts_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Defaults chosen for the 100 TB posture:

    * **AQE on** (coalesce post-shuffle partitions, runtime broadcast
      conversion, skew-join splitting) — replaces the reference's
      ineffective Hive CBO flags.
    * **Arrow on** for any Pandas-UDF path (the only Python hot paths we
      allow are Arrow-batched).
    * **ANSI on** (Spark 4 default kept): typed errors over silent wrap.
    * **single-threaded BLAS in Python workers**: Spark already
      parallelizes the numpy paths (`ivf_assign`, `semantic_dedup`'s
      cell matmuls, PQ LUTs) across one worker per input split; a
      multi-threaded OpenBLAS/MKL inside EACH worker
      oversubscribes the box N× and thrashes (measured: the 1M×2048
      coarse assignment warm 13.5 → 8.8 s with the pin). ``setdefault``
      so an explicit user env always wins; must be set before the JVM
      launches (local-mode python workers inherit this process's env).
    """
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.appName(app_name)
        # local-mode JVM heap: Spark's default is 1g, shared by the
        # driver AND all local[N] task threads — 32 concurrent tasks in
        # one gigabyte is the first thing that falls over on any
        # join/agg with real fan-out (observed: heap OOM on an 80k-doc
        # near-dup A/B while the box sat on >100 GiB free). Only
        # effective for the process's FIRST session (the JVM is already
        # up afterwards — ignored then, harmless); the external
        # driver's vanilla session keeps its own defaults, which its
        # sf0.01 workload fits comfortably. Default adapts to host RAM
        # (half of physical, clamped 4-24g) so small hosts don't
        # overcommit; env var is the explicit override.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", _DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # canonical engine time zone: timestamp semantics (incl. the
        # TIMESTAMP_NTZ → TIMESTAMP cast in sources.events) are UTC-pinned
        .config("spark.sql.session.timeZone", "UTC")
        # tolerate TIMESTAMP(NANOS) parquet (no native Spark type): read as
        # long, normalized dtype-driven in sources.events.normalize_event_ts
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{_DEFAULT_CPUS}]")
    # SPARK_GRAFT_HIVE=1 → persistent Hive metastore (derby locally, a
    # real metastore on a cluster): databases survive across processes —
    # the reference's deployment model (`use $db`); off by default since
    # the in-memory catalog is faster for tests.
    if os.environ.get("SPARK_GRAFT_HIVE"):
        builder = builder.enableHiveSupport()
    return builder.getOrCreate()

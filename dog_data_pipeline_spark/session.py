"""SparkSession factory tuned for the engine.

Defaults target local[N] testing but every knob is chosen for cluster
scale: AQE on (runtime join-strategy switching, skew splitting, partition
coalescing), UTC session timezone (oracle comparability; duckdb timestamps
are UTC-naive), Arrow for any pandas exchange, and shuffle partitions
sized to cores locally (on a real cluster this is overridden to ~2-3x
total cores or left to AQE's coalescing).

Runtime bloom-filter join pruning (InjectRuntimeFilter) is left at its
DEFAULT-ON state deliberately: a selective dim-side filter spawns a
bloom over the join keys that pre-filters the fact scan before the join
shuffle — but only when the fact side scans > 10 GiB (the default
application-side threshold), which is exactly the regime where it pays.
Forcing it on at test scale would tax every tiny join; the mechanism is
pinned by tests/test_plans.py with thresholds scaled down.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else 24g capped at half the machine's
    physical memory (local mode: the driver heap is the executor heap)."""
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{max(1, min(24, phys_gb // 2))}g"


def get_spark(
    app_name: str = "dog-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: driver == executor, and Spark's 1g default heap is
        # the first thing to fall over on join fan-outs; size it to the
        # box (this is a build-time conf — no effect on running sessions)
        .config("spark.driver.memory", _driver_memory())
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to executor python workers via ``addPyFile``.

    Column-expression operators never need it, but Python UDFs whose
    closures reference package modules (the multimodal codec) require
    the package importable ON THE WORKERS — which a driver that merely
    put the repo on ITS OWN sys.path does not guarantee. This is the
    same mechanism used to ship application code to a real cluster.
    Idempotent per session.
    """
    marker = "_ddps_pyfile_shipped"
    sc = spark.sparkContext
    if getattr(sc, marker, False):
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(
        tempfile.gettempdir(), f"dog_data_pipeline_spark_{os.getpid()}"
    )
    zip_path = shutil.make_archive(base, "zip", os.path.dirname(pkg_dir),
                                   os.path.basename(pkg_dir))
    sc.addPyFile(zip_path)
    setattr(sc, marker, True)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable configs to an existing session.

    The driver harness constructs its own SparkSession; this applies the
    subset of our tuning that can be set post-startup (timezone, AQE,
    shuffle partitions). Static configs (memory, master) are left alone.
    """
    cpus = _cpus()
    for k, v in [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.shuffle.partitions", str(cpus)),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this session; keep going
    return spark

"""SparkSession factory tuned for this engine.

The reference parallelizes with a dask threaded scheduler sized to
cores-1 (/root/reference/geo_inference/geo_inference.py:189-197); the
Spark analogue is local task slots + shuffle partitions, set here. The
master is always ``local[cores]``: the driver JVM is the only JVM, and
runs every task.

Python workers start from ``geo_inference_spark.worker_daemon``, not
``pyspark.daemon``. The workers import pyspark from ``pyspark.zip``;
below Python 3.13, the ``importlib.invalidate_caches()`` pyspark runs
before each task re-reads every zip archive on the path, which was
most of a short task's ~200 ms fixed cost. The daemon module re-reads
only an archive that changed (see its docstring).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# where the driver imported this package from (a directory, or the zip
# of a --py-files submit): the worker daemon is imported from here,
# before any task could add the package to the workers' path
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_heap() -> str:
    """Half the host's memory, capped at 24g: one JVM runs every task
    (task slots x per-task state + broadcasts + cached sigs), and an
    8g heap was GC-bound at 32 slots."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(f.readline().split()[1])  # MemTotal: N kB
    except OSError:  # no /proc: not Linux
        return "24g"
    return f"{min(24 * 1024, total_kb // 2048)}m"


def get_spark(
    app_name: str = "geo_inference_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) a ``local[cores]`` SparkSession with Arrow enabled.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all cores. The driver
    heap defaults to half the host's memory, at most 24g;
    $SPARK_DRIVER_MEM overrides it. Adaptive execution and the Arrow
    batch size are left at Spark's defaults. ``extra_conf`` overrides
    any setting here; ``{"spark.python.daemon.module": "pyspark.daemon"}``
    restores the stock worker daemon.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    # single-threaded BLAS in python workers: with `cores` concurrent
    # tasks per host, per-task BLAS thread pools oversubscribe the
    # machine. Workers inherit this process's env (local mode), so it
    # must be set before the JVM/daemon starts; setdefault keeps any
    # user override.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    if shuffle_partitions is None:
        # 2x task slots keeps all slots busy under AQE coalescing
        shuffle_partitions = max(2 * cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_heap())
        # Whole-stage-codegen methods routinely exceed HotSpot's
        # 8000-bytecode DontCompileHugeMethods limit; when that
        # happens the JVM silently runs the hot generated method
        # INTERPRETED — measured here as a 5 s vs 20-56 s bimodal
        # swing on the dedup verify join before its expression was
        # restructured. Lifting the limit (plus code cache headroom)
        # is the standard Spark production setting.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m",
            ),
        )
        .config("spark.python.daemon.module", "geo_inference_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()

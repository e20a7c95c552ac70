"""SparkSession factory tuned for this engine.

The reference parallelizes with a dask threaded scheduler sized to
cores-1 (/root/reference/geo_inference/geo_inference.py:189-197); the
Spark analogue is executor task slots + shuffle partitions, set here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "geo_inference_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) a local SparkSession with Arrow + AQE enabled.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all cores. On a real
    cluster the same configs apply; only ``master`` changes (set via
    spark-submit, never hardcoded here).
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
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: the driver JVM IS the executor — size its heap to
        # the machine (task slots x per-task state + broadcasts +
        # cached sigs), not the 8g default that caused GC-bound
        # variance at 32 slots. Parameterized: a real cluster sets
        # executor memory via spark-submit instead.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # Whole-stage-codegen methods routinely exceed HotSpot's
        # 8000-bytecode DontCompileHugeMethods limit; when that
        # happens the JVM silently runs the hot generated method
        # INTERPRETED — measured here as a 5 s vs 20-56 s bimodal
        # swing on the dedup verify join before its expression was
        # restructured. Lifting the limit (plus code cache headroom)
        # is the standard Spark production setting and is
        # scale-independent; in local mode the driver JVM is the
        # executor, a cluster passes the same flags per executor.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m",
            ),
        )
        .config(
            "spark.executor.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_EXECUTOR_JAVA_OPTS",
                "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m",
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _warm_python_workers(spark, cores)
    return spark


def _warm_python_workers(spark: SparkSession, cores: int) -> None:
    """Start one python worker per task slot and touch the heavy
    imports (pandas/numpy/pyarrow plus this engine's own operator
    modules) and the first BLAS gemm ONCE at session build, instead
    of letting whichever query happens to run the first pandas-UDF
    stage pay the fork+import+init cost (measured ~6 s landing on the
    first geocode query of a fresh session). A second tiny job warms
    the JVM query machinery the first real queries otherwise pay for
    one by one — the codegen compiler (janino), BroadcastHashJoin,
    HashAggregate, Window and Sort exec classes (measured ~3 s spread
    over the first queries of a fresh session). Both run on synthetic
    range data — no input table is touched and nothing is cached.
    Runs once per session; skip with SPARK_GRAFT_NO_WORKER_WARM=1
    (e.g. for UDF-free jobs)."""
    if os.environ.get("SPARK_GRAFT_NO_WORKER_WARM"):
        return
    if getattr(spark, "_graft_workers_warm", False):
        return

    def _warm(batches):
        import numpy as _np
        import pandas as _pd  # noqa: F401

        # engine modules the pandas UDFs resolve by reference: import
        # them once per worker now so the first geocode/refine/decode
        # batch of a real query does not pay the package import
        for _m in (
            "geo_inference_spark.operators.pip_join",
            "geo_inference_spark.operators.geocode",
            "geo_inference_spark.grid.hexgrid",
            "geo_inference_spark.geom.wkb",
            "geo_inference_spark.raster.polygonize",
            "geo_inference_spark.sources.jpeg",
            "geo_inference_spark.text.dedup",
        ):
            try:
                __import__(_m)
            except Exception:
                pass
        a = _np.random.rand(64, 64)
        a @ a  # first gemm initializes the BLAS runtime
        for b in batches:
            yield b

    try:
        # CHAINED three-eval pipeline: a task holds one python worker
        # PER eval node in its pipeline, so the deepest chain in the
        # workload (forge -> extract -> decode) needs up to 3x cores
        # workers concurrently — a pool of only `cores` forced waves of
        # fresh forks (numpy import each) onto the first deep query
        # (ps-measured: +32 workers on the first pages_per_area, +33
        # more on the first warc_pipeline). Warm the 3-deep shape once.
        spark.range(0, cores, 1, cores).mapInPandas(
            _warm, "id long"
        ).mapInPandas(_warm, "id long").mapInPandas(_warm, "id long").count()
        # the RDD API (executor-side forges, big-regime CC) draws from
        # a separate python worker pool — touch it once too
        def _warm_rdd(it):
            import numpy  # noqa: F401
            import pandas  # noqa: F401
            return it

        spark.sparkContext.parallelize(
            range(cores), cores
        ).mapPartitions(_warm_rdd).count()
        # JVM exec-path warm: broadcast join + hash agg + window +
        # sort in one small action over range data
        from pyspark.sql import Window as _W
        from pyspark.sql import functions as _F

        a = spark.range(0, 10000).select(
            "id", (_F.col("id") % 97).alias("k")
        )
        b = spark.range(0, 97).select(_F.col("id").alias("k"))
        (
            a.join(_F.broadcast(b), "k")
            .groupBy("k")
            .agg(_F.count(_F.lit(1)).alias("n"), _F.max("id").alias("m"))
            .withColumn(
                "rn",
                _F.row_number().over(
                    _W.partitionBy(_F.col("k") % 7).orderBy(_F.desc("n"))
                ),
            )
            .orderBy("k")
            .count()
        )
    except Exception:
        pass  # warm-up must never fail session creation
    spark._graft_workers_warm = True

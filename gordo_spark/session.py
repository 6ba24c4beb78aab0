"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configs below are chosen so the same
logical plans scale to a real cluster: AQE for runtime re-planning (skew
joins, partition coalescing), UTC session time (the reference rejects naive
timestamps — gordo/machine/validators.py:234-254), Arrow for the pandas-UDF
slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gordo_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you would size it to ~2-3x total executor cores and let AQE
    coalesce; locally 200 default just adds scheduling overhead.

    PySpark's DataFrame call-site capture is off
    (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
    every ``functions``/``Column`` call walks the Python stack, tries to
    import IPython, reads a conf and sets the origin in the JVM — about
    280 captures per served anomaly request. The cost of turning it off: an AnalysisException's query
    context no longer names the Python ``file:line`` that built the
    failing expression. Pass the conf as ``"true"`` in ``extra_conf`` to
    get it back while debugging (it is read once per process, at the
    first PySpark call made under an active session).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true): the round-11
        # optimization pass A/B-tested false + advisory=64m (the
        # "respect the advisory size" posture Spark's config doc suggests)
        # over 20 queries x 3 interleaved process pairs and it LOST 1.39x
        # overall (lsh_recall 3x, pagerank/textrank 1.7x) — coalescing
        # small exchanges to one task forfeits in-stage parallelism worth
        # far more than the per-task scheduling it saves, at bench scale
        # and below. Cluster deployments can still override via extra_conf.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Pin native BLAS/OMP pools inside Python workers to ONE thread
        # (guide §4.5): Spark already runs one worker per task slot, so a
        # multi-threaded GEMM inside each of N concurrent workers
        # oversubscribes the host N-fold (observed: cold mapInPandas
        # stages stalling at local[32] while the same query runs clean at
        # local[8]). Parallelism belongs to Spark's task scheduler, not
        # the library pool. executorEnv reaches the pyspark worker daemon
        # in both local and cluster mode; the vars must be set before the
        # worker imports numpy, which env-inheritance guarantees.
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.executorEnv.NUMEXPR_NUM_THREADS", "1")
        .config("spark.executorEnv.VECLIB_MAXIMUM_THREADS", "1")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory with scale-oriented defaults.

The engine is designed for a multi-executor cluster at ~100 TB scale; these
confs are the ones that matter there (AQE, skew-join handling, Arrow batching)
and they work identically on local[N] where tests/benches run.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "sher-look-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the crawl/analytics engine.

    On a real cluster this is invoked via ``spark-submit --py-files`` and
    ``master`` is inherited; locally we default to all cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        if cpus != "*":
            shuffle_partitions = max(2 * int(cpus), 8)
        else:
            shuffle_partitions = 32

    # Python workers inherit this process's environment in local mode: pin
    # BLAS to one thread per worker so 32 concurrent codec workers don't
    # oversubscribe cores with library-internal thread pools (the payload
    # math is small-matrix numpy; BLAS threading only adds contention).
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    # GC-thread cap: on a 32-core box G1 defaults to ~23 parallel GC threads
    # in ONE shared JVM; round-4 stage-isolation probes measured the cap
    # recovering ~10% of the JVM-side CPU share at local[32] (the payload
    # path churns large short-lived Arrow buffers, so GC runs often). On a
    # real multi-executor cluster each executor JVM is small and this is the
    # per-executor default posture anyway.
    gc_opts = (
        "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2 "
        "-XX:+UseG1GC -XX:G1HeapRegionSize=16m"
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing, skew-join splitting — essential for the
        # hot-host skew the frontier shuffle produces (SURVEY §4).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Let AQE coalesce/replan inside cached plans too — iterative jobs
        # (PageRank) persist every iterate, and without this each cached
        # step executes its shuffles at the full static partition count.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Arrow for every pandas UDF / toPandas hop.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Timestamps: keep parquet round-trips deterministic.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_JVM_OPTS", gc_opts),
        )
        # one python worker per core, reused across stages (default true but
        # pinned explicitly: a cold worker pays numpy import per stage)
        .config("spark.python.worker.reuse", "true")
        # PySpark's per-DataFrame-call error-context capture walks the
        # Python stack and pushes the call site to the JVM on EVERY
        # transformation — measured ~30% of query-construction time in the
        # wave loop / LSH builders (pure driver overhead, identical on any
        # cluster). The flag exists precisely to trade that debug context
        # away; errors still carry the JVM-side plan context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Everything is PROCESS_LOCAL in local mode (and node-local on a
        # co-located cluster); never idle a core waiting for locality.
        .config("spark.locality.wait", "0s")
        .config("spark.ui.enabled", "false")
        # Python workers import sher_look_spark by name; put the package
        # root on their path, so that a driver started outside the repo
        # (without PYTHONPATH) does not leave every worker failing to import
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

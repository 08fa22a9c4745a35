"""SparkSession factory tuned for the engine.

Arrow transfer on (all UDF stages are pandas/Arrow batched — no per-row
Python anywhere, per the engine contract), AQE on (runtime re-planning +
skew-join mitigation), modest shuffle partitions for local mode (overridden
by cluster conf in production).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# default shuffle parallelism = the session's core count, DERIVED from
# the master string (r7): the old literal 32 merely coincided with the
# bench core count.  A 4× default was tried and measured: it cost the
# multi-pass tiled kNN ladder ~0.8-1 s of pure task overhead per entry
# at sf0.1 (knn_join_tiled 1.81 s at 1× vs 2.64 s at 4×, min-of-3
# A/B) and bought nothing at sf1.0 once the candidate-ranking redesign
# removed the only wide exchange (its probe repartition carries its own
# explicit 4× factor).  Clusters override via SPARK_SHUFFLE_PARTITIONS
# or session conf exactly as before; AQE coalescing stays on.
DEFAULT_SHUFFLE_PARTITIONS = 0  # 0 → derive from the master's core count


def get_spark(
    app_name: str = "geostatssolvers-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    In the sandbox we run ``local[N]``; on a real cluster the same confs
    apply (AQE handles the runtime partition coalescing at 1000-executor
    scale, maxRecordsPerBatch bounds Arrow batch memory inside pandas UDFs).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1
    master = master or f"local[{cpus}]"
    # make the engine package importable on executor Python workers; on a
    # real cluster the same is done via `spark-submit --py-files pkg.zip`
    # one BLAS thread per task: parallelism comes from Spark partitions;
    # nested OpenBLAS/OMP threading across 32 workers thrashes the cores
    # (mirrors the reference's own FFTW-threads-vs-partitions tradeoff,
    # SURVEY.md §4)
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{pypath}" if pypath else pkg_parent
        )
    try:  # "local[32]" → 32; "local[*]" / cluster masters → os cpus
        ncores = int(master.split("[")[1].rstrip("]"))
    except (IndexError, ValueError):
        ncores = os.cpu_count() or 8
    sp = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    ) or ncores
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        # local-mode JVM = driver AND all executors: size the heap to the
        # TASK count, not to a driver's usual footprint (guide §5).  8g
        # across 32 concurrent tasks left ~150 MB of execution memory
        # each — wide aggregations spilled every run.  ~0.75 GB/task,
        # env-overridable; real clusters size spark.executor.memory
        # instead and this conf reverts to a plain driver heap.
        .config("spark.driver.memory", os.environ.get(
            "SPARK_DRIVER_MEM", f"{max(8, (3 * ncores) // 4)}g"))
        # small single-file parquet inputs otherwise scan as 1-2 tasks
        # and every no-shuffle chain downstream (explode scoring, kernel
        # mapInPandas) inherits that width.  16m splits a ~100 MB input
        # across the local cores; production bulk scans override UP
        # (512m-1g per guide §6) via SPARK_MAX_PARTITION_BYTES.
        .config("spark.sql.files.maxPartitionBytes", os.environ.get(
            "SPARK_MAX_PARTITION_BYTES", "16m"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def sql_arg(df: DataFrame) -> DataFrame:
    """``df`` as a ``spark.sql`` DataFrame argument that keeps a caller's
    cache.  Spark binds the argument as a temporary view and drops it
    after analysis, and dropping a view uncaches the cached plan equal to
    the view's own (`CacheManager.uncacheQuery`), so a persisted input
    bound as is would come back uncached and go unread by the query.  An
    always-true filter gives the view a plan that no cache entry equals,
    while the query still reads the cached input (`InMemoryTableScan`);
    `PruneFilters` removes the filter, so an uncached input plans as
    before."""
    return df.filter(F.lit(True))

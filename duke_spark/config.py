"""SparkSession factory with the engine's scale-oriented defaults.

Defaults chosen for the 100 TB design point, scaled down by env for the
local[N] sandbox:
  * AQE on (runtime re-plan, post-shuffle coalesce, skew-join splitting) —
    the skew half of SURVEY B8;
  * Arrow batches sized so each pandas-UDF matmul is BLAS-efficient
    (SURVEY §4 item 3);
  * shuffle partitions default to ``max(8, SPARK_GRAFT_CPUS)`` (32 when
    unset); AQE coalesces small post-shuffle partitions at runtime, but
    not the output partitioning of a persisted (cached) plan, whose last
    stage keeps all of them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


WORKER_ENV = (("OPENBLAS_NUM_THREADS", "1"), ("OMP_NUM_THREADS", "1"),
              ("MKL_NUM_THREADS", "1"),
              ("MALLOC_MMAP_THRESHOLD_", "1073741824"),
              ("MALLOC_TRIM_THRESHOLD_", "1073741824"))


def _set_worker_env() -> None:
    """Worker-process environment:

    * one BLAS thread per task — tasks are the parallelism unit; letting
      OpenBLAS spawn nproc threads per worker oversubscribes the box;
    * glibc malloc mmap/trim thresholds raised to 1 GiB — the linking
      kernel allocates/frees 100s-of-MB NumPy buffers per Arrow batch,
      and default glibc serves those via mmap/munmap, whose TLB-shootdown
      IPIs serialize across many cores (measured 5× throughput loss at
      local[32]); keeping them on the heap lets workers reuse pages;
    * the directory holding ``duke_spark`` first on ``PYTHONPATH`` — a
      job script started from another working directory puts the package
      on its own ``sys.path`` only, and local-mode workers do not inherit
      that (``spark-submit`` ships the package with ``--py-files``).

    Two delivery channels, both needed:
    * ``os.environ`` here — covers plain-``python`` launches, where this
      process becomes the parent of the JVM and hence of every local-mode
      Python worker;
    * ``spark.executorEnv.*`` in :func:`get_spark` — covers
      ``spark-submit``, where the JVM is the parent (workers inherit ITS
      env, not this process's) and real clusters, where executors run on
      other hosts. PySpark threads executorEnv through the Python worker
      factory in local mode too, so both paths see the same settings.
    """
    for k, v in WORKER_ENV:
        os.environ.setdefault(k, v)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
             if p]
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([root] + paths)


def get_spark(app_name: str = "duke_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    _set_worker_env()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("DUKE_SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # partitioned writes: rows arrive hash-clustered by the partition
        # column (plans/checkpoint.py), each AQE-sized writer task holding
        # whole parts; up to this many parts per task the writers skip the
        # per-task sort-by-partition pass (measured 3-20× on the triple
        # write), past it they sort — one file per part either way
        .config("spark.sql.maxConcurrentOutputFileWriters", "128")
        .config("spark.driver.memory",
                os.environ.get("DUKE_SPARK_DRIVER_MEM", "8g"))
        # bucketed saveAsTable target (plans/bucketing.py) — keep managed
        # tables out of the repo working dir
        .config("spark.sql.warehouse.dir",
                os.environ.get("DUKE_SPARK_WAREHOUSE",
                               "/tmp/duke_spark_warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # ship the worker env through Spark itself so spark-submit launches
    # (JVM parent — workers never see this process's os.environ) and real
    # multi-host executors get the BLAS/malloc settings; os.environ may
    # carry an operator override, which wins
    for k, v in WORKER_ENV:
        builder = builder.config(f"spark.executorEnv.{k}",
                                 os.environ.get(k, v))
    # caller overrides (e.g. scripts/skew_proof.py re-enables the UI to
    # read per-task durations from the status REST API)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

"""SparkSession factory tuned for the dedup workload.

AQE (incl. skew-join splitting) and Arrow are always on; shuffle
partition count is sized to the core count rather than the 200
default so the sf0.001..0.1 local runs don't drown in empty tasks.
On a real cluster the same settings hold, with shuffle partitions
sized to ~2-3x total executor cores (or left to AQE coalescing).

Spark's status store keeps at most ``STATUS_RETAINED`` jobs, stages and
SQL executions (Spark's default is 1,000 each, kept even with the UI
off), so the driver heap of a long stream of micro-batches stays flat.

Python tasks and zip archives: the JVM starts each Python worker with
``pyspark.zip``, the py4j zip and the Spark core jar at the front of its
``PYTHONPATH`` (ahead of site-packages, pip installs ship the same zip),
so a worker imports pyspark through ``zipimport``. Before every task the
worker adds the task's files to ``sys.path`` and calls
``importlib.invalidate_caches()`` so that it sees them; in CPython 3.11
that makes each zip importer re-read its archive's whole directory,
~16 reads (~150 ms) a task. Importing ``semhash_spark`` in a worker
(every library task does) installs ``semhash_spark._pyworker``, after
which an importer re-reads its archive only when the file's mtime or
size changed: a rewritten archive is still re-read, an unchanged one
keeps its directory. The driver's ``zipimport`` is left as it is.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# jobs, stages and SQL executions the status store keeps: far above the
# jobs of one call (a self-dedup pass runs under 20), far below Spark's
# default of 1,000 that let a streaming driver's heap grow per batch
STATUS_RETAINED = 300


def get_spark(
    app_name: str = "semhash_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    :param cores: int N -> local[N]; "*" -> local[*]; None -> env
        SPARK_GRAFT_CPUS or local[*].
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        ncores = os.cpu_count() or 8 if cores == "*" else int(cores)
        shuffle_partitions = max(8, ncores)

    # one BLAS thread per python worker: numpy kernels in Arrow UDFs
    # run in one worker per task slot already — nested BLAS threading
    # oversubscribes the host (32 workers x N BLAS threads) and
    # destroys scaling
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # keep numpy's big transient buffers IN the malloc arena instead
    # of mmap/munmap per allocation: with N workers each cycling
    # ~64 MB chunk buffers (kernels._chunked_threshold), per-free
    # munmap caused a kernel-side page-fault + THP-compaction storm
    # (khugepaged/kcompactd topping CPU, >90% system time, round-5
    # log: git show b871efc:bench_r5_try2.log). Trailing underscore =
    # fixed, no dynamic adjust.
    _malloc_env = {
        "MALLOC_MMAP_THRESHOLD_": str(256 * 1024 * 1024),
        "MALLOC_TRIM_THRESHOLD_": str(256 * 1024 * 1024),
        "MALLOC_ARENA_MAX": "2",
    }
    for var, val in _malloc_env.items():
        os.environ.setdefault(var, val)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
                str(256 * 1024 * 1024))
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_",
                str(256 * 1024 * 1024))
        .config("spark.executorEnv.MALLOC_ARENA_MAX", "2")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize JVM<->Python transfer overhead
        # for the Arrow UDF / mapInArrow kernels (measured ~1.5x on
        # pair scoring)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.retainedJobs", str(STATUS_RETAINED))
        .config("spark.ui.retainedStages", str(STATUS_RETAINED))
        .config("spark.sql.ui.retainedExecutions", str(STATUS_RETAINED))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

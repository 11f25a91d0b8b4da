"""SparkSession factory tuned for the sketch engine.

The knobs below are chosen for the 100 TB design point and are safe on
local[N]:

- AQE on (runtime coalesce + skew-join) — on a real cluster, uneven
  WARC file sizes make static shuffle-partition counts wrong.
- shuffle.partitions sized to cores locally; on a cluster this would be
  2-3x total cores. The sketch pipeline barely shuffles anyway (only
  O(#partitions) sketch rows).
- Arrow exec enabled + a large batch size: sketch update cost is
  per-batch, so bigger Arrow batches = fewer compress calls.
- maxPartitionBytes left at default 128m: a full-data sketch pass is
  scan-bound and maps one task per split.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def get_spark(
    app: str = "q_digest_spark",
    master: str | None = None,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    # Python workers must be able to import this package.
    pp = os.environ.get("PYTHONPATH", "")
    if REPO_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = REPO_ROOT + (os.pathsep + pp if pp else "")
    # One BLAS thread per worker: Spark owns the parallelism. Without
    # this, numpy's OpenBLAS fans each worker out to every core and
    # local[8] secretly uses 32 cores (breaks scaling measurements and
    # oversubscribes real clusters identically).
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    # Half the host's RAM, at most 48g: local mode runs every task in
    # this one JVM, and a heap cap above physical memory lets a
    # long-lived session grow until the OOM killer ends it.
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or f"{max(1, min(48, ram_gib // 2))}g"
    master = master or f"local[{cores}]"
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""Eager parquet spill for mid-pipeline materialization.

Why not persist()/localCheckpoint(): a lazily-returned plan can never
unpersist its cache (the unpersist would run before the caller's
action), and localCheckpoint itself registers a persisted RDD — both
leak session-lifetime executor storage. A parquet spill materializes
the rows durably with ZERO entries in the persisted-RDD map, survives
executor loss without recomputing upstream, and is what a 100 TB
pipeline does anyway (write the small intermediate, read it back).

Spill location (cluster-correctness): Spark's writers run on
EXECUTORS, so the spill directory must be visible to every node. The
default driver-local tempdir is correct ONLY in local mode; on a
real cluster set ``spark.qds.spill.dir`` (any Hadoop-FS URI — hdfs://,
s3a://, a shared mount), and the same code runs unchanged.

``cleanup_spill`` lets iterative callers (operators/graph.py) delete
a spill as soon as a later round supersedes it instead of holding
every round's directory until interpreter exit.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame


def spill_parquet(df: DataFrame, prefix: str) -> DataFrame:
    """Write ``df`` to parquet NOW and return a fresh reader over it.
    Eager: the upstream job runs at call time. The reader carries the
    spill path in ``._qds_spill_dir`` for cleanup_spill.

    Every call gets its own ``{prefix}{uuid}`` directory — under the
    ``spark.qds.spill.dir`` conf dir or in a fresh tempdir — so
    iterative callers can never overwrite a path an in-flight plan
    still reads (Spark's 'cannot overwrite a path being read from').
    Either way the spill is deleted best-effort at interpreter exit."""
    spark = df.sparkSession
    conf_dir = spark.conf.get("spark.qds.spill.dir", None)
    if conf_dir:
        d = f"{conf_dir.rstrip('/')}/{prefix}{uuid.uuid4().hex[:12]}"
        atexit.register(_rm_fs_dir_quiet, spark, d)
    else:
        d = tempfile.mkdtemp(prefix=prefix)
        atexit.register(shutil.rmtree, d, True)
    path = f"{d}/data.parquet"
    df.write.mode("overwrite").parquet(path)
    out = spark.read.parquet(path)
    out._qds_spill_dir = d
    return out


def _rm_fs_dir_quiet(spark, d: str) -> None:
    """Best-effort Hadoop-FS delete for atexit (the session may be
    stopped by then — swallow everything)."""
    try:
        jvm = spark._jvm
        hp = jvm.org.apache.hadoop.fs.Path(d)
        fs = hp.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(hp, True)
    except Exception:
        pass


def cleanup_spill(df) -> None:
    """Delete the spill directory behind a spill_parquet reader (no-op
    for anything else). Only call once no plan still reads it."""
    d = getattr(df, "_qds_spill_dir", None)
    if not d:
        return
    try:
        jvm = df.sparkSession._jvm
        hp = jvm.org.apache.hadoop.fs.Path(d)
        fs = hp.getFileSystem(df.sparkSession._jsc.hadoopConfiguration())
        fs.delete(hp, True)
    except Exception:
        shutil.rmtree(d, ignore_errors=True)

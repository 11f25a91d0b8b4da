"""Per-partition sketch lineage + resumable aggregation.

BASELINE.json north_rule: "resumable from checkpoint with
per-partition lineage + metrics". Design:

- stage 1 (the only full-data pass) writes its partial-sketch rows to
  a parquet *state table* keyed by (job_id, part_id) with row counts
  and wall-time metrics — one tiny row per input partition;
- a resume run reads the state table, sees which partition ids
  already have partials, and runs the build stage ONLY over the
  missing partitions (``spark.read.parquet(...).filter`` on the
  recorded input file names — Spark maps one task per file split, so
  filtering by file restores exactly the un-checkpointed work);
- the merge (stages 2-3) always re-runs — it's O(#partitions), free
  compared to the scan.

At 100 TB this turns a mid-job failure from "re-scan 100 TB" into
"re-scan the missing splits". The state table doubles as the lineage
record: every partial row says which input file + how many rows fed
which sketch bytes, when.

File-granular (not task-granular) lineage keeps the scheme
deterministic under Spark's re-planning: input_file_name() is stable
across runs while partition ids are not.
"""

from __future__ import annotations

import os
import time
import uuid
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .aggregate import _as_col, _fold

STATE_SCHEMA = (
    "job_id string, file string, sketch binary, rows long, build_sec double, ts double"
)


def _build_partials_by_file(df: DataFrame, col, factory) -> DataFrame:
    """Stage-1 partials keyed by input file (lineage unit); its own
    loop, because each row also records its task's ``build_sec``."""
    sdf = df.select(_as_col(col).alias("__v"), F.input_file_name().alias("file"))

    def build(batches: Iterable[pd.DataFrame]):
        acc: dict[str, object] = {}
        rows: dict[str, int] = {}
        t0 = time.time()
        for pdf in batches:
            if not len(pdf):
                continue
            for fname, g in pdf.groupby("file", sort=False):
                vals = g["__v"].dropna()
                if not len(vals):
                    continue
                sk = acc.get(fname)
                if sk is None:
                    sk = acc[fname] = factory()
                    rows[fname] = 0
                sk.update_batch(vals.to_numpy())
                rows[fname] += len(vals)
        dt = time.time() - t0
        for fname, sk in acc.items():
            yield pd.DataFrame(
                {
                    "file": [fname],
                    "sketch": [sk.to_bytes()],
                    "rows": [rows[fname]],
                    "build_sec": [dt],
                }
            )

    return sdf.mapInPandas(build, "file string, sketch binary, rows long, build_sec double")


def checkpointed_sketch_aggregate(
    spark: SparkSession,
    df: DataFrame,
    col,
    factory,
    deserialize,
    state_dir: str,
    job_id: str | None = None,
):
    """Resumable aggregate. Returns (sketch, metrics dict).

    First run: builds all partials, checkpoints them, merges.
    Resume (same state_dir + job_id): loads checkpointed partials,
    builds ONLY files absent from the state table, appends them,
    merges everything. Partials fold in file order.
    """
    job_id = job_id or uuid.uuid4().hex[:12]
    state_path = os.path.join(state_dir, "partials")
    done_files: set[str] = set()
    existing = None
    if os.path.exists(state_path):
        existing = spark.read.parquet(state_path).where(F.col("job_id") == job_id)
        done_files = {r["file"] for r in existing.select("file").distinct().collect()}

    all_files = {r["f"] for r in df.select(F.input_file_name().alias("f")).distinct().collect()}
    todo = sorted(all_files - done_files)
    metrics = {
        "job_id": job_id,
        "n_files_total": len(all_files),
        "n_files_resumed": len(done_files),
        "n_files_built": len(todo),
    }

    if todo:
        remaining = df.where(F.input_file_name().isin(todo))
        partials = _build_partials_by_file(remaining, col, factory)
        (
            partials.withColumn("job_id", F.lit(job_id))
            .withColumn("ts", F.lit(time.time()))
            .select("job_id", "file", "sketch", "rows", "build_sec", "ts")
            .write.mode("append")
            .parquet(state_path)
        )

    pdf = (
        spark.read.parquet(state_path)
        .where(F.col("job_id") == job_id)
        .select("file", "sketch", "rows")
        .toPandas()
        .sort_values("file", kind="stable")
    )
    metrics["rows_aggregated"] = int(pdf["rows"].sum())
    return _fold(pdf["sketch"], deserialize), metrics


def lineage_report(spark: SparkSession, state_dir: str, job_id: str) -> DataFrame:
    """The per-partition lineage/metrics table for a job."""
    return (
        spark.read.parquet(os.path.join(state_dir, "partials"))
        .where(F.col("job_id") == job_id)
        .select("file", "rows", "build_sec", "ts")
    )

"""Resumable checkpointed aggregation (per-file lineage) and
Structured-Streaming sketch accumulation."""

import os
import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from q_digest_spark.operators.checkpoint import (
    checkpointed_sketch_aggregate,
    lineage_report,
)
from q_digest_spark.sketches import QDigest, qdigest_from_bytes
from q_digest_spark.streaming.sketch_stream import StreamingSketch


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="qds_ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _factory():
    return QDigest(0, 20)


def test_checkpoint_and_resume(spark, tmpdir):
    src = os.path.join(tmpdir, "input")
    spark.range(0, 100_000, 1, 8).select(
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("v")
    ).write.parquet(src)
    df = spark.read.parquet(src)

    state = os.path.join(tmpdir, "state")
    sk1, m1 = checkpointed_sketch_aggregate(
        spark, df, "v", _factory, state, job_id="job1"
    )
    assert m1["n_files_built"] == m1["n_files_total"] > 0
    assert m1["n_files_resumed"] == 0
    assert sk1.n == 100_000

    # resume: nothing left to build, identical result
    sk2, m2 = checkpointed_sketch_aggregate(
        spark, df, "v", _factory, state, job_id="job1"
    )
    assert m2["n_files_built"] == 0
    assert m2["n_files_resumed"] == m1["n_files_total"]
    assert sk2.to_bytes() == sk1.to_bytes()  # same partials, folded in file order

    # partial-failure resume: drop some checkpointed files' rows
    part_path = os.path.join(state, "partials")
    kept = spark.read.parquet(part_path)
    files = [r["file"] for r in kept.select("file").distinct().collect()]
    survivors = files[: len(files) // 2]
    pruned = kept.where(F.col("file").isin(survivors))
    tmp_out = os.path.join(tmpdir, "pruned")
    pruned.write.parquet(tmp_out)
    shutil.rmtree(part_path)
    shutil.move(tmp_out, part_path)

    sk3, m3 = checkpointed_sketch_aggregate(
        spark, df, "v", _factory, state, job_id="job1"
    )
    assert m3["n_files_resumed"] == len(survivors)
    assert m3["n_files_built"] == m1["n_files_total"] - len(survivors)
    assert sk3.n == 100_000  # no double counting, no loss
    assert sk3.quantiles([0.5, 0.9]) == sk1.quantiles([0.5, 0.9])

    rep = lineage_report(spark, state, "job1")
    assert rep.agg(F.sum("rows")).collect()[0][0] == 100_000


def test_streaming_sketch_accumulation(spark, tmpdir):
    """File-source stream: drop parquet files in, watch the running
    sketch fold each micro-batch; final quantiles match batch."""
    src = os.path.join(tmpdir, "stream_in")
    os.makedirs(src)
    rng = np.random.RandomState(5)
    chunks = [rng.randint(0, 10_000, 5_000) for _ in range(3)]
    # first file present before the stream starts
    spark.createDataFrame([(int(v),) for v in chunks[0]], "v long").coalesce(1).write.parquet(
        os.path.join(src, "f0")
    )

    stream = (
        spark.readStream.schema("v long")
        .option("maxFilesPerTrigger", "4")
        .parquet(src + "/*")
    )
    acc = StreamingSketch(lambda: QDigest(0, 14), qdigest_from_bytes)
    q = acc.attach(stream, "v")
    try:
        q.processAllAvailable()
        assert acc.rows == 5_000
        for i, ch in enumerate(chunks[1:], start=1):
            spark.createDataFrame([(int(v),) for v in ch], "v long").coalesce(1).write.parquet(
                os.path.join(src, f"f{i}")
            )
            q.processAllAvailable()
    finally:
        q.stop()
    assert acc.rows == 15_000
    allv = np.sort(np.concatenate(chunks))
    assert acc.sketch.percentile(0.5) == allv[int(np.ceil(0.5 * len(allv))) - 1]


def test_incremental_daily_sketches_prune_and_requery(spark, sf_test, tmp_path):
    """Daily sketch table: a range query reads ONLY the requested day
    partitions (scan file check), merging stored rows answers window
    queries without touching raw data, and the sketch-table plan is
    byte-stable across a rewrite of one day."""
    from functools import partial

    from pyspark.sql import functions as F

    from q_digest_spark.operators.incremental import (
        merge_sketch_range,
        write_daily_sketches,
    )
    from q_digest_spark.sketches import QDigest, qdigest_from_bytes

    events = spark.read.parquet(f"{sf_test}/events.parquet").where(
        F.col("value").isNotNull()
    )
    q = F.round(F.col("value") * 100).cast("long")
    path = str(tmp_path / "daily")
    write_daily_sketches(events, "ts", q, partial(QDigest, 0, 20), path)

    lo, hi = "2024-01-03", "2024-01-07"
    pruned = (
        spark.read.parquet(path)
        .where(F.col("day").between(F.lit(lo).cast("date"), F.lit(hi).cast("date")))
    )
    # partition pruning: executed plan's FileScan carries day filters
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day" in plan

    sk = merge_sketch_range(spark, path, lo, hi)
    exact = (
        events.where(F.to_date("ts").between(F.lit(lo).cast("date"), F.lit(hi).cast("date")))
        .select(q.alias("v"))
    )
    n = exact.count()
    assert sk.n == n
    # exact mode: merged median == exact order statistic of the window
    target = max(1, -(-n // 2))  # ceil(0.5 n)
    med = exact.orderBy("v").limit(target).agg(F.max("v")).collect()[0][0]
    assert sk.percentile(0.5) == med


def test_incremental_day_rewrite_preserves_other_days(spark, sf_test, tmp_path):
    """Re-running ONE day must replace only that day's partition
    (dynamic partition overwrite set by the writer itself) — static
    overwrite would silently delete every other stored day."""
    from functools import partial

    from pyspark.sql import functions as F

    from q_digest_spark.operators.incremental import (
        merge_sketch_range,
        write_daily_sketches,
    )
    from q_digest_spark.sketches import QDigest, qdigest_from_bytes

    ev = spark.read.parquet(f"{sf_test}/events.parquet").where(F.col("value").isNotNull())
    q = F.round(F.col("value") * 100).cast("long")
    path = str(tmp_path / "daily")
    write_daily_sketches(ev, "ts", q, partial(QDigest, 0, 20), path)
    n_all = merge_sketch_range(spark, path).n
    day2 = ev.where(F.to_date("ts") == F.lit("2024-01-02").cast("date"))
    write_daily_sketches(day2, "ts", q, partial(QDigest, 0, 20), path)
    assert merge_sketch_range(spark, path).n == n_all

"""Streaming dedup: dropDuplicatesWithinWatermark path and the
Bloom forever-dedup foreachBatch path."""

import os
import shutil
import tempfile
from datetime import datetime

from q_digest_spark.streaming.dedup import BloomStreamDedup, dedup_stream_by_key


def _ts(minute):
    return datetime(2025, 1, 1, 10, minute, 0)


def test_dedup_stream_by_key_within_watermark(spark):
    d = tempfile.mkdtemp(prefix="qds_sdd_")
    src = os.path.join(d, "in")
    os.makedirs(src)
    ckpt = os.path.join(d, "ckpt")
    try:
        rows = [
            (_ts(0), "u1"), (_ts(1), "u1"), (_ts(2), "u2"),
            (_ts(3), "u2"), (_ts(4), "u3"),
        ]
        spark.createDataFrame(rows, "ts timestamp, url string").coalesce(1).write.parquet(
            os.path.join(src, "f0")
        )
        stream = spark.readStream.schema("ts timestamp, url string").parquet(src + "/*")
        out = dedup_stream_by_key(stream, "url", "ts", watermark="10 minutes")
        q = (
            out.writeStream.format("memory").queryName("dd")
            .outputMode("append").option("checkpointLocation", ckpt).start()
        )
        try:
            q.processAllAvailable()
            got = spark.sql("select url from dd").collect()
            assert sorted(r["url"] for r in got) == ["u1", "u2", "u3"]
        finally:
            q.stop()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_bloom_stream_dedup_across_batches(spark):
    d = tempfile.mkdtemp(prefix="qds_bdd_")
    src = os.path.join(d, "in")
    os.makedirs(src)
    try:
        emitted = []

        def sink(df, bid):
            emitted.extend(r["url"] for r in df.select("url").collect())

        def write_file(name, urls):
            spark.createDataFrame([(u,) for u in urls], "url string").coalesce(
                1
            ).write.parquet(os.path.join(src, name))

        write_file("f0", ["a", "b", "c", "a"])
        stream = spark.readStream.schema("url string").parquet(src + "/*")
        dd = BloomStreamDedup(m_bits=1 << 16, k=5, on_batch=sink)
        q = dd.attach(stream, "url")
        try:
            q.processAllAvailable()
            assert sorted(emitted) == ["a", "b", "c"]
            write_file("f1", ["b", "d", "c", "e"])  # b, c already seen forever
            q.processAllAvailable()
            assert sorted(emitted) == ["a", "b", "c", "d", "e"]
            assert dd.emitted == 5
        finally:
            q.stop()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_bloom_stream_dedup_failed_sink_retry_reemits(spark):
    """Review regression: keys are folded into the filter only AFTER
    the sink succeeds — a failed sink call must not suppress keys."""
    import pandas as pd

    from pyspark.sql import functions as F

    calls = {"n": 0}
    emitted = []

    def flaky_sink(df, bid):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient sink failure")
        emitted.extend(r["url"] for r in df.select("url").collect())

    dd = BloomStreamDedup(m_bits=1 << 16, k=5, on_batch=flaky_sink)
    batch = spark.createDataFrame([("a",), ("b",)], "url string")
    try:
        dd._process(batch, 0, "url")
    except RuntimeError:
        pass
    assert dd.emitted == 0  # nothing folded on failure
    dd._process(batch, 0, "url")  # Spark retries the same batch id
    assert sorted(emitted) == ["a", "b"]
    assert dd.emitted == 2


def test_bloom_dedup_partitioned_across_batches_and_restart(spark):
    """Executor-sharded forever-dedup: dedups across micro-batches,
    and — the property the driver-held filter lacks — across a QUERY
    RESTART from checkpoint: keys emitted before the restart must not
    be re-emitted after it."""
    from q_digest_spark.streaming.dedup import bloom_dedup_stream_partitioned

    d = tempfile.mkdtemp(prefix="qds_pbdd_")
    src = os.path.join(d, "in")
    ckpt = os.path.join(d, "ckpt")
    os.makedirs(src)
    try:
        emitted = []

        def sink(df, bid):
            emitted.extend(r["url"] for r in df.select("url").collect())

        def write_file(name, urls):
            spark.createDataFrame([(u,) for u in urls], "url string").coalesce(
                1
            ).write.parquet(os.path.join(src, name))

        def start():
            stream = spark.readStream.schema("url string").parquet(src + "/*")
            out = bloom_dedup_stream_partitioned(
                stream, "url", n_banks=8, m_bits_per_bank=1 << 14
            )
            return (
                out.writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .start()
            )

        write_file("f0", ["a", "b", "c", "a"])
        q = start()
        try:
            q.processAllAvailable()
            assert sorted(emitted) == ["a", "b", "c"]
            write_file("f1", ["b", "d", "c", "e"])
            q.processAllAvailable()
            assert sorted(emitted) == ["a", "b", "c", "d", "e"]
        finally:
            q.stop()
        # restart from checkpoint: old keys must stay suppressed
        emitted.clear()
        write_file("f2", ["a", "e", "f"])
        q = start()
        try:
            q.processAllAvailable()
            assert sorted(emitted) == ["f"], emitted
        finally:
            q.stop()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_bloom_stream_dedup_state_path_survives_restart(spark):
    """Driver-filter persistence: a new BloomStreamDedup constructed
    with the same state_path resumes the filter AND the last batch id
    — previously committed batches replay as no-ops, previously seen
    keys are not re-emitted."""
    d = tempfile.mkdtemp(prefix="qds_bsp_")
    state = os.path.join(d, "bloom.state")
    try:
        emitted = []

        def sink(df, bid):
            emitted.extend(r["url"] for r in df.select("url").collect())

        dd = BloomStreamDedup(m_bits=1 << 16, k=5, on_batch=sink, state_path=state)
        dd._process(spark.createDataFrame([("a",), ("b",)], "url string"), 0, "url")
        assert sorted(emitted) == ["a", "b"]

        dd2 = BloomStreamDedup(m_bits=1 << 16, k=5, on_batch=sink, state_path=state)
        # replay of committed batch 0 -> no-op even in the new process
        dd2._process(spark.createDataFrame([("a",), ("b",)], "url string"), 0, "url")
        assert sorted(emitted) == ["a", "b"]
        # new batch: old keys suppressed by the restored filter
        dd2._process(spark.createDataFrame([("a",), ("c",)], "url string"), 1, "url")
        assert sorted(emitted) == ["a", "b", "c"]
    finally:
        shutil.rmtree(d, ignore_errors=True)

"""applyInPandasWithState: per-key running sketches across
micro-batches — state survives between triggers and accumulates."""

import os
import shutil
import tempfile
from functools import partial

import numpy as np
import pytest
from pyspark.sql import functions as F

from q_digest_spark.sketches import QDigest
from q_digest_spark.streaming.stateful import grouped_streaming_quantiles


def test_stateful_per_key_quantiles(spark):
    d = tempfile.mkdtemp(prefix="qds_state_")
    src = os.path.join(d, "in")
    os.makedirs(src)
    ckpt = os.path.join(d, "ckpt")
    try:
        rng = np.random.RandomState(3)

        def write_file(name, rows):
            spark.createDataFrame(rows, "k string, v long").coalesce(1).write.parquet(
                os.path.join(src, name)
            )

        batch1 = [("a", int(v)) for v in rng.randint(0, 1000, 3000)] + [
            ("b", int(v)) for v in rng.randint(5000, 6000, 2000)
        ]
        write_file("f0", batch1)

        stream = spark.readStream.schema("k string, v long").parquet(src + "/*")
        out = grouped_streaming_quantiles(
            stream, "k", "v", partial(QDigest, 0, 13)
        )
        q = (
            out.writeStream.format("memory")
            .queryName("running_quantiles")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            t1 = {r["key"]: r for r in spark.sql("select * from running_quantiles").collect()}
            assert t1["a"]["n"] == 3000 and t1["b"]["n"] == 2000
            assert 5000 <= t1["b"]["p50"] < 6000

            # second micro-batch: key 'a' grows, key 'c' appears
            batch2 = [("a", int(v)) for v in rng.randint(0, 1000, 1000)] + [
                ("c", 7) for _ in range(500)
            ]
            write_file("f1", batch2)
            q.processAllAvailable()
            rows = spark.sql("select * from running_quantiles").collect()
            latest = {}
            for r in rows:  # memory sink in update mode appends; last write wins
                if r["key"] not in latest or r["n"] > latest[r["key"]]["n"]:
                    latest[r["key"]] = r
            assert latest["a"]["n"] == 4000  # state accumulated across batches
            assert latest["b"]["n"] == 2000  # untouched key unchanged
            assert latest["c"]["n"] == 500 and latest["c"]["p50"] == 7.0
            # exact-mode median of key 'a' over BOTH batches
            allv = np.sort(
                np.array([v for k, v in batch1 if k == "a"] + [v for k, v in batch2 if k == "a"])
            )
            assert latest["a"]["p50"] == float(allv[int(np.ceil(0.5 * len(allv))) - 1])
        finally:
            q.stop()
    finally:
        shutil.rmtree(d, ignore_errors=True)

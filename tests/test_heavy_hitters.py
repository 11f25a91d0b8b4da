"""cms_topk_with_keys: distributed candidate generation + Count-Min
scoring against the exact group-by oracle, on skewed and uniform key
mixes."""

import numpy as np
from pyspark.sql import functions as F

from q_digest_spark.functions.text import domain_of
from q_digest_spark.operators.heavy_hitters import cms_topk_with_keys
from q_digest_spark.sources.webpages import generate_webpages


def test_cms_topk_matches_exact_on_zipf_domains(spark):
    pages = generate_webpages(spark, 20000, n_partitions=16)
    pages = pages.select(domain_of("url").alias("domain")).persist()
    try:
        exact = (
            pages.groupBy("domain")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("domain"))
            .limit(10)
            .collect()
        )
        got = cms_topk_with_keys(pages, "domain", k=10).collect()
        # Zipf(1.2) head counts are well separated; CMS overcount with
        # width 16384 over ~1000 keys never reorders the head.
        assert [r["key"] for r in got] == [r["domain"] for r in exact]
        for g, e in zip(got, exact):
            assert e["cnt"] <= g["est_cnt"] <= e["cnt"] + 0.01 * 20000
    finally:
        pages.unpersist()


def test_cms_topk_hash_output_and_bounds(spark):
    # 5 hot keys on a uniform background across many partitions
    hot = spark.range(0, 5000, 1, 8).select((F.col("id") % 5).alias("k"))
    bg = spark.range(0, 2000, 1, 8).select((F.col("id") + 1000).alias("k"))
    df = hot.unionByName(bg)
    top = cms_topk_with_keys(df, "k", k=5).toPandas()
    assert set(top["key"]) == {0, 1, 2, 3, 4}
    assert (top["est_cnt"] >= 1000).all()


def test_cms_topk_empty_input(spark):
    df = spark.range(0).select(F.col("id").alias("k"))
    assert cms_topk_with_keys(df, "k", k=3).count() == 0


def test_cms_topk_exhaustive_candidates_partition_invariant(spark, sf_test):
    """Review regression: with candidates_per_partition >= n_distinct
    the result must not depend on how the input is split, even on a
    near-uniform count distribution."""
    df = spark.read.parquet(f"{sf_test}/events.parquet")
    exact = (
        df.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("user_id")).limit(10).collect()
    )
    for parts in (1, 32):
        got = (
            cms_topk_with_keys(
                df.repartition(parts), "user_id", k=24, width=16384,
                candidates_per_partition=4096,
            )
            .orderBy(F.desc("est_cnt"), F.asc("key")).limit(10).collect()
        )
        assert [(r["key"], r["est_cnt"]) for r in got] == [
            (r["user_id"], r["cnt"]) for r in exact
        ], f"diverged at {parts} partitions"

"""BASELINE.json: sketch estimates verified against EXACT SPARK SQL
baselines (percentile / countDistinct / group-by count) and against
Spark's own approx functions (percentile_approx,
approx_count_distinct) — the engine's sketches must be at least as
accurate as the built-ins at comparable state size."""

import numpy as np
from pyspark.sql import functions as F

PS = [0.5, 0.9, 0.99]


def _rank_err(df, est, p, n):
    lo = df.where(F.col("v") < est).count()
    hi = df.where(F.col("v") <= est).count()
    t = p * n
    return 0.0 if lo <= t <= hi else min(abs(lo - t), abs(hi - t)) / n


def test_qdigest_vs_spark_percentile_baselines(spark, sf_test):
    from q_digest_spark.operators.quantiles import qdigest_of

    df = (
        spark.read.parquet(f"{sf_test}/lineitem.parquet")
        .select(F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"))
        .persist()
    )
    try:
        n = df.count()
        sk = qdigest_of(df, "v", k=256)
        ours = sk.quantiles(PS)
        row = df.agg(
            F.expr(f"percentile(v, array({','.join(map(str, PS))}))").alias("exact"),
            F.expr(
                f"percentile_approx(v, array({','.join(map(str, PS))}), 256)"
            ).alias("approx"),
        ).collect()[0]
        eps = sk.error_bound()
        for i, p in enumerate(PS):
            assert _rank_err(df, ours[i], p, n) <= eps
            # sanity vs Spark's approx at similar state budget: our
            # estimate is no further from the exact value than 2x the
            # built-in's deviation + the bound's value window
            exact, approx = row["exact"][i], row["approx"][i]
            assert _rank_err(df, int(approx), p, n) >= 0.0  # baseline well-formed
            assert abs(ours[i] - exact) <= max(2 * abs(approx - exact), eps * n)
    finally:
        df.unpersist()


def test_qdigest_of_empty_and_all_null_return_none(spark):
    """No value to size the universe from: qdigest_of returns None, as
    kll_of does, for an empty and for an all-null column."""
    from q_digest_spark.operators.quantiles import kll_of, qdigest_of

    empty = spark.range(0, 10).select(F.col("id").alias("v")).where(F.col("v") < 0)
    nulls = spark.range(0, 10).select(F.lit(None).cast("long").alias("v"))
    for df in (empty, nulls):
        assert qdigest_of(df, "v") is None
        assert kll_of(df, "v") is None


def test_hashed_of_skips_nulls(spark):
    """xxhash64(NULL) is 42, not NULL: the hashed *_of helpers drop
    NULL rows, so an all-null column gives None and a partly-null one
    counts only its non-null rows. A NULL in one partition must not
    change how the other rows hash either (Arrow hands pandas a nullable
    bigint as float64 in a batch holding a NULL, rounding every hash in
    it): key 'x' sits in a partition without NULLs and in one with a
    NULL, and the probes use the exact JVM hash."""
    from q_digest_spark.operators.membership import bloom_probe_column
    from q_digest_spark.operators.quantiles import bloom_of, countmin_of, hll_of

    nulls = spark.range(0, 100).select(F.lit(None).cast("string").alias("k"))
    assert hll_of(nulls, "k") is None
    assert countmin_of(nulls, "k") is None
    mixed = spark.range(0, 100).select(
        F.when(F.col("id") % 4 == 0, F.lit(None)).otherwise(F.col("id") % 5).cast("string").alias("k")
    )
    cms = countmin_of(mixed, "k")
    assert cms.n == 75
    assert round(hll_of(mixed, "k").estimate()) == 5

    rows = F.array(*[F.lit(k).cast("string") for k in ["x", "x", "y", "x", None, "z", "x"]])
    df = spark.range(0, 7, numPartitions=2).select(rows[F.col("id").cast("int")].alias("k"))
    assert [[r.k for r in p] for p in df.rdd.glom().collect()] == [["x", "x", "y"], ["x", None, "z", "x"]]
    keys = spark.createDataFrame([("x",), ("y",), ("z",)], "k string")
    hits = bloom_probe_column(keys, "k", bloom_of(df, "k")).collect()
    assert all(r.is_member for r in hits)
    h = np.array([r.h for r in keys.select(F.xxhash64("k").alias("h")).collect()], dtype=np.int64)
    assert list(countmin_of(df, "k").estimate_hashes(h.view(np.uint64))) == [4, 1, 1]


def test_hll_vs_spark_approx_count_distinct(spark, sf_test):
    from q_digest_spark.operators.quantiles import hll_of

    df = spark.read.parquet(f"{sf_test}/events.parquet")
    exact = df.select(F.countDistinct("user_id")).collect()[0][0]
    spark_approx = df.select(
        F.approx_count_distinct("user_id", rsd=0.0081)  # ~= p=14 HLL
    ).collect()[0][0]
    ours = hll_of(df, "user_id", p=14).estimate()
    rel = 3 * 1.04 / np.sqrt(1 << 14)
    assert abs(ours - exact) <= rel * max(exact, 1)
    assert abs(ours - exact) <= max(abs(spark_approx - exact), rel * exact) + 1


def test_cms_vs_spark_groupby_counts(spark, sf_test):
    from q_digest_spark.operators.quantiles import countmin_of

    df = spark.read.parquet(f"{sf_test}/events.parquet")
    cms = countmin_of(df, "user_id", depth=5, width=16384)
    top = (
        df.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c")).limit(20)
        .select("user_id", "c", F.xxhash64("user_id").alias("h")).collect()
    )
    hashes = np.array([r["h"] for r in top], dtype=np.int64).view(np.uint64)
    ests = cms.estimate_hashes(hashes)
    slack = 2 * cms.eps() * cms.n
    for r, e in zip(top, ests):
        assert r["c"] <= e <= r["c"] + slack

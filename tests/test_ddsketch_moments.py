"""DDSketch and Moments sketch families: guarantees, merge laws,
serialization round-trips, and the distributed builders."""

import math

import numpy as np
import pytest

from q_digest_spark.sketches.ddsketch import DDSketch
from q_digest_spark.sketches.moments import Moments

RNG = np.random.default_rng(7)
DISTS = {
    "uniform": RNG.uniform(1, 1e6, 20000),
    "lognormal": np.exp(RNG.normal(8, 2, 20000)),
    "zipfy": (1.0 / RNG.uniform(1e-6, 1, 20000)),
}
PS = [0.01, 0.1, 0.5, 0.9, 0.99]


# ------------------------------------------------------------ DDSketch
@pytest.mark.parametrize("name", sorted(DISTS))
def test_ddsketch_relative_error(name):
    v = DISTS[name]
    sk = DDSketch(alpha=0.01)
    sk.update_batch(v)
    sv = np.sort(v)
    for p in PS:
        exact = sv[max(1, math.ceil(p * len(v))) - 1]
        assert abs(sk.quantile(p) - exact) <= 0.0101 * exact, (name, p)


def test_ddsketch_merge_lossless():
    v = DISTS["lognormal"]
    whole = DDSketch(0.01)
    whole.update_batch(v)
    parts = [DDSketch(0.01) for _ in range(7)]
    for i, chunk in enumerate(np.array_split(v, 7)):
        parts[i].update_batch(chunk)
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.merge(p)
    # merge is lossless: bit-identical state to the single-pass sketch
    assert np.array_equal(merged.idx, whole.idx)
    assert np.array_equal(merged.cnt, whole.cnt)
    assert merged.n == whole.n == len(v)


def test_ddsketch_zero_and_roundtrip():
    sk = DDSketch(0.02, max_bins=64)
    sk.update_batch([0.0, 0.0, 1.0, 10.0, 100.0])
    assert sk.zero == 2 and sk.n == 5
    assert sk.quantile(0.2) == 0.0
    rt = DDSketch.from_bytes(sk.to_bytes())
    assert rt.n == sk.n and rt.zero == sk.zero
    assert np.array_equal(rt.idx, sk.idx) and np.array_equal(rt.cnt, sk.cnt)
    assert rt.alpha == sk.alpha and rt.collapsed == sk.collapsed


def test_ddsketch_collapse_keeps_upper_quantiles():
    v = DISTS["lognormal"]
    # the lognormal spans ~800 alpha=0.01 bins; 512 forces a collapse
    # whose boundary sits below the median, so quantiles >= 0.5 keep
    # the guarantee while the collapsed low tail degrades
    sk = DDSketch(0.01, max_bins=512)
    sk.update_batch(v)
    assert sk.collapsed and len(sk.idx) <= 512
    sv = np.sort(v)
    for p in (0.5, 0.9, 0.99):
        exact = sv[max(1, math.ceil(p * len(v))) - 1]
        assert abs(sk.quantile(p) - exact) <= 0.0101 * exact


def test_ddsketch_rejects_negative():
    with pytest.raises(ValueError):
        DDSketch().update_batch([-1.0])


# ------------------------------------------------------------- Moments
def test_moments_exact_integer_sums():
    v = RNG.integers(-(10**7), 10**7, 50000)
    sk = Moments(exact=True)
    sk.update_batch(v)
    assert sk.s1 == int(sum(int(x) for x in v))
    assert sk.s2 == int(sum(int(x) ** 2 for x in v))
    assert sk.n == len(v)
    assert sk.vmin == float(v.min()) and sk.vmax == float(v.max())


def test_moments_chunking_no_overflow():
    # values near the int32 range: v^2 ~ 4.6e18 per element — a naive
    # int64 sum of two elements would overflow; chunking must not
    v = np.array([2_147_000_000, 2_147_000_000, -2_147_000_000], dtype=np.int64)
    sk = Moments(exact=True)
    sk.update_batch(v)
    assert sk.s1 == 2_147_000_000
    assert sk.s2 == 3 * 2_147_000_000**2


def test_moments_stats_vs_numpy():
    v = RNG.normal(50, 12, 40000)
    sk = Moments(exact=False)
    sk.update_batch(v)
    assert sk.mean() == pytest.approx(np.mean(v), rel=1e-12)
    assert sk.variance() == pytest.approx(np.var(v), rel=1e-9)
    assert sk.skewness() == pytest.approx(
        float(np.mean(((v - v.mean()) / v.std()) ** 3)), abs=1e-6
    )
    assert sk.kurtosis() == pytest.approx(
        float(np.mean(((v - v.mean()) / v.std()) ** 4)) - 3.0, abs=1e-5
    )


def test_moments_merge_exact_and_roundtrip():
    v = RNG.integers(0, 10**6, 30000)
    whole = Moments()
    whole.update_batch(v)
    parts = []
    for chunk in np.array_split(v, 5):
        m = Moments()
        m.update_batch(chunk)
        parts.append(m)
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.merge(p)
    assert merged.s1 == whole.s1 and merged.s2 == whole.s2  # bit-exact ints
    assert merged.n == whole.n
    rt = Moments.from_bytes(merged.to_bytes())
    assert rt.s1 == merged.s1 and rt.s2 == merged.s2
    assert rt.s3 == merged.s3 and rt.s4 == merged.s4
    assert rt.vmin == merged.vmin and rt.vmax == merged.vmax


def test_moments_bigint_serialization():
    sk = Moments()
    sk.n, sk.s1, sk.s2 = 10**12, 123456789012345678901234567890, -(10**30)
    rt = Moments.from_bytes(sk.to_bytes())
    assert rt.s1 == sk.s1 and rt.s2 == sk.s2


# ---------------------------------------------------- Spark builders
def test_ddsketch_of_matches_local(spark, sf_test):
    from q_digest_spark.operators.quantiles import ddsketch_of
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_test}/documents.parquet").select(
        F.col("n_chars").cast("double").alias("v")
    )
    sk = ddsketch_of(df, "v", alpha=0.02)
    local = DDSketch(0.02)
    local.update_batch(
        np.array([r["v"] for r in df.collect()], dtype=np.float64)
    )
    # distributed merge is lossless -> same state as the local pass
    assert sk.n == local.n
    assert np.array_equal(sk.idx, local.idx)
    assert np.array_equal(sk.cnt, local.cnt)


def test_moments_of_matches_local(spark, sf_test):
    from functools import partial

    from pyspark.sql import functions as F

    from q_digest_spark.operators.aggregate import sketch_aggregate
    from q_digest_spark.sketches.moments import Moments

    df = spark.read.parquet(f"{sf_test}/documents.parquet").select(
        F.col("n_chars").alias("v")
    )
    sk = sketch_aggregate(
        df, F.col("v").cast("long"), partial(Moments, True)
    )
    vals = [r["v"] for r in df.collect()]
    assert sk.n == len(vals)
    assert sk.s1 == sum(vals)
    assert sk.s2 == sum(x * x for x in vals)


def test_moments_exact_survives_huge_values():
    """|v| > 2^31.5 would overflow int64 per-element squares; the
    Python-int cold path must keep s1/s2 exact (ADVICE r03)."""
    from q_digest_spark.sketches.moments import Moments

    vals = [2**40 + 3, -(2**41) + 7, 2**35, -5, 0, 2**62 // 3]
    m = Moments(exact=True)
    m.update_batch(np.array(vals, dtype=np.int64))
    assert m.s1 == sum(vals)
    assert m.s2 == sum(v * v for v in vals)
    # mixing a normal-range batch into the same sketch stays exact
    small = list(range(-1000, 1000, 7))
    m.update_batch(np.array(small, dtype=np.int64))
    assert m.s1 == sum(vals) + sum(small)
    assert m.s2 == sum(v * v for v in vals) + sum(v * v for v in small)


def test_ams_exact_helpers_survive_huge_counters():
    from q_digest_spark.sketches.ams import _exact_dot, _exact_sq_sum

    row = np.array([2**40, -(2**39), 123, 0], dtype=np.int64)
    assert _exact_sq_sum(row) == sum(int(x) ** 2 for x in row)
    other = np.array([-(2**38), 2**37, -7, 9], dtype=np.int64)
    assert _exact_dot(row, other) == sum(
        int(x) * int(y) for x, y in zip(row, other)
    )


def test_ddsketch_weighted_counts_exact_above_2_53():
    """Weighted update with counts beyond float64's integer range must
    accumulate losslessly (int64 scatter-add, not float bincount)."""
    from q_digest_spark.sketches.ddsketch import DDSketch

    big = (1 << 53) + 1  # not representable as float64
    sk = DDSketch(0.01)
    sk.update_batch(
        np.array([10.0, 10.0], dtype=np.float64),
        weights=np.array([big, 1], dtype=np.int64),
    )
    assert int(sk.cnt.sum()) == big + 1

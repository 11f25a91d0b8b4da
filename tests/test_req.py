"""REQ relative-error quantile sketch: the asserted contract is the
calibrated envelope in sketches/req.py's docstring —
|est_rank − rank| ≤ (log2(max(n/3k,2))/k)·(n − rank) + 2k — checked
here over distributions, splits, merges, and the Spark path."""

import numpy as np
import pytest

from q_digest_spark.sketches.req import REQ


def _assert_within(sk, values, ranks_from_top):
    sv = np.sort(values)
    n = len(sv)
    for t in ranks_from_top:
        if t >= n:
            continue
        v = sv[n - t - 1]
        true_rank = int(np.searchsorted(sv, v, side="right"))
        err = abs(sk.rank_of(v) - true_rank)
        assert err <= sk.error_bound_at(true_rank), (
            t,
            err,
            sk.error_bound_at(true_rank),
        )


TAILS = [0, 1, 4, 9, 99, 999, 9999]


@pytest.mark.parametrize("k", [32, 64, 256])
def test_req_small_stream_exact(k):
    """n <= capacity: nothing ever compacts, every rank exact."""
    sk = REQ(k)
    vals = np.arange(3 * k, dtype=np.float64)
    sk.update_batch(vals)
    for v in [0, k // 2, 3 * k - 1]:
        assert sk.rank_of(float(v)) == v + 1
    assert sk.quantile(1.0) == 3 * k - 1


@pytest.mark.parametrize(
    "dist",
    ["uniform", "zipf", "sorted", "reversed"],
)
@pytest.mark.parametrize("k", [32, 128])
def test_req_bound_distributions(dist, k):
    rng = np.random.default_rng(11)
    v = rng.uniform(0, 1e6, 100_000)
    if dist == "zipf":
        v = (1.0 / rng.pareto(1.2, 100_000) + 1) * 1000
    elif dist == "sorted":
        v = np.sort(v)
    elif dist == "reversed":
        v = np.sort(v)[::-1].copy()
    sk = REQ(k)
    sk.update_batch(v)
    _assert_within(sk, v, TAILS)


@pytest.mark.parametrize("nsplit", [8, 64])
def test_req_merge_bound(nsplit):
    rng = np.random.default_rng(5)
    v = rng.uniform(0, 1e9, 200_000)
    sks = []
    for part in np.array_split(v, nsplit):
        s = REQ(64)
        s.update_batch(part)
        sks.append(s)
    sk = sks[0]
    for s in sks[1:]:
        sk.merge(s)
    assert sk.n == len(v)
    _assert_within(sk, v, TAILS)


def test_req_merge_order_permutations():
    """Any merge order satisfies the same bound (the associativity
    contract graded for Q-Digest extends to every sketch family)."""
    import itertools

    rng = np.random.default_rng(3)
    v = rng.uniform(0, 1e6, 40_000)
    parts = np.array_split(v, 4)
    for perm in itertools.permutations(range(4)):
        sks = []
        for i in perm:
            s = REQ(64)
            s.update_batch(parts[i])
            sks.append(s)
        sk = sks[0]
        for s in sks[1:]:
            sk.merge(s)
        _assert_within(sk, v, TAILS)


def test_req_roundtrip_bytes():
    rng = np.random.default_rng(1)
    sk = REQ(64)
    sk.update_batch(rng.uniform(0, 100, 50_000))
    sk2 = REQ.from_bytes(sk.to_bytes())
    assert sk2.n == sk.n and sk2.k == sk.k
    assert [len(b) for b in sk2.levels] == [len(b) for b in sk.levels]
    assert sk2.quantiles([0.9, 0.99, 0.999]) == sk.quantiles(
        [0.9, 0.99, 0.999]
    )


def test_req_nan_and_empty():
    sk = REQ(32)
    sk.update_batch(np.array([np.nan, np.nan]))
    assert sk.n == 0
    with pytest.raises(ValueError):
        sk.quantile(0.5)
    sk.update_batch(np.array([1.0, np.nan, 2.0]))
    assert sk.n == 2


def test_req_rejects_bad_k():
    with pytest.raises(ValueError):
        REQ(3)
    with pytest.raises(ValueError):
        REQ(2)


def test_req_of_spark(spark, sf_test):
    """Distributed req_of over events.value: tail quantile estimates
    land within the calibrated envelope against exact ranks."""
    from pyspark.sql import functions as F

    from q_digest_spark.operators.quantiles import req_of

    df = (
        spark.read.parquet(f"{sf_test}/events.parquet")
        .where(F.col("value").isNotNull())
        .select(F.col("value").cast("double").alias("v"))
    )
    sk = req_of(df, "v", k=64)
    vals = np.array([r["v"] for r in df.collect()])
    assert sk.n == len(vals)
    _assert_within(sk, vals, [0, 9, 99, 999])


def test_req_normalized_bound_is_its_own():
    """REQ subclasses KLL but reports its own normalized bound: the
    relative envelope at its widest (rank 0) over n, which covers the
    measured normalized rank error at every rank."""
    rng = np.random.default_rng(5)
    v = rng.uniform(0, 1e6, 100_000)
    sk = REQ(32)
    sk.update_batch(v)
    sv = np.sort(v)
    n = len(sv)
    assert sk.error_bound() == sk.error_bound_at(0) / n
    worst = max(abs(sk.rank_of(x) - (i + 1)) for i, x in zip(range(0, n, 997), sv[::997]))
    assert worst / n <= sk.error_bound()

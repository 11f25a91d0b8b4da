"""GK deterministic quantile summary: certified bounds stay TRUE under
arbitrary batch/merge/serialize schedules; observed error <= certified
error; structure size bounded."""

import random

import numpy as np
import pytest

from q_digest_spark.sketches import from_bytes
from q_digest_spark.sketches.gk import GK


def true_rank_interval(data: np.ndarray, v: float) -> tuple[int, int]:
    lo = int(np.sum(data < v))
    hi = int(np.sum(data <= v))
    return lo + 1, max(hi, lo + 1)


@pytest.mark.parametrize("dist", ["uniform", "zipfish", "dupes"])
def test_certified_bounds_contain_true_ranks(dist):
    rng = np.random.default_rng(11)
    n = 50_000
    if dist == "uniform":
        data = rng.uniform(0, 1e6, n)
    elif dist == "zipfish":
        data = np.floor(1e6 / (1 + rng.integers(0, 1000, n))).astype(float)
    else:
        data = rng.integers(0, 50, n).astype(float)  # heavy duplicates
    sk = GK(b=256)
    for lo in range(0, n, 7001):  # uneven batches force flush paths
        sk.update_batch(data[lo : lo + 7001])
    s = sk._fold()
    assert s.n == n
    for v, rmin, rmax in zip(s.vals, s.rmin, s.rmax):
        lo, hi = true_rank_interval(np.sort(data), v)
        assert rmin <= hi and rmax >= lo, (v, rmin, rmax, lo, hi)
        # the certified interval must intersect the true rank range
        assert not (rmax < lo or rmin > hi)


def test_observed_error_le_certified_after_random_merges():
    rng = np.random.default_rng(5)
    random.seed(5)
    parts = [rng.normal(1000, 100, rng.integers(1, 20_000)) for _ in range(17)]
    data = np.sort(np.concatenate(parts))
    n = len(data)
    sks = []
    for p in parts:
        g = GK(b=128)
        g.update_batch(p)
        sks.append(from_bytes(g.to_bytes()))  # round-trip every partial
    random.shuffle(sks)
    while len(sks) > 1:  # random pairwise merge order
        a, b = sks.pop(), sks.pop()
        sks.append(a.merge(b))
    sk = sks[0]
    assert sk.n == n
    for p in (0.01, 0.25, 0.5, 0.75, 0.9, 0.99):
        r = max(1, (int(round(p * 10**6)) * n + 10**6 - 1) // 10**6)
        v = sk.quantile(p)
        cert = sk.certified_error(r)
        lo = int(np.searchsorted(data, v, side="left")) + 1
        hi = int(np.searchsorted(data, v, side="right"))
        obs = 0 if lo <= r <= max(hi, lo) else min(abs(r - lo), abs(r - hi))
        assert obs <= cert, (p, obs, cert)
        # deterministic usefulness: bound itself stays small
        assert cert <= n // 20


def test_size_bounded_and_extremes_exact():
    sk = GK(b=64)
    data = np.arange(1_000_000, dtype=float)
    for lo in range(0, len(data), 50_000):
        sk.update_batch(data[lo : lo + 50_000])
    assert sk.n_entries() <= 2 * 64 + 2
    s = sk._fold()
    assert s.vals[0] == 0.0 and s.rmin[0] == 1 == s.rmax[0]
    assert s.vals[-1] == 999_999.0 and s.rmax[-1] == 1_000_000


def test_empty_and_nan():
    sk = GK(b=32)
    sk.update_batch([float("nan")])
    assert sk.n == 0 and np.isnan(sk.quantile(0.5))
    rt = from_bytes(sk.to_bytes())
    assert rt.n == 0

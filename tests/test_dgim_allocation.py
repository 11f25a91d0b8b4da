"""DGIM sliding-window counter + Hamilton apportionment: closed-form
vs cascade parity, the 50% DGIM bound, and integer-exact seat totals."""

import random

import numpy as np
import pytest

from q_digest_spark.operators.allocation import hamilton_apportionment
from q_digest_spark.sketches import from_bytes
from q_digest_spark.sketches.dgim import DGIM


# ---------------------------------------------------------------- DGIM

@pytest.mark.parametrize("r", [2, 3])
@pytest.mark.parametrize("n", [0, 1, 2, 3, 5, 7, 17, 64, 100, 257, 1000])
def test_closed_form_equals_cascade(r, n):
    rng = random.Random(42 + n)
    ts = sorted(rng.randrange(0, 10 * (n + 1)) for _ in range(n))
    sk = DGIM.from_sorted_ts(ts, r=r)
    ref = DGIM(r=r)
    for t in ts:
        ref.insert(t)
    assert (sk.ts, sk.size) == (ref.ts, ref.size)


def test_invariants_no_size_gaps():
    ts = list(range(1, 1001))
    sk = DGIM.from_sorted_ts(ts)
    sizes = sk.size  # oldest-first, non-increasing toward the new end
    assert sizes == sorted(sizes, reverse=True)
    present = sorted(set(sizes))
    # powers of two with no gaps, at most r=2 of each
    assert present == [1 << i for i in range(len(present))]
    assert all(sizes.count(s) <= 2 for s in present)


def test_estimate_within_half_of_exact():
    rng = random.Random(7)
    ts = np.cumsum([rng.randrange(1, 20) for _ in range(5000)]).tolist()
    sk = DGIM.from_sorted_ts(ts)
    t_now = ts[-1]
    arr = np.asarray(ts)
    for window in [1, 10, 100, 1000, 10_000, 50_000, 10**9]:
        exact = int(np.sum((arr > t_now - window) & (arr <= t_now)))
        est = sk.estimate(t_now, window)
        assert 2 * abs(est - exact) <= exact, (window, est, exact)


def test_estimate_empty_and_roundtrip():
    sk = DGIM.from_sorted_ts([])
    assert sk.estimate(100, 50) == 0
    sk = DGIM.from_sorted_ts([1, 2, 3])
    rt = from_bytes(sk.to_bytes())
    assert (rt.ts, rt.size, rt.r) == (sk.ts, sk.size, sk.r)
    assert sk.estimate(0, 10) == 0  # everything newer than t_now


def test_bucket_count_logarithmic():
    sk = DGIM.from_sorted_ts(list(range(1_000_000)))
    assert sk.n_buckets() <= 2 * 21


# ------------------------------------------------ Hamilton apportionment

def python_hamilton(weights: dict, seats: int) -> dict:
    W = sum(weights.values())
    base = {k: seats * w // W for k, w in weights.items()}
    rem = {k: seats * w % W for k, w in weights.items()}
    extra = seats - sum(base.values())
    order = sorted(weights, key=lambda k: (-rem[k], k))
    out = dict(base)
    for k in order[:extra]:
        out[k] += 1
    return out


@pytest.mark.parametrize("seats", [0, 1, 7, 100, 1000])
def test_hamilton_matches_python_oracle(spark, seats):
    rows = [("h%d" % (i % 6), (i * 37) % 11 + 1) for i in range(60)]
    df = spark.createDataFrame(rows, "host string, w long")
    got = {
        r["key"]: (r["base_seats"], r["extra"], r["seats_alloc"])
        for r in hamilton_apportionment(df, "host", "w", seats).collect()
    }
    weights = {}
    for h, w in rows:
        weights[h] = weights.get(h, 0) + w
    want = python_hamilton(weights, seats)
    assert {k: v[2] for k, v in got.items()} == want
    assert sum(v[2] for v in got.values()) == seats
    # quota rule: every allocation is base or base + 1
    assert all(v[2] - v[0] in (0, 1) and v[1] in (0, 1) for v in got.values())


def test_hamilton_survives_int64_overflow_products(spark):
    """seats * W used to be an int64 product — under Spark 4 ANSI mode
    an astronomically weighted universe threw deep in the plan. The
    numerator now runs in DECIMAL(38,0): weights near 2^61 with 1000
    seats (product ~2^71, far past int64) must apportion exactly."""
    big = 2**61
    rows = [("a", big), ("b", big // 2), ("c", big // 4)]
    df = spark.createDataFrame(rows, "host string, w long")
    got = {
        r["key"]: r["seats_alloc"]
        for r in hamilton_apportionment(df, "host", "w", 1000).collect()
    }
    want = python_hamilton(dict(rows), 1000)
    assert got == want
    assert sum(got.values()) == 1000


def test_hamilton_drops_nonpositive_weight_keys(spark):
    df = spark.createDataFrame(
        [("a", 5), ("b", 0), ("c", None), ("d", 3)], "host string, w long"
    )
    got = hamilton_apportionment(df, "host", "w", 8).collect()
    assert sorted(r["key"] for r in got) == ["a", "d"]
    assert sum(r["seats_alloc"] for r in got) == 8

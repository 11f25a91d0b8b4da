"""Pure-numpy sketch semantics tests.

Ports the reference's statistical-accuracy suite
(/root/reference/serial-implementation/src/test.c) — triangular ramp,
geometric, uniform, and the two-way merge — *with real assertions*
(the C suite only prints side-by-side values). Scaled to n=50k
(reference uses 2M; the error bound is scale-free). Plus the
serialization round-trip of test_qcore.c:133-161 and
merge-associativity permutations (north_star requirement).
"""

import itertools

import numpy as np
import pytest

from q_digest_spark.sketches import KLL, QDigest, TDigest, from_bytes, universe_bits_for

N = 50_000
K = 20  # reference parameter (test.c:211-213)
PS = [0.01, 0.02, 0.03] + [round(p, 2) for p in np.arange(0.05, 0.96, 0.05)]


def triangular_ramp(n: int) -> np.ndarray:
    """Exact mirror of test.c:45-68 ("poisson"): value v emitted
    `repeat` times; repeat += 3 while emitted <= n/2; on the flip
    iteration += 3 then -= 3 (net 0), thereafter -= 3 with any value
    < 1 bumped to 2. Verified value-for-value against the compiled
    reference's printed exact percentiles (test_reference_parity)."""
    out = []
    number, repeat, flipped, length = 1, 1, False, 0
    while length != n:
        take = min(repeat, n - length)
        out.append(np.full(take, number))
        length += take
        if length <= n // 2:
            if not flipped:
                repeat += 3
        else:
            if not flipped:
                repeat += 3
            flipped = True
            repeat -= 3
        if repeat < 1:
            repeat = 2
        number += 1
    return np.concatenate(out)


def geometric(n: int) -> np.ndarray:
    """test.c:102-113: value v emitted 2**(v-1) times."""
    out = []
    v, emitted = 1, 0
    while emitted < n:
        take = min(1 << (v - 1), n - emitted)
        out.append(np.full(take, v))
        emitted += take
        v += 1
    return np.concatenate(out)


def uniform(n: int, seed: int = 377) -> np.ndarray:
    return np.random.RandomState(seed).randint(0, n, size=n)


def rank_error(sorted_vals: np.ndarray, estimate: float, p: float) -> float:
    """Normalized distance from the target rank p*n to the rank
    *interval* occupied by ``estimate`` (a tied value spans many ranks)."""
    n = len(sorted_vals)
    lo = np.searchsorted(sorted_vals, estimate, side="left")
    hi = np.searchsorted(sorted_vals, estimate, side="right")
    target = p * n
    if lo <= target <= hi:
        return 0.0
    return min(abs(lo - target), abs(hi - target)) / n


@pytest.mark.parametrize("dist", [triangular_ramp, geometric, uniform])
def test_qdigest_accuracy_reference_distributions(dist):
    vals = dist(N)
    s = np.sort(vals)
    bits = universe_bits_for(int(vals.max()))
    q = QDigest(K, bits)
    for chunk in np.array_split(vals, 8):
        q.update_batch(chunk)
    eps = q.error_bound()
    for p in PS:
        assert rank_error(s, q.percentile(p), p) <= eps
    # space bound: O(K log sigma); reference observed ~3K nodes at K=20
    assert q.num_nodes <= 6 * K * bits


def test_qdigest_merge_reference_split():
    """test.c:170-206: two digests of n/2 uniform values merged."""
    vals = uniform(2 * N)
    s = np.sort(vals)
    bits = universe_bits_for(int(vals.max()))
    qa, qb = QDigest(K, bits), QDigest(K, bits)
    qa.update_batch(vals[:N])
    qb.update_batch(vals[N:])
    qa.merge(qb)
    assert qa.n == 2 * N
    eps = qa.error_bound()
    for p in PS:
        assert rank_error(s, qa.percentile(p), p) <= eps


def test_qdigest_exact_mode_matches_order_statistics():
    vals = uniform(N)
    s = np.sort(vals)
    q = QDigest(0, universe_bits_for(int(vals.max())))
    q.update_batch(vals)
    for p in PS:
        assert q.percentile(p) == s[max(1, int(np.ceil(p * N))) - 1]


def test_qdigest_merge_associativity_permutations():
    """north_star: estimates across partition-merge-order permutations
    all satisfy the bound (compression makes them not bit-identical;
    the reference has the same property)."""
    vals = uniform(N)
    s = np.sort(vals)
    bits = universe_bits_for(int(vals.max()))
    parts = np.array_split(vals, 4)
    eps = bits / K
    for perm in itertools.permutations(range(4)):
        q = QDigest(K, bits)
        for i in perm:
            other = QDigest(K, bits)
            other.update_batch(parts[i])
            q.merge(other)
        assert q.n == N
        for p in [0.05, 0.5, 0.95]:
            assert rank_error(s, q.percentile(p), p) <= eps


def test_qdigest_serialization_roundtrip():
    """test_qcore.c:133-161 analogue: (n, K, universe, node multiset)
    survive a round-trip."""
    q = QDigest(10, 4)
    q.update_batch(np.arange(10))
    r = QDigest.from_bytes(q.to_bytes())
    assert (r.k, r.universe_bits, r.n) == (q.k, q.universe_bits, q.n)
    assert np.array_equal(r.ids, q.ids) and np.array_equal(r.counts, q.counts)


def test_qdigest_weighted_update():
    q = QDigest(0, 8)
    q.update_batch(np.array([1, 2, 3]), np.array([5, 10, 5]))
    assert q.n == 20
    assert q.percentile(0.5) == 2


def test_qdigest_rejects_out_of_universe():
    q = QDigest(20, 4)
    with pytest.raises(ValueError):
        q.update_batch(np.array([16]))
    with pytest.raises(ValueError):
        q.update_batch(np.array([-1]))


@pytest.mark.parametrize("dist", [triangular_ramp, uniform])
def test_kll_accuracy_and_merge(dist):
    vals = dist(N).astype(np.float64)
    s = np.sort(vals)
    k = KLL(200)
    for chunk in np.array_split(vals, 8):
        k.update_batch(chunk)
    bound = k.error_bound() * 1.5
    for p in PS:
        assert rank_error(s, k.quantile(p), p) <= bound
    ka, kb = KLL(200), KLL(200)
    ka.update_batch(vals[: N // 2])
    kb.update_batch(vals[N // 2 :])
    ka.merge(kb)
    ka = KLL.from_bytes(ka.to_bytes())
    assert ka.n == N
    for p in [0.05, 0.5, 0.95]:
        assert rank_error(s, ka.quantile(p), p) <= bound


def test_tdigest_accuracy_tails_and_merge():
    vals = np.random.RandomState(377).lognormal(3.0, 1.5, N)
    s = np.sort(vals)
    t = TDigest(200)
    for chunk in np.array_split(vals, 8):
        t.update_batch(chunk)
    for p in [0.001, 0.01, 0.5, 0.99, 0.999]:
        assert rank_error(s, t.quantile(p), p) <= 0.01
    ta, tb = TDigest(200), TDigest(200)
    ta.update_batch(vals[: N // 2])
    tb.update_batch(vals[N // 2 :])
    ta.merge(tb)
    ta = TDigest.from_bytes(ta.to_bytes())
    for p in [0.01, 0.5, 0.99]:
        assert rank_error(s, ta.quantile(p), p) <= 0.015


# ------------------------------------------------------------- theta/KMV
def test_theta_exact_below_k_and_bounded_above():
    from q_digest_spark.sketches.theta import ThetaSketch

    import numpy as np

    sk = ThetaSketch(k=256)
    sk.update_batch(np.arange(100))
    assert sk.estimate() == 100  # below k: exact
    sk2 = ThetaSketch(k=1024)
    n = 200_000
    sk2.update_batch(np.arange(n))
    assert abs(sk2.estimate() - n) <= 4 * sk2.rel_error() * n


def test_theta_merge_is_order_free_and_bit_identical():
    from q_digest_spark.sketches.theta import ThetaSketch

    import numpy as np

    rng = np.random.RandomState(11)
    parts = [rng.randint(0, 1 << 40, size=5000) for _ in range(4)]

    def build(order):
        merged = None
        for i in order:
            s = ThetaSketch(k=512)
            s.update_batch(parts[i])
            merged = s if merged is None else merged.merge(s)
        return merged.to_bytes()

    import itertools

    ref = build(range(4))
    for perm in itertools.permutations(range(4)):
        assert build(perm) == ref  # set-valued state: bit-identical

    # round-trip
    sk = from_bytes(ref)
    assert from_bytes(sk.to_bytes()).to_bytes() == ref


def test_theta_set_algebra_accuracy():
    from q_digest_spark.sketches.theta import ThetaSketch

    import numpy as np

    a_keys = np.arange(0, 60_000)          # |A| = 60k
    b_keys = np.arange(40_000, 110_000)    # |B| = 70k, |A∩B| = 20k
    a = ThetaSketch(k=4096)
    b = ThetaSketch(k=4096)
    a.update_batch(a_keys)
    b.update_batch(b_keys)
    union = ThetaSketch.union_estimate(a, b)
    inter = ThetaSketch.intersection_estimate(a, b)
    diff = ThetaSketch.difference_estimate(a, b)
    scale = 4 * 110_000 / (4096 - 1) ** 0.5
    assert abs(union - 110_000) <= scale
    assert abs(inter - 20_000) <= scale
    assert abs(diff - 40_000) <= scale
    # identity AT THE COMMON THETA: |A∩B| + |A\B| partitions A's
    # retained set under min(theta_a, theta_b), so it estimates |A|
    import numpy as np

    th = min(a.theta, b.theta)
    est_a_common = len(a.values[a.values < th]) / (
        float(th) / float(np.iinfo(np.uint64).max)
    )
    assert abs((inter + diff) - est_a_common) <= 1e-6 * max(est_a_common, 1)
    assert abs((inter + diff) - 60_000) <= scale


def test_tdigest_trimmed_mean_accuracy_and_merge_stability():
    from q_digest_spark.sketches import TDigest

    import numpy as np

    rng = np.random.RandomState(5)
    vals = rng.lognormal(3.0, 1.0, size=200_000)
    sk = TDigest(200)
    sk.update_batch(vals)
    s = np.sort(vals)
    n = len(s)
    exact = s[int(np.floor(0.25 * n)) : int(np.ceil(0.75 * n))].mean()
    iqr = np.quantile(vals, 0.75) - np.quantile(vals, 0.25)
    assert abs(sk.trimmed_mean(0.25, 0.75) - exact) <= 0.02 * iqr
    # split/merge estimate stays within the same tolerance
    a, b = TDigest(200), TDigest(200)
    a.update_batch(vals[: n // 2])
    b.update_batch(vals[n // 2 :])
    a.merge(b)
    assert abs(a.trimmed_mean(0.25, 0.75) - exact) <= 0.02 * iqr
    # degenerate window falls back to the midpoint quantile
    one = TDigest(200)
    one.update_batch(np.array([7.0]))
    assert one.trimmed_mean(0.5, 0.5) == 7.0

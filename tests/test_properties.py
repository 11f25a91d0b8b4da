"""Property-based invariants (hypothesis) for the sketch cores —
the reference suite only spot-checks; these quantify over inputs."""

import numpy as np
from hypothesis import given, settings, strategies as st

from q_digest_spark.sketches import (
    HLL,
    KLL,
    Bloom,
    CountMin,
    QDigest,
    TDigest,
    from_bytes,
    universe_bits_for,
)

values_lists = st.lists(st.integers(min_value=0, max_value=2**16 - 1), min_size=1, max_size=500)


@settings(max_examples=40, deadline=None)
@given(values_lists, st.integers(min_value=4, max_value=64))
def test_qdigest_bound_and_serde_roundtrip(vals, k):
    vals = np.array(vals)
    q = QDigest(k, 16)
    q.update_batch(vals)
    r = QDigest.from_bytes(q.to_bytes())
    assert r.n == q.n == len(vals)
    assert np.array_equal(r.ids, q.ids) and np.array_equal(r.counts, q.counts)
    s = np.sort(vals)
    eps = q.error_bound()
    for p in (0.1, 0.5, 0.9):
        est = q.percentile(p)
        lo = np.searchsorted(s, est, "left")
        hi = np.searchsorted(s, est, "right")
        t = p * len(vals)
        err = 0.0 if lo <= t <= hi else min(abs(lo - t), abs(hi - t)) / len(vals)
        assert err <= max(eps, 1.0 / len(vals) + 1e-9)


@settings(max_examples=30, deadline=None)
@given(values_lists, values_lists)
def test_qdigest_merge_commutes_in_exact_mode(a, b):
    """Exact mode has no compression order-sensitivity: merge is
    exactly commutative, node-for-node."""
    qa, qb = QDigest(0, 16), QDigest(0, 16)
    qa.update_batch(np.array(a))
    qb.update_batch(np.array(b))
    ab = qa.copy().merge(qb.copy())
    ba = qb.copy().merge(qa.copy())
    assert ab.n == ba.n == len(a) + len(b)
    assert np.array_equal(ab.ids, ba.ids) and np.array_equal(ab.counts, ba.counts)


@settings(max_examples=30, deadline=None)
@given(values_lists)
def test_qdigest_exact_mode_is_exact(vals):
    q = QDigest(0, 16)
    q.update_batch(np.array(vals))
    s = np.sort(vals)
    for p in (0.01, 0.25, 0.5, 0.75, 0.99):
        assert q.percentile(p) == s[max(1, int(np.ceil(p * len(vals)))) - 1]


@settings(max_examples=25, deadline=None)
@given(st.lists(st.floats(allow_nan=False, allow_infinity=False, width=32), min_size=1, max_size=400))
def test_kll_serde_and_rank_sanity(vals):
    k = KLL(100)
    k.update_batch(np.array(vals, dtype=np.float64))
    r = KLL.from_bytes(k.to_bytes())
    assert r.n == k.n == len(vals)
    q = r.quantile(0.5)
    assert min(vals) <= q <= max(vals)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=500))
def test_hll_merge_superset_monotone(vals):
    """Merging can only grow the register maxima -> the union estimate
    is >= each side's estimate (monotonicity of |A∪B|)."""
    half = len(vals) // 2
    a, b = HLL(12), HLL(12)
    a.update_batch(np.array(vals[:half] or [0]))
    b.update_batch(np.array(vals[half:] or [0]))
    ea, eb = a.estimate(), b.estimate()
    a.merge(b)
    eu = a.estimate()
    assert eu >= max(ea, eb) - 1e-9


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=1000), min_size=1, max_size=500))
def test_countmin_never_underestimates(keys):
    cm = CountMin(4, 256)
    arr = np.array(keys)
    cm.update_batch(arr)
    uniq, cnt = np.unique(arr, return_counts=True)
    est = cm.estimate(uniq)
    assert (est >= cnt).all()


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=300))
def test_bloom_no_false_negatives_property(keys):
    bl = Bloom(1 << 14, 5)
    arr = np.array(keys)
    bl.update_batch(arr)
    assert bl.contains(arr).all()
    r = Bloom.from_bytes(bl.to_bytes())
    assert r.contains(arr).all()


@settings(max_examples=20, deadline=None)
@given(st.lists(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=2, max_size=500))
def test_tdigest_quantiles_within_range_and_monotone(vals):
    t = TDigest(100)
    t.update_batch(np.array(vals))
    qs = t.quantiles([0.1, 0.3, 0.5, 0.7, 0.9])
    assert all(min(vals) - 1e-9 <= q <= max(vals) + 1e-9 for q in qs)
    assert all(qs[i] <= qs[i + 1] + 1e-9 for i in range(len(qs) - 1))


def test_universe_bits_for():
    assert universe_bits_for(0) == 1
    assert universe_bits_for(1) == 1
    assert universe_bits_for(2) == 2
    assert universe_bits_for(2**20 - 1) == 20
    assert universe_bits_for(2**20) == 21


@given(
    st.lists(st.lists(st.integers(min_value=0, max_value=1 << 40), max_size=200), min_size=1, max_size=4),
)
@settings(max_examples=25, deadline=None)
def test_theta_split_merge_equals_single_build(parts):
    """Property: building one theta sketch over all values equals
    (bit-identically) building per-part sketches and merging — the
    mergeable-UDAF contract the distributed pipeline relies on."""
    from q_digest_spark.sketches.theta import ThetaSketch

    single = ThetaSketch(k=64)
    merged = None
    for p in parts:
        single.update_batch(np.array(p, dtype=np.int64)) if p else None
        s = ThetaSketch(k=64)
        if p:
            s.update_batch(np.array(p, dtype=np.int64))
        merged = s if merged is None else merged.merge(s)
    assert merged.to_bytes() == single.to_bytes()


@given(
    st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=300),
    st.data(),
)
@settings(max_examples=40, deadline=None)
def test_counting_bloom_no_false_negatives_after_deletes(keys, data):
    """Multiset discipline: delete any sub-multiset of what was
    inserted, split arbitrarily across partials merged in a random
    order — every remaining key must still hit."""
    import numpy as np

    from q_digest_spark.sketches.cbloom import CountingBloom

    uniq = sorted(set(keys))
    n_del = data.draw(st.integers(min_value=0, max_value=len(uniq)))
    deleted = uniq[:n_del]
    survivors = uniq[n_del:]

    def part(vals, sign):
        p = CountingBloom(1 << 12, 5)
        if vals:
            p.update_batch(
                np.asarray(vals, dtype=object),
                np.full(len(vals), sign, dtype=np.int64),
            )
        return p.to_bytes()

    cut = data.draw(st.integers(min_value=0, max_value=len(uniq)))
    parts = [
        part(uniq[:cut], 1),
        part(uniq[cut:], 1),
        part(deleted, -1),
    ]
    order = data.draw(st.permutations(range(3)))
    sk = None
    for i in order:
        cur = from_bytes(parts[i])
        sk = cur if sk is None else sk.merge(cur)
    assert (sk.counts >= 0).all()
    if survivors:
        assert sk.contains(np.asarray(survivors, dtype=object)).all()


@given(
    st.lists(st.integers(min_value=0, max_value=2000), min_size=1, max_size=200),
    st.lists(st.integers(min_value=0, max_value=2000), min_size=1, max_size=200),
)
@settings(max_examples=30, deadline=None)
def test_w1_local_identity_matches_gap_form(v1, v2):
    """The telescoped local-term W1 (what the Spark aggregate computes)
    equals the textbook gap-form sum, for any integer samples."""
    from collections import Counter

    c1, c2 = Counter(v1), Counter(v2)
    vs = sorted(set(v1) | set(v2))
    n1, n2 = len(v1), len(v2)
    # gap form
    gap = 0
    cum1 = cum2 = 0
    for i, v in enumerate(vs[:-1]):
        cum1 += c1.get(v, 0)
        cum2 += c2.get(v, 0)
        gap += abs(cum1 * n2 - cum2 * n1) * (vs[i + 1] - v)
    # local telescoped form
    loc = 0
    cum1 = cum2 = 0
    for v in vs:
        p1, p2 = cum1, cum2
        cum1 += c1.get(v, 0)
        cum2 += c2.get(v, 0)
        prev = abs(p1 * n2 - p2 * n1)
        cur = abs(cum1 * n2 - cum2 * n1)
        loc += v * (prev - cur)
    assert loc == gap


token_lists = st.lists(
    st.text(alphabet="abcdefgh", min_size=1, max_size=4),
    min_size=1,
    max_size=400,
)


@given(token_lists, st.integers(min_value=2, max_value=32))
@settings(max_examples=40, deadline=None)
def test_property_spacesaving_bounds_any_stream(tokens, m):
    """Space-Saving invariants on arbitrary streams: overestimate
    within min_count, min_count <= n/m, heavy keys always tracked."""
    import numpy as np

    from q_digest_spark.sketches.spacesaving import SpaceSaving

    ss = SpaceSaving(m)
    ss.update_batch(np.array(tokens, dtype="U"))
    n = len(tokens)
    uk, uc = np.unique(np.array(tokens, dtype="U"), return_counts=True)
    assert ss.min_count() * m <= n + ss.min_count()  # err <= n/m (int form)
    for k, t in zip(uk.tolist(), uc.tolist()):
        est = ss.estimate(k)
        assert t <= est <= t + ss.min_count()
        if t * m > n:
            assert ss.is_tracked(k)


@given(token_lists, st.integers(min_value=2, max_value=5))
@settings(max_examples=30, deadline=None)
def test_property_lossy_invariant_any_split(tokens, n_parts):
    """Lossy Counting invariant f <= true <= f + delta <= f + eps*n
    holds for ANY split of the stream into merged partials."""
    import numpy as np

    from q_digest_spark.sketches.lossycounting import LossyCounting

    eps = 0.05
    arr = np.array(tokens, dtype="U")
    merged = None
    for ch in np.array_split(arr, n_parts):
        p = LossyCounting(eps)
        if len(ch):
            p.update_batch(ch)
        merged = p if merged is None else merged.merge(p)
    n = len(arr)
    assert merged.n == n
    uk, uc = np.unique(arr, return_counts=True)
    for k, t in zip(uk.tolist(), uc.tolist()):
        f = merged.estimate(k)
        assert f <= t <= f + merged.delta_of(k)
        assert merged.delta_of(k) <= int(eps * n)
        if t > eps * n:
            assert f > 0


@given(token_lists, st.integers(min_value=2, max_value=4))
@settings(max_examples=30, deadline=None)
def test_property_cu_upper_bound_and_dominance_any_split(tokens, n_parts):
    """Conservative-update CMS: never under-counts and never exceeds
    the plain CMS, under ANY partitioning of the same stream."""
    import numpy as np

    from q_digest_spark.sketches.countmin import CountMin
    from q_digest_spark.sketches.cucountmin import CUCountMin

    arr = np.array(tokens, dtype="U")
    cms = CountMin(3, 64)
    cms.update_batch(arr)
    merged = None
    for ch in np.array_split(arr, n_parts):
        p = CUCountMin(3, 64)
        if len(ch):
            p.update_batch(ch)
        merged = p if merged is None else merged.merge(p)
    assert (merged.table <= cms.table).all()
    uk, uc = np.unique(arr, return_counts=True)
    ests = merged.estimate(uk)
    assert (ests >= uc).all()

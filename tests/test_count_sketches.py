"""HLL / CountMin / Bloom (eps, delta) guarantees vs exact oracles."""

import numpy as np
import pandas as pd

from q_digest_spark.sketches import HLL, Bloom, CountMin, from_bytes
from q_digest_spark.sketches.hashing import hash_i64


def test_hll_within_3sigma_across_scales():
    for true_n in [50, 1_000, 30_000, 300_000]:
        h = HLL(14)
        h.update_batch(np.arange(true_n) * 7 + 3)
        est = h.estimate()
        assert abs(est - true_n) / true_n <= 3 * h.rel_error(), (true_n, est)


def test_hll_merge_idempotent_and_union():
    a, b = HLL(14), HLL(14)
    a.update_batch(np.arange(0, 60_000))
    b.update_batch(np.arange(30_000, 100_000))
    a.merge(b)
    a.merge(HLL.from_bytes(a.to_bytes()))  # idempotent: max with self
    est = a.estimate()
    assert abs(est - 100_000) / 100_000 <= 3 * a.rel_error()


def test_hll_strings():
    h = HLL(14)
    h.update_batch(pd.Series([f"https://d{i % 977}.example.com/{i}" for i in range(25_000)]))
    assert abs(h.estimate() - 25_000) / 25_000 <= 3 * h.rel_error()


def test_countmin_guarantees_zipf():
    rng = np.random.RandomState(42)
    keys = rng.zipf(1.3, 400_000)
    keys = keys[keys < 100_000]
    cm = CountMin(5, 4096)
    for chunk in np.array_split(keys, 6):
        cm.update_batch(chunk)
    uniq, cnt = np.unique(keys, return_counts=True)
    top = uniq[np.argsort(-cnt)[:50]]
    true = dict(zip(uniq.tolist(), cnt.tolist()))
    est = cm.estimate(top)
    for key, e in zip(top, est):
        t = true[int(key)]
        assert e >= t  # never underestimates
        assert e <= t + 2 * cm.eps() * cm.n  # within bound (w/ margin)


def test_countmin_merge_equals_single_pass():
    keys = np.random.RandomState(1).randint(0, 1000, 50_000)
    whole = CountMin(5, 1024)
    whole.update_batch(keys)
    a, b = CountMin(5, 1024), CountMin(5, 1024)
    a.update_batch(keys[:25_000])
    b.update_batch(keys[25_000:])
    a.merge(CountMin.from_bytes(b.to_bytes()))
    assert np.array_equal(a.table, whole.table)
    assert a.n == whole.n


def test_bloom_no_false_negatives_and_fpr():
    members = hash_i64(np.arange(20_000))
    bl = Bloom(1 << 19, 7)
    bl.add_hashes(members)
    assert bl.contains_hashes(members).all()
    non = hash_i64(np.arange(1_000_000, 1_100_000))
    fp_rate = bl.contains_hashes(non).mean()
    assert fp_rate <= max(5 * bl.fpr(), 1e-4)


def test_bloom_merge_is_union():
    a, b = Bloom(1 << 16, 5), Bloom(1 << 16, 5)
    a.update_batch(np.arange(0, 500))
    b.update_batch(np.arange(500, 1000))
    a.merge(Bloom.from_bytes(b.to_bytes()))
    assert a.contains(np.arange(0, 1000)).all()


def test_cms_inner_product_join_size():
    """Join-size estimation: never under-counts, over-counts by at
    most eps * n_a * n_b; exact on collision-free tables."""
    import numpy as np

    from q_digest_spark.sketches import CountMin

    rng = np.random.RandomState(3)
    a_keys = rng.randint(0, 500, size=20_000)   # freq vector a
    b_keys = rng.randint(0, 500, size=5_000)    # freq vector b
    true = 0
    ac = np.bincount(a_keys, minlength=500)
    bc = np.bincount(b_keys, minlength=500)
    true = int((ac * bc).sum())
    ca, cb = CountMin(5, 16384), CountMin(5, 16384)
    ca.update_batch(a_keys)
    cb.update_batch(b_keys)
    est = ca.inner_product(cb)
    assert est >= true
    assert est <= true + ca.eps() * ca.n * cb.n
    # mismatched shapes refuse
    import pytest

    with pytest.raises(ValueError):
        ca.inner_product(CountMin(5, 8192))


# ------------------------------------------------------- counting bloom


def test_counting_bloom_delete_then_query():
    from q_digest_spark.sketches.cbloom import CountingBloom

    cb = CountingBloom(1 << 14, 7)
    keys = np.arange(2000)
    cb.update_batch(keys)
    cb.remove_batch(keys[:1000])
    hits = cb.contains(keys)
    assert hits[1000:].all()  # zero false negatives for survivors
    # deleted keys should *mostly* miss (shared counters may leave a
    # few positives — that's the documented FP behavior, not FN)
    assert hits[:1000].sum() < 20
    # never-inserted keys: plain FP rate
    other = np.arange(10_000, 12_000)
    assert cb.contains(other).sum() < 20
    assert cb.n_pos == 2000 and cb.n_neg == 1000


def test_counting_bloom_signed_merge_any_order():
    """Insert and delete streams land in different partials; merge in
    every order must cancel exactly (counter addition is commutative
    and associative)."""
    import itertools

    from q_digest_spark.sketches.cbloom import CountingBloom

    def part(vals, sign):
        p = CountingBloom(1 << 12, 5)
        p.update_batch(np.asarray(vals), np.full(len(vals), sign, dtype=np.int64))
        return p.to_bytes()

    parts = [
        part(range(0, 300), 1),
        part(range(300, 600), 1),
        part(range(0, 150), -1),     # deletes for keys inserted elsewhere
        part(range(300, 450), -1),
    ]
    ref = None

    for perm in itertools.permutations(range(4)):
        sk = None
        for i in perm:
            cur = from_bytes(parts[i])
            sk = cur if sk is None else sk.merge(cur)
        if ref is None:
            ref = sk.counts.copy()
        assert np.array_equal(sk.counts, ref), perm
    survivors = np.concatenate([np.arange(150, 300), np.arange(450, 600)])
    assert sk.contains(survivors).all()
    assert sk.contains(np.arange(0, 150)).sum() < 5
    assert (sk.counts >= 0).all()  # fully merged: no dangling deletes


def test_counting_bloom_roundtrip_and_shape_guard():
    import pytest

    from q_digest_spark.sketches.cbloom import CountingBloom

    cb = CountingBloom(1 << 10, 3)
    cb.update_batch(np.arange(50))
    cb.remove_batch(np.arange(10))
    rt = CountingBloom.from_bytes(cb.to_bytes())
    assert np.array_equal(rt.counts, cb.counts)
    assert (rt.n_pos, rt.n_neg) == (50, 10)
    assert rt.fpr() == cb.fpr()
    with pytest.raises(ValueError):
        cb.merge(CountingBloom(1 << 11, 3))
    with pytest.raises(ValueError):
        CountingBloom(32)


def test_counting_bloom_weighted_multiset():
    """Multiset semantics: insert with multiplicity w, delete w times
    -> gone; delete w-1 times -> still present."""
    from q_digest_spark.sketches.cbloom import CountingBloom

    cb = CountingBloom(1 << 12, 5)
    cb.update_batch(np.array([1, 2]), np.array([3, 3]))
    cb.update_batch(np.array([1]), np.array([-3]))   # full retraction
    cb.update_batch(np.array([2]), np.array([-2]))   # partial
    assert not cb.contains(np.array([1]))[0] or cb.contains(np.array([2]))[0]
    assert cb.contains(np.array([2]))[0]
    assert cb.n_pos == 6 and cb.n_neg == 5

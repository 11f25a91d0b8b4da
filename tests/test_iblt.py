"""IBLT set reconciliation: exact difference recovery, merge
associativity (partial/tree contract), subtract cancellation,
serialization, and deletion-as-negative-weight."""

import numpy as np
import pytest

from q_digest_spark.sketches import from_bytes
from q_digest_spark.sketches.iblt import IBLT


def build(keys, m=1024, parts=1):
    """Build from `parts` partial sketches merged together (exercises
    the distributed merge path)."""
    keys = np.asarray(keys, dtype=np.int64)
    partials = []
    for i in range(parts):
        sk = IBLT(m)
        sk.update_batch(keys[i::parts])
        partials.append(from_bytes(sk.to_bytes()))
    out = partials[0]
    for p in partials[1:]:
        out = out.merge(p)
    return out


@pytest.mark.parametrize("parts_a,parts_b", [(1, 1), (4, 7)])
def test_exact_difference_recovery(parts_a, parts_b):
    rng = np.random.default_rng(3)
    common = rng.choice(10**9, 5000, replace=False).astype(np.int64)
    only_a = np.asarray([10**10 + i for i in range(137)], dtype=np.int64)
    only_b = np.asarray([2 * 10**10 + i for i in range(89)], dtype=np.int64)
    a = build(np.concatenate([common, only_a]), parts=parts_a)
    b = build(np.concatenate([common, only_b]), parts=parts_b)
    pos, neg, complete = a.subtract(b).peel()
    assert complete
    assert np.array_equal(pos, np.sort(only_a))
    assert np.array_equal(neg, np.sort(only_b))


def test_identical_sets_cancel_to_zero():
    keys = np.arange(1000, dtype=np.int64)
    a, b = build(keys), build(keys)
    pos, neg, complete = a.subtract(b).peel()
    assert complete and len(pos) == 0 and len(neg) == 0


def test_merge_order_invariance():
    rng = np.random.default_rng(9)
    keys = rng.choice(10**12, 3000, replace=False).astype(np.int64)
    fwd = build(keys, parts=5)
    # reversed partial order must give the bit-identical table
    parts = []
    for i in reversed(range(5)):
        sk = IBLT(1024)
        sk.update_batch(keys[i::5])
        parts.append(sk)
    rev = parts[0]
    for p in parts[1:]:
        rev = rev.merge(p)
    assert np.array_equal(fwd.count, rev.count)
    assert np.array_equal(fwd.key_sum, rev.key_sum)
    assert np.array_equal(fwd.check_sum, rev.check_sum)


def test_delete_is_negative_weight():
    sk = IBLT(512)
    sk.update_batch(np.arange(100, dtype=np.int64))
    sk.update_batch(np.arange(50, dtype=np.int64), weight=-1)
    other = IBLT(512)
    other.update_batch(np.arange(50, 100, dtype=np.int64))
    pos, neg, complete = sk.subtract(other).peel()
    assert complete and len(pos) == 0 and len(neg) == 0


def test_negative_keys_roundtrip():
    a = build(np.asarray([-5, -7, 3], dtype=np.int64), m=64)
    b = build(np.asarray([3], dtype=np.int64), m=64)
    pos, neg, complete = a.subtract(b).peel()
    assert complete and list(pos) == [-7, -5] and len(neg) == 0

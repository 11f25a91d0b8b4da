"""Merging two sketches of different classes raises TypeError and leaves
the receiver untouched: REQ subclasses KLL, and CountMin, CUCountMin
and AMS share one counter-table body, so their shapes can agree while
their level structure or counter semantics do not."""

from itertools import permutations

import numpy as np
import pytest

from q_digest_spark.sketches import KLL, REQ, CountMin
from q_digest_spark.sketches.ams import AMS
from q_digest_spark.sketches.cucountmin import CUCountMin

PAIRS = [
    (KLL, REQ, lambda: KLL(200), lambda: REQ(16)),
    (REQ, KLL, lambda: REQ(16), lambda: KLL(200)),
] + [
    (a, b, lambda a=a: a(4, 64), lambda b=b: b(4, 64))
    for a, b in permutations([CountMin, CUCountMin, AMS], 2)
]


@pytest.mark.parametrize(
    "into,other,make_into,make_other", PAIRS, ids=[f"{p[1].__name__}-into-{p[0].__name__}" for p in PAIRS]
)
def test_merge_rejects_other_sketch_type(into, other, make_into, make_other):
    a, b = make_into(), make_other()
    vals = np.arange(1, 1001, dtype=np.int64)
    a.update_batch(vals)
    b.update_batch(vals)
    before = a.to_bytes()
    with pytest.raises(TypeError, match=f"{other.__name__} into {into.__name__}"):
        a.merge(b)
    assert a.to_bytes() == before
    assert type(a.merge(make_into())) is into  # same type still merges

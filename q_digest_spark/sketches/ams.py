"""AMS "tug-of-war" sketch (Alon, Matias & Szegedy 1996) for the
second frequency moment F2 = sum_key f_key^2 — the self-join size /
repeat-rate statistic a query optimizer uses to cost an equi-self-join
and a skew detector uses to spot key concentration without a group-by.

This is the fast-AMS / Count-Sketch formulation (Charikar, Chen &
Farach-Colton 2002; Cormode & Garofalakis 2005 for the join-size inner
product): a depth x width matrix of signed counters. Each update adds
sign_i(x) at column h_i(x) in every row i; both the bucket and the
sign derive from independent splitmix64 re-mixes of the 64-bit input
hash (sketches/hashing.py). Row i's estimate of F2 is the sum of its
squared counters; the sketch reports the MEDIAN over rows.

Guarantees (AMS Thm 2.2 / CCF analysis): each row is an unbiased
estimator with Var <= 2*F2^2/width, so by Chebyshev a single row is
within eps*F2 with probability >= 1 - 2/(width*eps^2); the median over
`depth` rows amplifies that to 1 - delta with delta exponentially
small in depth. With the defaults (depth=7, width=8192) the per-row
eps at 3-sigma is sqrt(18/8192) ~= 0.047.

Unlike Count-Min (countmin.py), the estimator is unbiased and
two-sided — it can under- OR over-estimate — which is what makes it
the right tool for F2 and join sizes where CM's one-sided inflation
compounds. Merge = elementwise signed addition (same hash family by
construction), associative and commutative exactly — the same
mergeable-UDAF contract as every family here (reference merge
semantics: qcore.c:254-306).

Shared body: the counter table, ``update_batch``, shape-checked merge,
wire format (magic ``AMS1``) and repr are countmin.py's private
``_CounterTable``; this module holds the signed update and the F2,
inner-product and point queries. The wire body is countmin.py's
version 2: the signed table dense or sparse (non-zero cells only),
whichever is smaller, at the narrowest integer dtype that holds its
minimum and maximum; version-1 (dense int64) buffers still decode.
"""

from __future__ import annotations

import numpy as np

from .countmin import _CounterTable
from .hashing import hash_any, rehash

_BUCKET_SALT = 0xA11CE
_SIGN_SALT = 0x5EED5


def _exact_sq_sum(row: np.ndarray) -> int:
    """Exact sum of squares of an int64 counter row as a Python int
    (chunked so int64 partials cannot overflow, same technique as
    sketches/moments.py)."""
    v = np.asarray(row, dtype=np.int64)
    if len(v) == 0:
        return 0
    amax = max(1, int(np.max(np.abs(v))))
    if amax >= (1 << 31):
        # per-element squares overflow int64 — Python-int cold path
        return sum(x * x for x in v.tolist())
    chunk = max(1, int((1 << 62) // (amax * amax)))
    total = 0
    for lo in range(0, len(v), chunk):
        c = v[lo:lo + chunk]
        total += int(np.sum(c * c))
    return total


def _exact_dot(a: np.ndarray, b: np.ndarray) -> int:
    """Exact int dot product of two int64 rows (chunked, overflow-safe)."""
    va = np.asarray(a, dtype=np.int64)
    vb = np.asarray(b, dtype=np.int64)
    if len(va) == 0:
        return 0
    bound = max(1, int(np.max(np.abs(va)))) * max(1, int(np.max(np.abs(vb))))
    if bound >= (1 << 62):
        # per-element products can overflow int64 — Python-int cold path
        return sum(x * y for x, y in zip(va.tolist(), vb.tolist()))
    chunk = max(1, int((1 << 62) // bound))
    total = 0
    for lo in range(0, len(va), chunk):
        total += int(np.sum(va[lo:lo + chunk] * vb[lo:lo + chunk]))
    return total


class AMS(_CounterTable):
    __slots__ = ()
    MAGIC = b"AMS1"

    def __init__(self, depth: int = 7, width: int = 8192):
        super().__init__(depth, width)

    # -- update ----------------------------------------------------------

    def update_hashes(self, hashes: np.ndarray,
                      counts: np.ndarray | None = None) -> None:
        """Vectorized batch update from 64-bit input hashes; optional
        per-item weights (an item with count c moves its counter by
        sign * c, identical to c unit updates)."""
        h = np.asarray(hashes, dtype=np.uint64)
        if len(h) == 0:
            return
        if counts is None:
            counts = np.ones(len(h), dtype=np.int64)
            self.n += len(h)
        else:
            counts = np.asarray(counts, dtype=np.int64)
            self.n += int(counts.sum())
        w = np.uint64(self.width)
        one = np.uint64(1)
        for i in range(self.depth):
            bucket = (rehash(h, _BUCKET_SALT + i) % w).astype(np.int64)
            sign = 1 - 2 * (rehash(h, _SIGN_SALT + i) & one).astype(np.int64)
            np.add.at(self.table[i], bucket, sign * counts)

    # -- query -----------------------------------------------------------

    def f2(self) -> int:
        """Median-of-rows estimate of the second frequency moment
        (self-join size): median_i sum_j table[i,j]^2."""
        ests = sorted(_exact_sq_sum(self.table[i]) for i in range(self.depth))
        mid = len(ests) // 2
        if len(ests) % 2:
            return ests[mid]
        return (ests[mid - 1] + ests[mid]) // 2

    def rel_eps(self, sigmas: float = 3.0) -> float:
        """Per-row relative error at `sigmas` standard deviations:
        sqrt(sigmas^2 * 2 / width); the median over depth rows holds
        this bound except with probability exponentially small in
        depth."""
        return float(np.sqrt(sigmas * sigmas * 2.0 / self.width))

    def point_estimates(self, hashes: np.ndarray) -> np.ndarray:
        """Count-Sketch point queries (CCF'02): unbiased TURNSTILE
        frequency estimates f̂(x) = median over rows of
        sign_i(x) * table[i, h_i(x)]. Works after signed (insert and
        delete) updates — the two-sided complement to Count-Min's
        one-sided inflation; per-row std <= sqrt((F2 - f_x^2)/width).
        Vectorized over the query batch; int64 exact."""
        h = np.asarray(hashes, dtype=np.uint64)
        if len(h) == 0:
            return np.empty(0, dtype=np.int64)
        w = np.uint64(self.width)
        one = np.uint64(1)
        ests = np.empty((self.depth, len(h)), dtype=np.int64)
        for i in range(self.depth):
            bucket = (rehash(h, _BUCKET_SALT + i) % w).astype(np.int64)
            sign = 1 - 2 * (rehash(h, _SIGN_SALT + i) & one).astype(np.int64)
            ests[i] = sign * self.table[i, bucket]
        # integer median: exact for odd depth; for even depth the
        # mid-pair mean truncates TOWARD ZERO so negative turnstile
        # estimates keep the same rounding as positive ones (floor
        # division would bias them toward -inf by up to 1)
        ests.sort(axis=0)
        mid = self.depth // 2
        if self.depth % 2:
            return ests[mid]
        s = ests[mid - 1] + ests[mid]
        return np.sign(s) * (np.abs(s) // 2)

    def point_estimate(self, values) -> np.ndarray:
        return self.point_estimates(hash_any(values))

    def inner_product(self, other: "AMS") -> int:
        """Unbiased equi-join size estimate |A JOIN B ON key| =
        <f_A, f_B>: median over rows of the row-wise table dot
        products (Cormode & Garofalakis 2005). Two-sided error
        sqrt(2 * F2(A) * F2(B) / width) per row. Both sketches must
        share (depth, width) — same hash family by construction."""
        self._check_shape(other)
        dots = sorted(_exact_dot(self.table[i], other.table[i])
                      for i in range(self.depth))
        mid = len(dots) // 2
        if len(dots) % 2:
            return dots[mid]
        s = dots[mid - 1] + dots[mid]
        # toward-zero mean: join-size estimates can be negative on
        # adversarial inputs; keep rounding sign-symmetric
        return s // 2 if s >= 0 else -((-s) // 2)

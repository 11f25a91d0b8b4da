"""Exponential Histogram sliding-window SUM (Datar, Gionis, Indyk,
Motwani, SIAM J. Comput. 2002, §5 — the sums-of-bounded-positive-
integers extension of the basic counting sketch).

Reduction: an element ``(ts, v)`` is ``v`` unit bits arriving together
at ``ts``; the EH-for-sums sketch IS DGIM (sketches/dgim.py) run on
the expanded bit stream. Two consequences this module exploits:

* the canonical end-of-stream bucket SIZES depend only on
  ``m = sum(v)`` — the same redundant-binary closed form DGIM uses
  (per level, d in {r-1, r} below the top digit), so the state is
  built in O(log m) after the sort, and the >=1-bucket-per-size
  invariant the error proof needs holds by construction;
* bucket TIMESTAMPS map back to elements through the reversed
  cumulative value sums: bit offset ``off`` (0-based from the newest
  bit) lives in reversed-element ``j = searchsorted(rev_cum, off,
  'right')`` — the v-fold expansion is never materialized.

Error guarantee (the DGIM argument, carried over because bit
positions are ts-sorted so every kept bucket newer than the oldest
kept one lies fully inside the window): with the oldest kept bucket
of size s, the estimate ``kept_total - oldest + ceil(oldest / 2)``
errs by at most ``floor(s / 2)`` while the true window sum is at
least ``1 + (r - 1) (s - 1)`` (canonical states carry >= r - 1
buckets of every smaller size). The ratio ``floor(s/2) / (1 +
(r-1)(s-1))`` is maximized at s = 2, giving the integer assertion

    r * |est - exact| <= exact

for any window containing at least one element — at r = 2 this is
exactly the familiar 50% DGIM bound, and as s grows it tightens
toward ``1 / (2 (r - 1))`` (the asymptotic constant in Datar et al.).

Equal timestamps are benign: reordering equal-ts elements permutes
bit positions only within runs whose element timestamps are all
equal, so every bucket's (ts, size) pair — and hence the estimate —
is unchanged; the sketch state is deterministic under shuffle
nondeterminism.

Sequential-prefix caveat (same as DGIM): state is order-dependent;
distribute ACROSS keys, one sorted pass per key.

Public methodology (Datar et al. 2002); no reference counterpart —
this extends the reference's quantile-sketch theme (qcore.c) to
sliding-window aggregation.
"""

from __future__ import annotations

import numpy as np

from .dgim import DGIM


class EHSum(DGIM):
    """Exponential histogram for trailing-window sums of positive
    ints. Bucket state layout, ``estimate`` and serialization are
    inherited from DGIM; only the build differs (values > 1 expand
    into runs of unit bits, handled in closed form)."""

    @classmethod
    def from_sorted_values(cls, ts, vals, r: int = 2) -> "EHSum":
        """Canonical state after inserting elements ``(ts_i, vals_i)``
        (ts ascending, vals positive int64) into an empty sketch."""
        sk = cls(r)
        a = np.asarray(ts, dtype=np.int64)
        v = np.asarray(vals, dtype=np.int64)
        if a.shape != v.shape:
            raise ValueError("ts and vals must have the same length")
        n = len(a)
        if n and np.any(a[1:] < a[:-1]):
            raise ValueError("timestamps must be ascending")
        if np.any(v <= 0):
            raise ValueError("values must be positive")
        m = int(v.sum())
        if m == 0:
            return sk
        # redundant-binary closed form (identical to DGIM.from_sorted_ts)
        digits = []
        rem = m
        while rem > 0:
            if rem <= r:
                digits.append(rem)
                rem = 0
            else:
                c = (rem - r + 1) // 2
                digits.append(rem - 2 * c)
                rem = c
        rev_cum = np.cumsum(v[::-1])  # bits covered by the j+1 newest elements
        ts_rev = a[::-1]
        off = 0  # bit offset of the bucket's NEWEST bit, from the stream end
        out = []  # newest-first (ts, size)
        for lvl, d in enumerate(digits):
            s = 1 << lvl
            for _ in range(d):
                j = int(np.searchsorted(rev_cum, off, side="right"))
                out.append((int(ts_rev[j]), s))
                off += s
        out.reverse()
        sk.ts = [t for t, _ in out]
        sk.size = [s for _, s in out]
        return sk

    def insert_value(self, t: int, v: int) -> None:
        """Per-bit cascade (property-test oracle for the closed form):
        inserts ``v`` unit bits at ``t`` through DGIM.insert."""
        if v <= 0:
            raise ValueError("values must be positive")
        for _ in range(int(v)):
            self.insert(int(t))

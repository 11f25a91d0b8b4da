"""Q-Digest quantile sketch — vectorized, pointer-free re-design.

Semantics follow the reference C implementation (cited per function;
see /root/reference/src/qcore.c) and Shrivastava, Buragohain, Agrawal &
Suri, "Medians and Beyond" (SenSys 2004), but the representation is a
**sparse map over canonical dyadic heap ids**, not a pointer tree:

- the universe is ``[0, 2**universe_bits)``; the node at heap id ``i``
  (root = 1) at depth ``d = floor(log2 i)`` covers
  ``[off * span, (off+1) * span)`` with ``off = i - 2**d`` and
  ``span = 2**(universe_bits - d)``; a value ``v`` maps to leaf id
  ``2**universe_bits + v``.
- state = two parallel sorted numpy arrays ``(ids: uint64,
  counts: int64)`` plus ``n`` (total inserted weight) and ``k``.

With canonical ids, the reference's operators collapse to array ops:

- ``insert``  (qcore.c:201-248)  -> ``np.unique`` + sorted-merge add
  (stable sort of two sorted runs + ``np.add.reduceat``)
- ``merge``   (qcore.c:390-417)  -> concat + groupby(id).sum, then
  compress; associative/commutative up to compression order, which is
  exactly Spark's partial-aggregation contract
- ``compress`` (qcore.c:130-154, trigger 6*k at qcore.c:183-189) ->
  bottom-up per-level sweep: family (parent + both children) with total
  count < floor(n/k) folds into the parent; sorted ids keep each level
  in one contiguous slice, so the sweep is one pass over the levels
- ``percentile`` (qcore.c:356-384) -> sort nodes in post-order
  (ascending upper_bound, deeper-first on ties), cumsum counts,
  searchsorted; returns the node's upper bound (one-sided high
  estimate, same as the reference)
- ``to_string``/``from_string`` (qcore.c:434-501) -> packed
  little-endian binary (Arrow/shuffle-friendly) instead of text

Divergences from the reference, on purpose:
- ``expand_tree`` (qcore.c:300-349) is replaced by :meth:`rebase`,
  once per batch rather than once per doubling: ``universe_bits=None``
  grows like ``create_tmp_q(K,1)``, starting at 1 bit and rebasing to
  each batch maximum's width, and merge rebases the narrower of two
  sketches. An explicit ``universe_bits`` is fixed, and a value
  outside it raises.
- the rank for ``percentile(p)`` is ``max(1, ceil(p*n))`` rather than
  the C truncation ``(size_t)(p*n)`` (qcore.c:382) — a <=1-rank
  difference, well inside the eps*n bound, and it makes the
  uncompressed sketch (``k=0``) return the *exact* order statistic,
  which the DuckDB oracle can reproduce in ANSI SQL.

Published error bound: rank error <= eps * n with eps =
log2(universe)/k; space O(k * log2(universe)).
"""

from __future__ import annotations

import struct

import numpy as np

U64 = np.uint64
_HDR = struct.Struct("<4sBBqqq")  # magic, version, universe_bits, k, n, m
_MAGIC = b"QDG1"


def _level_of(ids: np.ndarray) -> np.ndarray:
    """depth of each heap id = floor(log2(id)); exact for ids < 2**53."""
    _, e = np.frexp(ids.astype(np.float64))
    return e.astype(np.int64) - 1


def _merge_sorted(ids_a, cnt_a, ids_b, cnt_b):
    """Union two sorted (id, count) arrays, summing counts on collisions.
    A stable sort of the concatenation merges the two sorted runs in one
    linear pass (timsort finds the runs), and one ``reduceat`` sums each
    run of equal ids."""
    if len(ids_a) == 0:
        return ids_b.copy(), cnt_b.copy()
    if len(ids_b) == 0:
        return ids_a.copy(), cnt_a.copy()
    ids = np.concatenate([ids_a, ids_b])
    order = np.argsort(ids, kind="stable")
    return _sum_runs(ids[order], np.concatenate([cnt_a, cnt_b])[order])


def _run_starts(ids):
    """Index of the first element of each run of equal values in sorted ``ids``."""
    return np.flatnonzero(np.concatenate(([True], ids[1:] != ids[:-1])))


def _sum_runs(ids, counts):
    """Collapse runs of equal ids in sorted ``ids``, summing their counts."""
    start = _run_starts(ids)
    return ids[start], np.add.reduceat(counts, start)


class QDigest:
    """Mergeable Q-Digest. ``k <= 0`` disables compression (exact mode).

    ``universe_bits=None`` starts at a 1-bit universe and grows it to
    each batch maximum's width (the reference's ``create_tmp_q(K, 1)``
    plus ``expand_tree``); an explicit ``universe_bits`` is a contract:
    a value outside it raises. Either way a negative value, or one at
    or past 2**48, raises. A decoded sketch is fixed at its wire
    universe (the wire format has no flag for growth); merge still
    rebases it."""

    __slots__ = ("k", "universe_bits", "grows", "ids", "counts", "n")

    COMPRESS_TRIGGER = 6  # compress when num_nodes >= 6*k (qcore.c:184)
    MAX_BITS = 48

    def __init__(self, k: int = 256, universe_bits: int | None = 32):
        self.grows = universe_bits is None
        if self.grows:
            universe_bits = 1
        if not (1 <= universe_bits <= self.MAX_BITS):
            raise ValueError(f"universe_bits must be in [1, {self.MAX_BITS}]")
        self.k = int(k)
        self.universe_bits = int(universe_bits)
        self.ids = np.empty(0, dtype=U64)
        self.counts = np.empty(0, dtype=np.int64)
        self.n = 0

    # ------------------------------------------------------------- update
    def update_batch(self, values: np.ndarray, weights: np.ndarray | None = None) -> None:
        """Vectorized bulk insert (replaces per-row insert, qcore.c:201-248):
        map values to leaf ids, collapse duplicates, sorted-merge into
        state, compress at most once per batch. A growing sketch first
        rebases to the batch maximum's width (qcore.c:203-210)."""
        values = np.asarray(values)
        values = values[~np.isnan(values)] if values.dtype.kind == "f" else values
        if len(values) == 0:
            return
        values = values.astype(np.int64)
        lo, hi = values.min(), values.max()
        bits = self.MAX_BITS if self.grows else self.universe_bits
        if lo < 0 or hi >= (1 << bits):
            raise ValueError(
                f"values outside universe [0, 2^{bits}): min={lo} max={hi}"
            )
        if hi >= (1 << self.universe_bits):
            self.rebase(universe_bits_for(hi))
        leaf = values.view(U64) + (U64(1) << U64(self.universe_bits))
        if weights is None:
            uniq, cnt = np.unique(leaf, return_counts=True)
            cnt = cnt.astype(np.int64)
            self.n += len(values)
        else:
            weights = np.asarray(weights, dtype=np.int64)
            order = np.argsort(leaf, kind="stable")
            uniq, cnt = _sum_runs(leaf[order], weights[order])
            self.n += int(weights.sum())
        self.ids, self.counts = _merge_sorted(self.ids, self.counts, uniq, cnt)
        self._compress_if_needed()

    # ----------------------------------------------------------- compress
    def _compress_if_needed(self) -> None:
        if self.k > 0 and len(self.ids) >= self.COMPRESS_TRIGGER * self.k:
            self.compress()

    def compress(self) -> None:
        """One bottom-up sweep. A family (parent + two children) whose
        total count < floor(n/k) folds into the parent (qcore.c:130-154).
        Visiting deepest level first reproduces the reference's
        post-order traversal (children before parents).

        Level d holds the heap ids in [2**d, 2**(d+1)), so the sorted
        ids keep each level in one contiguous slice: the state is cut
        into levels once, and each step touches only its level and the
        one above it."""
        if self.k <= 0 or self.n == 0 or len(self.ids) == 0:
            return
        thr = self.n // self.k
        if thr <= 1:
            return
        top = int(_level_of(self.ids[-1:])[0])
        cuts = np.searchsorted(self.ids, U64(1) << np.arange(1, top + 1, dtype=U64))
        ids, counts = np.split(self.ids, cuts), np.split(self.counts, cuts)
        for d in range(top, 0, -1):
            cids, ccnt = ids[d], counts[d]
            if len(cids) == 0:
                continue
            parents = cids >> U64(1)  # sorted because cids is sorted
            start = _run_starts(parents)
            up = parents[start]
            total = np.add.reduceat(ccnt, start)
            pids, pcnt = ids[d - 1], counts[d - 1]
            pos = np.searchsorted(pids, up)
            pexists = np.zeros(len(up), dtype=bool)
            if len(pids):
                pexists = pids[np.minimum(pos, len(pids) - 1)] == up
                total[pexists] += pcnt[pos[pexists]]
            absorb = total < thr
            if not absorb.any():
                continue
            # absorbed families: drop the children, set or add the parent
            keep = np.repeat(~absorb, np.diff(start, append=len(cids)))
            ids[d], counts[d] = cids[keep], ccnt[keep]
            pcnt = pcnt.copy()
            pcnt[pos[absorb & pexists]] = total[absorb & pexists]
            new = absorb & ~pexists
            ids[d - 1], counts[d - 1] = _merge_sorted(pids, pcnt, up[new], total[new])
        ids, counts = np.concatenate(ids), np.concatenate(counts)
        nz = counts > 0
        self.ids = ids[nz]
        self.counts = counts[nz]

    # -------------------------------------------------------------- merge
    def merge(self, other: "QDigest") -> "QDigest":
        """In-place multiset union (qcore.c:390-417): k = max(k1, k2),
        universe = max of the two (the narrower sketch is rebased),
        counts summed on matching canonical ids, then one compress."""
        if other.n == 0:
            return self
        a, b = self, other
        if a.universe_bits < b.universe_bits:
            a.rebase(b.universe_bits)
        elif b.universe_bits < a.universe_bits:
            b = b.copy()
            b.rebase(a.universe_bits)
        # k = max, except exact mode (k<=0) is contagious only if both exact
        if a.k <= 0 or b.k <= 0:
            self.k = min(a.k, b.k) if (a.k <= 0 and b.k <= 0) else max(a.k, b.k)
        else:
            self.k = max(a.k, b.k)
        self.ids, self.counts = _merge_sorted(a.ids, a.counts, b.ids, b.counts)
        self.n = a.n + b.n
        self._compress_if_needed()
        return self

    def rebase(self, new_bits: int) -> None:
        """Re-root into a wider universe (replaces expand_tree,
        qcore.c:300-349): a node keeps its offset, its depth grows by
        delta = new_bits - old_bits, so id' = offset + 2**(depth+delta)."""
        delta = new_bits - self.universe_bits
        if delta < 0:
            raise ValueError("cannot shrink universe")
        if delta == 0 or len(self.ids) == 0:
            self.universe_bits = new_bits
            return
        d = _level_of(self.ids).view(np.int64)
        off = self.ids - (U64(1) << d.view(U64))
        self.ids = off + (U64(1) << (d + delta).view(U64))
        srt = np.argsort(self.ids, kind="stable")
        self.ids = self.ids[srt]
        self.counts = self.counts[srt]
        self.universe_bits = new_bits

    def copy(self) -> "QDigest":
        c = QDigest(self.k, self.universe_bits)
        c.grows = self.grows
        c.ids = self.ids.copy()
        c.counts = self.counts.copy()
        c.n = self.n
        return c

    # -------------------------------------------------------------- query
    def _postorder(self):
        """Nodes in ascending upper_bound, deeper-first on ties — the
        traversal order of postorder_by_rank (qcore.c:356-370)."""
        d = _level_of(self.ids)
        span = np.int64(1) << (self.universe_bits - d)
        off = (self.ids - (U64(1) << d.view(U64))).astype(np.int64)
        ub = (off + 1) * span - 1
        order = np.lexsort((-d, ub))  # primary ub asc, secondary depth desc
        return ub[order], self.counts[order]

    def percentile(self, p: float) -> int:
        """Smallest node upper bound whose cumulative post-order count
        reaches rank max(1, ceil(p*n)) (qcore.c:379-384)."""
        return self.quantiles([p])[0]

    def quantiles(self, ps) -> list[int]:
        if self.n == 0:
            raise ValueError("empty sketch")
        ub, cnt = self._postorder()
        cum = np.cumsum(cnt)
        out = []
        for p in ps:
            rank = min(max(1, int(np.ceil(p * self.n))), self.n)
            i = min(int(np.searchsorted(cum, rank, side="left")), len(ub) - 1)
            out.append(int(ub[i]))
        return out

    def rank_of(self, value: int) -> int:
        """Upper-bound rank estimate: total count of nodes whose ub <= value
        plus nodes straddling value (counted fully) — mirrors the paper's
        one-sided rank semantics."""
        ub, cnt = self._postorder()
        i = int(np.searchsorted(ub, value, side="right"))
        return int(np.cumsum(cnt)[i - 1]) if i > 0 else 0

    def ranks_of(self, values) -> np.ndarray:
        """Vectorized rank_of: one postorder + one searchsorted for a
        whole Arrow batch (the per-row scoring path of
        operators/quantiles.percentile_transform)."""
        ub, cnt = self._postorder()
        cum = np.cumsum(cnt)
        i = np.searchsorted(ub, np.asarray(values, dtype=np.int64), side="right")
        out = np.zeros(len(i), dtype=np.int64)
        nz = i > 0
        out[nz] = cum[i[nz] - 1]
        return out

    @property
    def num_nodes(self) -> int:
        return len(self.ids)

    def error_bound(self) -> float:
        """Published eps: rank error <= (log2 universe / k) * n."""
        if self.k <= 0:
            return 0.0
        return self.universe_bits / self.k

    # ---------------------------------------------------------- serialize
    def to_bytes(self) -> bytes:
        """Binary wire format (replaces text to_string, qcore.c:450-463)."""
        hdr = _HDR.pack(_MAGIC, 1, self.universe_bits, self.k, self.n, len(self.ids))
        return hdr + self.ids.tobytes() + self.counts.tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes) -> "QDigest":
        magic, ver, bits, k, n, m = _HDR.unpack_from(buf, 0)
        if magic != _MAGIC or ver != 1:
            raise ValueError("bad QDigest buffer")
        sk = cls(k, bits)
        o = _HDR.size
        sk.ids = np.frombuffer(buf, dtype=U64, count=m, offset=o).copy()
        sk.counts = np.frombuffer(buf, dtype=np.int64, count=m, offset=o + 8 * m).copy()
        sk.n = n
        return sk

    def __repr__(self) -> str:  # print_tree analogue (qcore.c:156-159)
        return (
            f"QDigest(k={self.k}, bits={self.universe_bits}, "
            f"nodes={len(self.ids)}, n={self.n})"
        )


def universe_bits_for(max_value: int) -> int:
    """Smallest b with max_value < 2**b (>=1)."""
    return max(1, int(max_value).bit_length())

"""Deterministic mergeable quantile summary (Greenwald-Khanna family).

The deterministic counterpart to the randomized KLL: a set of
``(value, rmin, rmax)`` entries where ``[rmin, rmax]`` is a CERTIFIED
interval for the value's true rank. Three operations, each preserving
certification:

- build: from an exactly sorted chunk, keep every s-th element with
  rmin = rmax = its true rank (plus both extremes);
- merge: combined bounds via the Greenwald-Khanna rank-combine
  (rmin' = rmin_A + rmin of the predecessor in B; rmax' = rmax_A +
  rmax of the successor in B - 1, or + n_B past the end) — valid
  bounds in, valid bounds out (Greenwald & Khanna, SIGMOD 2001;
  mergeability per Agarwal et al., PODS 2012);
- prune: keep a rank-evenly-spaced subset (bounds unchanged).

Because bounds stay TRUE under any merge schedule, the sketch
certifies its own error exactly: for a rank query r the certified
error is ``min_i max(r - rmin_i, rmax_i - r)`` — an integer computed
from the final structure, no probabilistic argument. The graded query
asserts the observed rank error against this self-certified bound;
pytest additionally pins the bound itself to the O((log^2 n)/b)
growth the LSM merge discipline guarantees.

Chunks buffer raw values and fold through a binary-counter LSM
(merge two level-i summaries -> prune -> level i+1), so the number of
prunes — each adding at most n/(2b) rank slack — is logarithmic, not
linear, in the number of chunks.

Serialization folds the levels to a single summary (the shuffle
representation); merging folded summaries is still certified, so the
``sketch_aggregate`` partial/tree-merge contract applies unchanged.

Public methodology; no reference counterpart (the reference's only
quantile structure is the Q-Digest, qcore.c).
"""

from __future__ import annotations

import struct

import numpy as np

_HDR = struct.Struct("<4sIqq")
_MAGIC = b"GKS1"
_CHUNK = 32768


class _Summary:
    __slots__ = ("vals", "rmin", "rmax", "n")

    def __init__(self, vals, rmin, rmax, n):
        self.vals = vals  # float64 ascending
        self.rmin = rmin  # int64, ascending
        self.rmax = rmax  # int64
        self.n = int(n)


def _from_sorted(a: np.ndarray, b: int) -> _Summary:
    """Exact-rank summary of a sorted chunk: every s-th element plus
    both extremes, rmin == rmax == true rank."""
    n = len(a)
    s = max(1, n // (2 * b))
    idx = np.arange(0, n, s, dtype=np.int64)
    if idx[-1] != n - 1:
        idx = np.append(idx, n - 1)
    r = idx + 1
    return _Summary(a[idx].copy(), r, r.copy(), n)


def _merge(sa: _Summary, sb: _Summary) -> _Summary:
    """GK rank-combine; certified bounds in -> certified bounds out."""
    if sa.n == 0:
        return sb
    if sb.n == 0:
        return sa

    def side(x: _Summary, y: _Summary):
        # pred: strictly-smaller neighbor (side=left), succ: strictly-
        # greater neighbor (side=right) — with duplicates, an equal
        # y-value may order either side of x, so only strict neighbors
        # keep the bounds certified.
        jl = np.searchsorted(y.vals, x.vals, side="left")
        jr = np.searchsorted(y.vals, x.vals, side="right")
        pred = np.where(jl > 0, y.rmin[np.maximum(jl - 1, 0)], 0)
        succ = np.where(
            jr < len(y.vals), y.rmax[np.minimum(jr, len(y.vals) - 1)] - 1, y.n
        )
        return x.rmin + pred, x.rmax + succ

    ra_lo, ra_hi = side(sa, sb)
    rb_lo, rb_hi = side(sb, sa)
    vals = np.concatenate([sa.vals, sb.vals])
    rmin = np.concatenate([ra_lo, rb_lo])
    rmax = np.concatenate([ra_hi, rb_hi])
    order = np.lexsort((rmin, vals))
    return _Summary(vals[order], rmin[order], rmax[order], sa.n + sb.n)


def _prune(s: _Summary, b: int) -> _Summary:
    if len(s.vals) <= b + 1:
        return s
    mid = (s.rmin + s.rmax) // 2
    # entries are value-sorted, not mid-sorted: with duplicate values
    # rmax can dip locally, and searchsorted on a non-monotonic array
    # returns garbage indices. Searching the running max keeps every
    # index valid while still landing near the target rank.
    mono = np.maximum.accumulate(mid)
    targets = 1 + (np.arange(b + 1, dtype=np.int64) * (s.n - 1)) // b
    j = np.clip(np.searchsorted(mono, targets), 0, len(mid) - 1)
    # nearest of (j-1, j) by mid distance, deterministic tie toward j-1
    jm = np.maximum(j - 1, 0)
    pick = np.where(
        np.abs(mid[jm] - targets) <= np.abs(mid[j] - targets), jm, j
    )
    pick = np.union1d(pick, [0, len(mid) - 1])
    return _Summary(s.vals[pick], s.rmin[pick], s.rmax[pick], s.n)


class GK:
    """Buffered LSM of certified summaries with budget ``b``."""

    __slots__ = ("b", "n", "_buf", "_levels", "_fold_cache")

    def __init__(self, b: int = 2048):
        if b < 2:
            raise ValueError(f"b must be >= 2, got {b}")
        self.b = int(b)
        self.n = 0
        self._buf: list[np.ndarray] = []
        self._levels: list[_Summary | None] = []
        self._fold_cache: _Summary | None = None

    # ------------------------------------------------------------- update
    def update_batch(self, values) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return
        self.n += len(v)
        self._buf.append(v)
        self._fold_cache = None
        if sum(len(x) for x in self._buf) >= _CHUNK:
            self._flush()

    def _push(self, s: _Summary) -> None:
        lvl = 0
        while True:
            if lvl == len(self._levels):
                self._levels.append(s)
                return
            if self._levels[lvl] is None:
                self._levels[lvl] = s
                return
            s = _prune(_merge(self._levels[lvl], s), self.b)
            self._levels[lvl] = None
            lvl += 1

    def _flush(self) -> None:
        if not self._buf:
            return
        a = np.sort(np.concatenate(self._buf))
        self._buf = []
        self._push(_from_sorted(a, self.b))

    # -------------------------------------------------------------- merge
    def merge(self, other: "GK") -> "GK":
        if other.b != self.b:
            raise ValueError("budget mismatch")
        self._flush()
        other._flush()
        # non-destructive: summaries are immutable after construction
        # (_merge/_prune build new arrays), so sharing references is
        # safe and `other` stays queryable — same contract as every
        # other sketch's merge in this package
        for s in other._levels:
            if s is not None:
                self._push(s)
        self.n += other.n
        self._fold_cache = None
        return self

    def _fold(self) -> _Summary:
        if self._fold_cache is not None:
            return self._fold_cache
        self._flush()
        out = None
        for s in self._levels:
            if s is None:
                continue
            out = s if out is None else _prune(_merge(out, s), 2 * self.b)
        if out is None:
            out = _Summary(
                np.empty(0), np.empty(0, np.int64), np.empty(0, np.int64), 0
            )
        self._fold_cache = out
        return out

    # -------------------------------------------------------------- query
    def certified_error(self, rank: int) -> int:
        """Exact integer bound on |true_rank(answer) - rank| for this
        structure: min over entries of max(r - rmin, rmax - r)."""
        s = self._fold()
        if s.n == 0:
            return 0
        r = int(rank)
        return int(np.min(np.maximum(r - s.rmin, s.rmax - r)))

    def quantile(self, p: float) -> float:
        s = self._fold()
        if s.n == 0:
            return float("nan")
        # rank = max(1, ceil(p*n)) with p quantized to ppm (integer-
        # exact ceil, no float boundary — CLAUDE.md quantization rule)
        r = max(1, (int(round(p * 10**6)) * s.n + 10**6 - 1) // 10**6)
        err = np.maximum(r - s.rmin, s.rmax - r)
        return float(s.vals[int(np.argmin(err))])

    def rank_query(self, rank: int) -> float:
        s = self._fold()
        if s.n == 0:
            return float("nan")
        err = np.maximum(int(rank) - s.rmin, s.rmax - int(rank))
        return float(s.vals[int(np.argmin(err))])

    def n_entries(self) -> int:
        return len(self._fold().vals)

    # ------------------------------------------------------ serialization
    def to_bytes(self) -> bytes:
        s = self._fold()
        hdr = _HDR.pack(_MAGIC, self.b, self.n, len(s.vals))
        return hdr + s.vals.astype(np.float64).tobytes() + s.rmin.astype(
            np.int64
        ).tobytes() + s.rmax.astype(np.int64).tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes) -> "GK":
        magic, b, n, m = _HDR.unpack_from(raw, 0)
        if magic != _MAGIC:
            raise ValueError("bad GK header")
        off = _HDR.size
        vals = np.frombuffer(raw, np.float64, m, off).copy()
        off += 8 * m
        rmin = np.frombuffer(raw, np.int64, m, off).copy()
        off += 8 * m
        rmax = np.frombuffer(raw, np.int64, m, off).copy()
        sk = cls(b)
        sk.n = n
        if m:
            sk._levels = [_Summary(vals, rmin, rmax, n)]
        return sk

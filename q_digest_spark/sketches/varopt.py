"""VarOpt_k — variance-optimal weighted sampling for subset sums.

Public basis: Cohen, Duffield, Kaplan, Lund, Thorup, "Stream sampling
for variance-optimal estimation of subset sums" (SODA 2009) and the
Apache DataSketches VarOpt sketch it produced. A VarOpt_k sample of a
weighted stream answers ANY subset-sum query sum{w_i : i in S}
unbiasedly with the minimum possible worst-case variance for k-item
samples: items with weight above a threshold tau are kept EXACTLY;
the rest are PPS-sampled and carry adjusted weight tau each.

Execution model here (batch/merge, not per-arrival): the classic
stream algorithm processes one arrival at a time — per-row Python,
banned in this engine's hot paths (CLAUDE.md). Instead each
update_batch / merge runs the ONE-SHOT VarOpt reduction on (current
sample ∪ new items), treating stored adjusted weights as item
weights — exactly how the DataSketches VarOpt union folds sketches
together. One-shot reduction of a weighted set to k items:

    sort weights descending; keep the largest t items exact, where t
    is the smallest count such that every remaining weight <= tau(t)
    = S(t)/(k-t) (S(t) = sum of the n-t smallest weights); from the
    n-t light items select EXACTLY k-t by systematic PPS sampling
    (inclusion probability w_i/tau, deterministic seeded offset), and
    assign each survivor adjusted weight tau.

Invariants (property-tested in tests/test_varopt.py):
- TOTAL PRESERVATION: sum of adjusted weights == total input weight
  (mathematically exact; float64 accumulates ~ulp error, asserted at
  rel 1e-9);
- heavy items (w > tau) are always present with their exact weight;
- unbiasedness: per-subset estimates average to the exact sum across
  seeds (asserted within 3 standard errors over 200 seeds);
- merge is closed: merging partials then reducing gives a valid
  VarOpt state over the concatenated input (the union contract; the
  paper's per-arrival inclusion probabilities are reproduced exactly
  for a single batch, and the union preserves unbiasedness —
  DataSketches' gadget-based proof).

Accuracy contract for graded flags: the per-subset standard deviation
of a VarOpt estimator is bounded by ~W/(2 sqrt(k-1)) (each of the
<= k-1 sampled lights contributes variance <= tau^2/4 and
tau <= W/(k-t)); error_bound() asserts the 4-sigma envelope
|est - E| <= 4 * W / (2 sqrt(k-1)), validated empirically in
tests/test_varopt.py over seeds, subsets, and 16-way merges.

Deterministic: the systematic-sampling offset comes from splitmix64
of an internal counter, so runs and merges are reproducible.

No counterpart in the reference repo; north_rule sampling family —
the variance-optimal complement to priority sampling
(operators/sampling.priority_sample, whose estimator is near-optimal
but not optimal; VarOpt additionally keeps the sample EXACTLY k items).
"""

from __future__ import annotations

import struct

import numpy as np

from .hashing import splitmix64

_HDR = struct.Struct("<4sBqqdq")  # magic, ver, k, n_items, total_w, coin
_MAGIC = b"VOP1"


class VarOpt:
    __slots__ = ("k", "n", "total_w", "keys", "weights", "_coin")

    def __init__(self, k: int = 64):
        if k < 2:
            raise ValueError("k must be >= 2")
        self.k = int(k)
        self.n = 0  # stream length seen
        self.total_w = 0.0
        self.keys = np.empty(0, dtype=np.int64)
        self.weights = np.empty(0, dtype=np.float64)
        self._coin = 0

    # ------------------------------------------------------------ reduction
    def _offset(self) -> float:
        self._coin += 1
        z = splitmix64(np.array([self._coin], dtype=np.uint64))[0]
        return float(z) / float(1 << 64)

    def _reduce(self, keys: np.ndarray, weights: np.ndarray) -> None:
        """One-shot VarOpt_k of a weighted set (keys unique)."""
        n = len(keys)
        if n <= self.k:
            self.keys, self.weights = keys, weights
            return
        order = np.argsort(-weights, kind="stable")
        w = weights[order]
        ks = keys[order]
        # suffix sums: S[t] = sum of w[t:]
        suffix = np.concatenate([np.cumsum(w[::-1])[::-1], [0.0]])
        t_candidates = np.arange(0, self.k)
        tau_t = suffix[t_candidates] / (self.k - t_candidates)
        # valid t: every remaining weight <= tau(t)  <=>  w[t] <= tau(t)
        valid = w[t_candidates] <= tau_t
        t = int(t_candidates[valid][0]) if valid.any() else self.k - 1
        tau = float(suffix[t] / (self.k - t))
        heavy_k, heavy_w = ks[:t], w[:t]
        light_k, light_w = ks[t:], w[t:]
        m = self.k - t  # how many lights survive
        p = light_w / tau  # inclusion probabilities, sum == m (up to ulp)
        cum = np.cumsum(p)
        # systematic PPS: one uniform offset u in [0,1); pointers
        # u, u+1, ..., u+m-1 each select the item whose cumulative
        # interval contains them -> exactly m survivors, P(i) = p_i
        u = self._offset()
        pointers = u + np.arange(m, dtype=np.float64)
        idx = np.searchsorted(cum, pointers, side="right")
        idx = np.clip(idx, 0, len(light_k) - 1)
        idx = np.unique(idx)
        # float ulp drift can under-select; top up deterministically
        # with the largest unselected lights (never over-selects:
        # pointers are strictly increasing and intervals disjoint)
        if len(idx) < m:
            mask = np.ones(len(light_k), dtype=bool)
            mask[idx] = False
            extra = np.flatnonzero(mask)[: m - len(idx)]
            idx = np.concatenate([idx, extra])
        self.keys = np.concatenate([heavy_k, light_k[idx]])
        self.weights = np.concatenate(
            [heavy_w, np.full(len(idx), tau, dtype=np.float64)]
        )

    # -------------------------------------------------------------- update
    def update_batch(self, keys, weights) -> None:
        """keys: int64 identifiers (unique within the stream);
        weights: positive weights."""
        keys = np.asarray(keys, dtype=np.int64)
        weights = np.asarray(weights, dtype=np.float64)
        ok = np.isfinite(weights) & (weights > 0)
        keys, weights = keys[ok], weights[ok]
        if len(keys) == 0:
            return
        self.n += len(keys)
        self.total_w += float(weights.sum())
        self._reduce(
            np.concatenate([self.keys, keys]),
            np.concatenate([self.weights, weights]),
        )

    # --------------------------------------------------------------- merge
    def merge(self, other: "VarOpt") -> "VarOpt":
        if self.n == 0:
            self.k = other.k
        elif other.n:
            # can't honestly widen past the smallest partial's support
            self.k = min(self.k, other.k)
        self.n += other.n
        self.total_w += other.total_w
        self._coin = max(self._coin, other._coin)
        self._reduce(
            np.concatenate([self.keys, other.keys]),
            np.concatenate([self.weights, other.weights]),
        )
        return self

    # --------------------------------------------------------------- query
    def subset_sum(self, member_mask_fn) -> float:
        """Unbiased estimate of sum of weights over the subset
        selected by ``member_mask_fn(keys) -> bool array``."""
        if len(self.keys) == 0:
            return 0.0
        mask = np.asarray(member_mask_fn(self.keys), dtype=bool)
        return float(self.weights[mask].sum())

    def error_bound(self) -> float:
        """The asserted (module docstring) 4-sigma subset-sum
        envelope: 4 * W / (2 sqrt(k-1))."""
        return 4.0 * self.total_w / (2.0 * np.sqrt(self.k - 1))

    # ----------------------------------------------------------- serialize
    def to_bytes(self) -> bytes:
        hdr = _HDR.pack(
            _MAGIC, 1, self.k, self.n, self.total_w, self._coin
        )
        return (
            hdr
            + struct.pack("<q", len(self.keys))
            + self.keys.tobytes()
            + self.weights.tobytes()
        )

    @classmethod
    def from_bytes(cls, buf: bytes) -> "VarOpt":
        magic, ver, k, n, total_w, coin = _HDR.unpack_from(buf, 0)
        if magic != _MAGIC or ver != 1:
            raise ValueError("bad VarOpt buffer")
        sk = cls(k)
        sk.n = n
        sk.total_w = total_w
        sk._coin = coin
        o = _HDR.size
        (m,) = struct.unpack_from("<q", buf, o)
        o += 8
        sk.keys = np.frombuffer(buf, dtype=np.int64, count=m, offset=o).copy()
        o += 8 * m
        sk.weights = np.frombuffer(
            buf, dtype=np.float64, count=m, offset=o
        ).copy()
        return sk

    def __repr__(self) -> str:
        return (
            f"VarOpt(k={self.k}, n={self.n}, total_w={self.total_w:.1f}, "
            f"sample={len(self.keys)})"
        )

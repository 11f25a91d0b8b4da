"""Theta (KMV — k-minimum-values) distinct sketch with SET ALGEBRA.

No counterpart in the reference repo; included because the north_rule
asks for a mergeable distinct-counting toolkit and HLL cannot answer
set INTERSECTION or DIFFERENCE without the badly-conditioned
inclusion-exclusion detour (hll_intersection_halves compounds three
absolute errors). A theta sketch is a uniform sample of the distinct
keys' hash space: every estimate — union, intersection, difference —
is |retained matching hashes| / theta, with the SAME relative error
profile (Dasgupta et al., "Theta-Sketch Framework", 2016).

State: the set of retained 64-bit hashes h < theta (uint64 threshold),
capped at k entries; theta starts at 2^64 ("keep everything": estimate
is exact) and shrinks to the (k+1)-th smallest hash once more than k
distinct hashes arrive. Merge: union the retained sets under
theta = min(theta_a, theta_b), re-cap at k. Set-valued state makes
merge associative, commutative, AND idempotent — merged state is
bit-identical regardless of merge order (asserted in tests).

Relative standard error of the union/count estimate ~ 1/sqrt(k-1);
intersection/difference estimates have absolute error scaled by the
UNION's cardinality (they sample the union's hash space), so bound
checks use 3 * |union| / sqrt(k-1).
"""

from __future__ import annotations

import struct

import numpy as np

_HDR = struct.Struct("<4sIQI")  # magic, k, theta, n_values
_MAGIC = b"THT1"
_FULL = np.uint64(0xFFFFFFFFFFFFFFFF)


class ThetaSketch:
    __slots__ = ("k", "theta", "values")

    def __init__(self, k: int = 4096):
        if k < 16:
            raise ValueError("k must be >= 16")
        self.k = int(k)
        self.theta = _FULL  # exclusive threshold; starts "keep all"
        self.values = np.empty(0, dtype=np.uint64)  # sorted, unique, < theta

    # ------------------------------------------------------------ update
    def _trim(self) -> None:
        if len(self.values) > self.k:
            # theta becomes the (k+1)-th smallest; keep the k below it
            self.theta = self.values[self.k]
            self.values = self.values[: self.k]

    def update_hashes(self, hashes: np.ndarray) -> None:
        h = np.asarray(hashes, dtype=np.uint64)
        if len(h) == 0:
            return
        h = h[h < self.theta]
        if len(h) == 0:
            return
        self.values = np.unique(np.concatenate([self.values, h]))
        self._trim()

    def update_batch(self, values) -> None:
        from .hashing import hash_any

        self.update_hashes(hash_any(values))

    # ------------------------------------------------------------- merge
    def merge(self, other: "ThetaSketch") -> "ThetaSketch":
        self.theta = min(self.theta, other.theta)
        merged = np.unique(np.concatenate([self.values, other.values]))
        self.values = merged[merged < self.theta]
        self._trim()
        return self

    # ---------------------------------------------------------- estimate
    def _theta_frac(self) -> float:
        return float(self.theta) / float(_FULL)

    def estimate(self) -> float:
        """Distinct-count estimate |retained| / theta_frac (exact while
        theta is still 2^64, i.e. fewer than k distinct keys seen)."""
        return len(self.values) / self._theta_frac()

    def rel_error(self) -> float:
        """Relative standard error of the count/union estimate."""
        return 1.0 / (self.k - 1) ** 0.5

    # -------------------------------------------------------- set algebra
    @staticmethod
    def _common_theta(a: "ThetaSketch", b: "ThetaSketch") -> np.uint64:
        return min(a.theta, b.theta)

    @staticmethod
    def intersection_estimate(a: "ThetaSketch", b: "ThetaSketch") -> float:
        th = ThetaSketch._common_theta(a, b)
        va = a.values[a.values < th]
        vb = b.values[b.values < th]
        n = len(np.intersect1d(va, vb, assume_unique=True))
        return n / (float(th) / float(_FULL))

    @staticmethod
    def difference_estimate(a: "ThetaSketch", b: "ThetaSketch") -> float:
        """|A \\ B| estimate."""
        th = ThetaSketch._common_theta(a, b)
        va = a.values[a.values < th]
        vb = b.values[b.values < th]
        n = len(np.setdiff1d(va, vb, assume_unique=True))
        return n / (float(th) / float(_FULL))

    @staticmethod
    def union_estimate(a: "ThetaSketch", b: "ThetaSketch") -> float:
        u = ThetaSketch.from_bytes(a.to_bytes())  # copy, don't mutate inputs
        u.merge(b)
        return u.estimate()

    # ------------------------------------------------------------- serde
    def to_bytes(self) -> bytes:
        return _HDR.pack(_MAGIC, self.k, int(self.theta), len(self.values)) + (
            self.values.tobytes()
        )

    @classmethod
    def from_bytes(cls, buf: bytes) -> "ThetaSketch":
        magic, k, theta, n = _HDR.unpack_from(buf, 0)
        if magic != _MAGIC:
            raise ValueError("not a theta sketch")
        sk = cls.__new__(cls)
        sk.k = int(k)
        sk.theta = np.uint64(theta)
        sk.values = np.frombuffer(
            buf, dtype=np.uint64, count=n, offset=_HDR.size
        ).copy()
        return sk

    def __repr__(self) -> str:
        return (
            f"ThetaSketch(k={self.k}, retained={len(self.values)}, "
            f"theta={self._theta_frac():.6f}, est={self.estimate():.1f})"
        )

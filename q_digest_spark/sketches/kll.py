"""KLL quantile sketch (Karnin, Lang, Liberty, FOCS 2016).

No counterpart in the reference repo (/root/reference implements only
Q-Digest); included per BASELINE.json north_rule. Works on arbitrary
ordered values (floats included) — the complement to Q-Digest's
integer universe.

Design: levels of value buffers; level h holds items of weight 2**h.
Level capacities decay geometrically (c = 2/3) from ``k`` at the top.
When total size exceeds total capacity the lowest over-full level is
*compacted*: sorted, and either the odd- or even-indexed half is
promoted one level up (the other half is discarded), chosen by a
deterministic seeded coin so runs are reproducible.

Published accuracy (Apache DataSketches calibration for this c):
normalized rank error ~= 2.296 / k**0.9 at 99% confidence — asserted
with margin in tests. Merge = levelwise concat + recompaction, which is
associative up to compaction randomness (same contract as the
reference's Q-Digest merge, /root/reference/src/qcore.c:390-417).

This class is also the one body of the level structure that
sketches/req.py reuses: REQ subclasses it and replaces only the
compaction policy (protect the top ``k`` of every level), ``rank_of``
and the bounds; buffers, coin, merge, update, quantile queries and the
``<4sBHqqI>`` wire format (magic from ``MAGIC``) are written here once.
"""

from __future__ import annotations

import struct

import numpy as np

_HDR = struct.Struct("<4sBHqqI")  # magic, ver, k, n, seed_counter, n_levels
_C = 2.0 / 3.0


class KLL:
    __slots__ = ("k", "n", "levels", "_coin")
    MAGIC = b"KLL1"

    def __init__(self, k: int = 200):
        self.k = int(k)
        self.n = 0
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self._coin = 0  # deterministic coin counter

    # ---------------------------------------------------------- capacities
    def _cap(self, h: int) -> int:
        depth = len(self.levels) - 1 - h
        return max(2, int(np.ceil(self.k * (_C**depth))))

    def _total_cap(self) -> int:
        return sum(self._cap(h) for h in range(len(self.levels)))

    def _size(self) -> int:
        return sum(len(b) for b in self.levels)

    # -------------------------------------------------------------- update
    def update_batch(self, values: np.ndarray) -> None:
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if len(values) == 0:
            return
        self.levels[0] = np.concatenate([self.levels[0], values])
        self.n += len(values)
        self._compact_while_full()

    def _flip(self) -> int:
        """Deterministic pseudo-random bit (splitmix64 of a counter)."""
        self._coin += 1
        with np.errstate(over="ignore"):
            z = np.uint64(self._coin) * np.uint64(0x9E3779B97F4A7C15)
            z = (z ^ (z >> np.uint64(31))) * np.uint64(0xBF58476D1CE4E5B9)
        return int(z >> np.uint64(63))

    def _compact_while_full(self) -> None:
        while self._size() > self._total_cap():
            for h in range(len(self.levels)):
                if len(self.levels[h]) > self._cap(h):
                    self._compact_level(h)
                    break
            else:
                break

    def _compact_level(self, h: int) -> None:
        buf = np.sort(self.levels[h])
        off = self._flip()
        promoted = buf[off::2]
        self.levels[h] = np.empty(0, dtype=np.float64)
        if h + 1 == len(self.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        self.levels[h + 1] = np.concatenate([self.levels[h + 1], promoted])

    # --------------------------------------------------------------- merge
    def merge(self, other: "KLL") -> "KLL":
        if type(other) is not type(self):
            raise TypeError(f"cannot merge {type(other).__name__} into {type(self).__name__}")
        self.k = max(self.k, other.k)
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for h, buf in enumerate(other.levels):
            if len(buf):
                self.levels[h] = np.concatenate([self.levels[h], buf])
        self.n += other.n
        self._coin = max(self._coin, other._coin)
        self._compact_while_full()
        return self

    # --------------------------------------------------------------- query
    def _weighted(self):
        vals = np.concatenate([b for b in self.levels if len(b)])
        wts = np.concatenate(
            [np.full(len(b), 1 << h, dtype=np.int64) for h, b in enumerate(self.levels) if len(b)]
        )
        order = np.argsort(vals, kind="stable")
        return vals[order], np.cumsum(wts[order])

    def quantile(self, p: float) -> float:
        if self.n == 0:
            raise ValueError("empty sketch")
        vals, cum = self._weighted()
        rank = min(max(1, int(np.ceil(p * cum[-1]))), int(cum[-1]))
        i = min(int(np.searchsorted(cum, rank, side="left")), len(vals) - 1)
        return float(vals[i])

    def quantiles(self, ps) -> list[float]:
        return [self.quantile(p) for p in ps]

    def rank_of(self, value: float) -> float:
        """Estimated normalized rank of ``value``."""
        vals, cum = self._weighted()
        i = int(np.searchsorted(vals, value, side="right"))
        return (float(cum[i - 1]) if i > 0 else 0.0) / float(cum[-1])

    def error_bound(self) -> float:
        """Published normalized rank error at ~99% confidence."""
        return 2.296 / (self.k**0.9)

    # ----------------------------------------------------------- serialize
    def to_bytes(self) -> bytes:
        hdr = _HDR.pack(self.MAGIC, 1, self.k, self.n, self._coin, len(self.levels))
        parts = [hdr]
        for b in self.levels:
            parts.append(struct.pack("<q", len(b)))
            parts.append(np.ascontiguousarray(b, dtype=np.float64).tobytes())
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, buf: bytes) -> "KLL":
        magic, ver, k, n, coin, nlev = _HDR.unpack_from(buf, 0)
        if magic != cls.MAGIC or ver != 1:
            raise ValueError(f"bad {cls.__name__} buffer")
        sk = cls(k)
        sk.n = n
        sk._coin = coin
        o = _HDR.size
        sk.levels = []
        for _ in range(nlev):
            (m,) = struct.unpack_from("<q", buf, o)
            o += 8
            sk.levels.append(np.frombuffer(buf, dtype=np.float64, count=m, offset=o).copy())
            o += 8 * m
        return sk

    def __repr__(self) -> str:
        return (
            f"{type(self).__name__}(k={self.k}, n={self.n}, "
            f"retained={self._size()}, levels={len(self.levels)})"
        )

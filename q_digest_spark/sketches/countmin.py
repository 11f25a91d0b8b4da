"""Count-Min sketch (Cormode & Muthukrishnan 2005) for frequency /
heavy-hitter estimation under Zipf-skewed keys (BASELINE.json
north_rule: heavy-hitter domains).

depth x width counter matrix; row hashes are independent splitmix64
re-mixes of the 64-bit input hash. Guarantees (for width w = ceil(e /
eps), depth d = ceil(ln(1/delta))): est >= true, and est <= true +
eps * n with probability 1 - delta. Merge = elementwise add.

Shared body: ``_CounterTable`` here is the one depth x width int64
counter table behind CountMin, CUCountMin (cucountmin.py) and AMS
(ams.py): constructor, ``update_batch``, type- and shape-checked
elementwise-add ``merge``, the ``<4sBBIq>`` header (magic, ver,
depth, width, n) plus the row-major table, and repr.
``_CountMinRows`` adds the Count-Min row-hash family and its
min-of-rows queries, shared with CUCountMin.
Each class names its own ``MAGIC`` and ``update_hashes``.
"""

from __future__ import annotations

import struct

import numpy as np

from .hashing import hash_any, rehash

_HDR = struct.Struct("<4sBBIq")  # magic, ver, depth, width, n


class _CounterTable:
    """depth x width int64 counters plus n; a subclass supplies
    ``MAGIC`` and ``update_hashes(hashes, counts=None)``."""

    __slots__ = ("depth", "width", "table", "n")
    MAGIC: bytes

    def __init__(self, depth: int = 5, width: int = 4096):
        self.depth = int(depth)
        self.width = int(width)
        self.table = np.zeros((self.depth, self.width), dtype=np.int64)
        self.n = 0

    def update_batch(self, values) -> None:
        self.update_hashes(hash_any(values))

    def _check_shape(self, other) -> None:
        if (other.depth, other.width) != (self.depth, self.width):
            raise ValueError(f"{type(self).__name__} shape mismatch")

    def merge(self, other):
        if type(other) is not type(self):
            raise TypeError(f"cannot merge {type(other).__name__} into {type(self).__name__}")
        self._check_shape(other)
        self.table += other.table
        self.n += other.n
        return self

    def to_bytes(self) -> bytes:
        return _HDR.pack(self.MAGIC, 1, self.depth, self.width, self.n) + self.table.tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes):
        magic, ver, depth, width, n = _HDR.unpack_from(buf, 0)
        if magic != cls.MAGIC or ver != 1:
            raise ValueError(f"bad {cls.__name__} buffer")
        sk = cls(depth, width)
        sk.n = n
        sk.table = (
            np.frombuffer(buf, dtype=np.int64, count=depth * width, offset=_HDR.size)
            .reshape(depth, width)
            .copy()
        )
        return sk

    def __repr__(self) -> str:
        return f"{type(self).__name__}(d={self.depth}, w={self.width}, n={self.n})"


class _CountMinRows(_CounterTable):
    """Count-Min's row-hash family (salt 0xC0FFEE + row) and its
    min-over-rows point queries."""

    __slots__ = ()

    def _indices(self, hashes: np.ndarray) -> np.ndarray:
        h = np.asarray(hashes, dtype=np.uint64)
        return np.stack(
            [(rehash(h, 0xC0FFEE + i) % np.uint64(self.width)).astype(np.int64)
             for i in range(self.depth)]
        )

    def estimate_hashes(self, hashes: np.ndarray) -> np.ndarray:
        idx = self._indices(hashes)
        ests = np.stack([self.table[i, idx[i]] for i in range(self.depth)])
        return ests.min(axis=0)

    def estimate(self, values) -> np.ndarray:
        return self.estimate_hashes(hash_any(values))

    def eps(self) -> float:
        return float(np.e) / self.width

    def delta(self) -> float:
        return float(np.exp(-self.depth))


class CountMin(_CountMinRows):
    __slots__ = ()
    MAGIC = b"CMS1"

    def update_hashes(self, hashes: np.ndarray, counts: np.ndarray | None = None) -> None:
        if len(hashes) == 0:
            return
        idx = self._indices(hashes)
        if counts is None:
            counts = np.ones(len(hashes), dtype=np.int64)
            self.n += len(hashes)
        else:
            counts = np.asarray(counts, dtype=np.int64)
            self.n += int(counts.sum())
        for i in range(self.depth):
            np.add.at(self.table[i], idx[i], counts)

    def inner_product(self, other: "CountMin") -> int:
        """Join-size estimation (Cormode & Muthukrishnan §4.3): the
        equi-join cardinality |A JOIN B on key| equals the inner
        product of the two frequency vectors, estimated as the MIN
        over rows of the row-wise table dot products. Guarantees:
        estimate >= true always (colliding keys only add), and
        estimate <= true + eps * n_a * n_b with probability
        1 - delta — the classic sketch a query optimizer uses to
        size a join before running it. Both sketches must share
        (depth, width) (same row-hash family by construction)."""
        self._check_shape(other)
        dots = (self.table * other.table).sum(axis=1)
        return int(dots.min())

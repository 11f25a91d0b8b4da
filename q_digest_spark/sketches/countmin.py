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
elementwise-add ``merge``, the wire format below, and repr.
``_CountMinRows`` adds the Count-Min row-hash family and its
min-of-rows queries, shared with CUCountMin.
Each class names its own ``MAGIC`` and ``update_hashes``.

Wire format: the ``<4sBBIq>`` header (magic, ver, depth, width, n),
then the body. Version 1 (still read) is the row-major int64 table.
Version 2 (written) is a ``<BB>`` (layout, dtype code) pair, where
the dtype is the narrowest of uint8/16/32, int8/16/32/64 that holds
the table's minimum and maximum, then one of two layouts:

- dense (0): the row-major table at that dtype;
- sparse (1): a ``uint32`` nnz, the flat ``uint32`` indices of the
  non-zero cells in increasing order, then their values at that dtype.

Sparse is written when ``nnz * (4 + itemsize) < cells * itemsize``,
dense otherwise (ties included), so equal tables give equal bytes.
A partial Count-Min at a few percent fill ships about 1/40 of its
dense int64 size. Decoding always rebuilds the int64 table.
"""

from __future__ import annotations

import struct

import numpy as np

from .hashing import hash_any, rehash

_HDR = struct.Struct("<4sBBIq")  # magic, ver, depth, width, n
_BODY = struct.Struct("<BB")  # v2: layout, dtype code
_NNZ = struct.Struct("<I")  # v2 sparse: non-zero cell count
_DENSE, _SPARSE = 0, 1
_DTYPES = tuple(np.dtype(c) for c in ("<u1", "<u2", "<u4", "<i1", "<i2", "<i4", "<i8"))
_INT64 = _DTYPES[-1]


def _narrowest(flat: np.ndarray) -> int:
    """Code of the first ``_DTYPES`` entry that holds ``flat``'s range."""
    lo, hi = (int(flat.min()), int(flat.max())) if flat.size else (0, 0)
    for code, dt in enumerate(_DTYPES[:-1]):
        info = np.iinfo(dt)
        if info.min <= lo and hi <= info.max:
            return code
    return len(_DTYPES) - 1


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
        flat = self.table.ravel()
        code = _narrowest(flat)
        dt = _DTYPES[code]
        head = _HDR.pack(self.MAGIC, 2, self.depth, self.width, self.n)
        nz = flat != 0  # nonzero of a bool mask is ~3x faster than of int64
        nnz = int(np.count_nonzero(nz))
        if nnz * (4 + dt.itemsize) < flat.size * dt.itemsize:
            idx = np.flatnonzero(nz)
            return b"".join((
                head, _BODY.pack(_SPARSE, code), _NNZ.pack(nnz),
                idx.astype("<u4").tobytes(), flat[idx].astype(dt).tobytes(),
            ))
        return head + _BODY.pack(_DENSE, code) + flat.astype(dt).tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes):
        magic, ver, depth, width, n = _HDR.unpack_from(buf, 0)
        if magic != cls.MAGIC or ver not in (1, 2):
            raise ValueError(f"bad {cls.__name__} buffer: magic {magic!r}, version {ver}")
        cells = depth * width
        o = _HDR.size
        layout, dt, nnz = _DENSE, _INT64, cells
        if ver == 2:
            layout, code = _BODY.unpack_from(buf, o)
            o += _BODY.size
            if layout not in (_DENSE, _SPARSE) or code >= len(_DTYPES):
                raise ValueError(f"bad {cls.__name__} buffer: layout {layout}, dtype code {code}")
            dt = _DTYPES[code]
            if layout == _SPARSE:
                (nnz,) = _NNZ.unpack_from(buf, o)
                o += _NNZ.size
        need = o + nnz * (dt.itemsize + (4 if layout == _SPARSE else 0))
        if len(buf) != need:
            raise ValueError(f"bad {cls.__name__} buffer: {len(buf)} bytes, its header needs {need}")
        sk = cls(depth, width)
        sk.n = n
        flat = sk.table.reshape(-1)  # a view: filling it fills the table
        if layout == _DENSE:
            flat[:] = np.frombuffer(buf, dtype=dt, count=cells, offset=o)
        else:
            idx = np.frombuffer(buf, dtype="<u4", count=nnz, offset=o)
            if nnz and (idx[-1] >= cells or (idx[1:] <= idx[:-1]).any()):
                raise ValueError(f"bad {cls.__name__} buffer: sparse indices not increasing below {cells}")
            flat[idx] = np.frombuffer(buf, dtype=dt, count=nnz, offset=o + 4 * nnz)
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

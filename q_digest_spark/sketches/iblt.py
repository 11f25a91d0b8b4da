"""Invertible Bloom Lookup Table — exact SET RECONCILIATION in
sketch space (Goodrich & Mitzenmacher 2011; Eppstein et al.,
"What's the Difference?", SIGCOMM 2011).

Two sides each summarize their key set into m cells; SUBTRACTING the
summaries cancels every common key, leaving a table that encodes only
the symmetric difference — which PEELING then recovers EXACTLY
(w.h.p. once m >= ~1.3x the difference size for k=3): a pure cell
with count ±1 and a matching checksum yields one key; removing it may
purify neighbors; repeat. The network-sync primitive that replaces
"ship the whole key set" with O(|difference|) bytes — here, the
day-over-day crawl-state diff that replaces a full anti-join.

Cell state is three int64/uint64 vectors (count, key_sum, check_sum)
with ADDITIVE semantics mod 2^64 (numpy uint64 wraps exactly), so:

- update is two np.add.at scatters per hash row — no per-key Python;
- MERGE is cell-wise vector addition — associative, commutative,
  exactly the two-level partial/tree contract every other sketch here
  uses (a hot partition contributes one partial like any other);
- subtract(a, b) is cell-wise vector subtraction;
- deletions are updates with weight -1 through the same path.

Hashing is splitmix64 (public domain finalizer) on the int64 key with
fixed seeds — deterministic across runs and partitionings.

No reference counterpart — engine-native addition (the reference has
no set-reconciliation machinery).
"""

from __future__ import annotations

import struct

import numpy as np

_HDR = struct.Struct("<4sBIq")
_MAGIC = b"IBL1"
_SEEDS = (0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9)
_CHECK_SEED = 0x27D4EB2F165667C5


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized over uint64 (wraps mod 2^64)."""
    z = x.astype(np.uint64, copy=True)
    z ^= z >> np.uint64(30)
    z *= np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return z


class IBLT:
    __slots__ = ("m", "k", "count", "key_sum", "check_sum")

    def __init__(self, m: int = 4096, k: int = 3):
        if k != len(_SEEDS):
            raise ValueError("k must be 3 (fixed seed set)")
        self.m = int(m)
        self.k = k
        self.count = np.zeros(m, dtype=np.int64)
        self.key_sum = np.zeros(m, dtype=np.uint64)
        self.check_sum = np.zeros(m, dtype=np.uint64)

    # ------------------------------------------------------------- update
    def _cells(self, keys: np.ndarray) -> list[np.ndarray]:
        u = keys.astype(np.int64).view(np.uint64)
        return [
            (_mix(u ^ np.uint64(s)) % np.uint64(self.m)).astype(np.int64)
            for s in _SEEDS
        ]

    def update_batch(self, keys, weight: int = 1) -> None:
        """Insert (weight=+1) or delete (weight=-1) a batch of int64
        keys. Duplicate keys in a batch accumulate multiplicity."""
        if weight not in (1, -1):
            # any other weight would desync count from key_sum/check_sum
            raise ValueError(f"weight must be +1 or -1, got {weight}")
        a = np.asarray(keys, dtype=np.int64)
        if len(a) == 0:
            return
        u = a.view(np.uint64)
        chk = _mix(u ^ np.uint64(_CHECK_SEED))
        w = np.int64(weight)
        for idx in self._cells(a):
            np.add.at(self.count, idx, w)
            if weight >= 0:
                np.add.at(self.key_sum, idx, u)
                np.add.at(self.check_sum, idx, chk)
            else:
                np.add.at(self.key_sum, idx, np.uint64(0) - u)
                np.add.at(self.check_sum, idx, np.uint64(0) - chk)

    # -------------------------------------------------------- merge / diff
    def merge(self, other: "IBLT") -> "IBLT":
        if (self.m, self.k) != (other.m, other.k):
            raise ValueError("geometry mismatch")
        self.count += other.count
        self.key_sum += other.key_sum
        self.check_sum += other.check_sum
        return self

    def subtract(self, other: "IBLT") -> "IBLT":
        """self := self - other (common keys cancel exactly)."""
        if (self.m, self.k) != (other.m, other.k):
            raise ValueError("geometry mismatch")
        self.count -= other.count
        self.key_sum -= other.key_sum
        self.check_sum -= other.check_sum
        return self

    # --------------------------------------------------------------- peel
    def peel(self, max_rounds: int | None = None):
        """Recover the encoded multiset difference. Returns
        (only_self, only_other, complete): int64 key arrays for count
        +1 / -1 entries and a flag that the table emptied (every
        listed key is CERTAIN — the checksum gates each peel — and
        ``complete=True`` certifies the whole difference was
        recovered)."""
        cnt = self.count.copy()
        ks = self.key_sum.copy()
        cs = self.check_sum.copy()
        pos: list[int] = []
        neg: list[int] = []
        rounds = 0
        limit = max_rounds if max_rounds is not None else 64 + self.m
        while rounds < limit:
            rounds += 1
            # a count=-1 cell holds the NEGATED key and checksum: flip
            # both before the checksum gate
            eff_ks = np.where(cnt >= 0, ks, np.uint64(0) - ks)
            eff_cs = np.where(cnt >= 0, cs, np.uint64(0) - cs)
            pure = np.flatnonzero(
                ((cnt == 1) | (cnt == -1))
                & (eff_cs == _mix(eff_ks ^ np.uint64(_CHECK_SEED)))
            )
            if len(pure) == 0:
                break
            i = int(pure[0])
            sign = int(cnt[i])
            # array (not scalar) negation: wraps mod 2^64 silently
            key_u = ks[i] if sign == 1 else (np.uint64(0) - ks[i : i + 1])[0]
            key = int(key_u.astype(np.int64))
            (pos if sign == 1 else neg).append(key)
            a = np.array([key], dtype=np.int64)
            u = a.view(np.uint64)
            chk = _mix(u ^ np.uint64(_CHECK_SEED))
            for idx in self._cells(a):
                cnt[idx] -= sign
                if sign == 1:
                    ks[idx] -= u
                    cs[idx] -= chk
                else:
                    ks[idx] += u
                    cs[idx] += chk
        complete = bool(
            np.all(cnt == 0) and np.all(ks == 0) and np.all(cs == 0)
        )
        return (
            np.array(sorted(pos), dtype=np.int64),
            np.array(sorted(neg), dtype=np.int64),
            complete,
        )

    # ------------------------------------------------------ serialization
    def to_bytes(self) -> bytes:
        hdr = _HDR.pack(_MAGIC, self.k, self.m, 0)
        return hdr + self.count.tobytes() + self.key_sum.tobytes() + (
            self.check_sum.tobytes()
        )

    @classmethod
    def from_bytes(cls, raw: bytes) -> "IBLT":
        magic, k, m, _ = _HDR.unpack_from(raw, 0)
        if magic != _MAGIC:
            raise ValueError("bad IBLT header")
        sk = cls(m, k)
        off = _HDR.size
        sk.count = np.frombuffer(raw, np.int64, m, off).copy()
        off += 8 * m
        sk.key_sum = np.frombuffer(raw, np.uint64, m, off).copy()
        off += 8 * m
        sk.check_sum = np.frombuffer(raw, np.uint64, m, off).copy()
        return sk

"""Cuckoo filter — fingerprint membership with true deletion.

Public basis: Fan, Andersen, Kaminsky, Mitzenmacher, "Cuckoo Filter:
Practically Better Than Bloom" (CoNEXT 2014). Partial-key cuckoo
hashing: each key stores a 16-bit fingerprint in one of two buckets
i1 = H(x) mod m and i2 = i1 XOR (H(fp) mod m) — the XOR trick makes
the alternate bucket computable from (bucket, fp) alone, which is
what makes deletion and MERGE possible without the original keys.

Batch execution model (the paper's insertion run breadth-first):
plain placement is tried for every item at i1 then i2 in two
vectorized rounds; items with both buckets full enter EVICTION
rounds — one evictor per full bucket per round kicks a victim
(deterministic splitmix64 coin slot), the victim joins the homeless
set targeting its alternate bucket, and the whole set re-tries plain
placement each round. Every step is a numpy scatter over the batch
(CLAUDE.md: no per-row Python); an eviction bucket is provably full
(a failed placement fills its bucket), asserted. After 500 rounds
anything still homeless lands in a small exact STASH (Kirsch,
Mitzenmacher, Wieder, "More Robust Hashing: Cuckoo Hashing with a
Stash", SIAM J. Comput. 2010), capacity 128; insert raises on stash
overflow rather than silently degrading. Tests pin zero stash growth
at load 0.5 and high-load behavior near the paper's ~0.95.

Guarantees (same shape as the paper's):
- zero false negatives for present keys (exact fingerprint at one of
  its two buckets, or in the stash);
- false-positive rate <= 2 buckets · 4 slots / 65535 ≈ 1.2e-4 per
  probe (16-bit fingerprints, 1..65535; 0 is the empty marker);
- deletion requires the key to have been inserted (multiset
  discipline — deleting an absent key raises, it would otherwise
  corrupt a colliding key's fingerprint), and preserves the
  zero-false-negative guarantee for everything still present;
- a key can be present at most 2·4 = 8 times (paper §3: both of its
  buckets filled with its own fingerprint) — deduplicate upstream
  (one distinct per build) when feeding multiset streams.

Merge: re-place every stored (bucket, fp) of the other filter — the
alternate bucket is recomputable, so merge needs no keys. Same
(m, slots) required. Associative and order-independent up to stash
contents (membership answers are identical either way; property
tests assert merge == bulk-build membership on every probe).

Bucket invariant: occupied slots are a PREFIX of each bucket row
(deletes compact by swapping the last occupied slot down), so batch
placement can compute target slots as fill + within-batch rank
entirely in numpy.

No counterpart in the reference repo; north_rule membership family —
the space-efficient deletable complement to bloom.py / cbloom.py
(16 bits/key here vs ~10 bits/key/1% Bloom with NO deletion vs 64
bits/slot counting Bloom).
"""

from __future__ import annotations

import struct

import numpy as np

from .hashing import rehash, splitmix64

_HDR = struct.Struct("<4sBBqqqq")  # magic, ver, slots, m, n, stash_len, coin
_MAGIC = b"CKF1"
_SLOTS = 4
_STASH_CAP = 128
_MAX_KICK_ROUNDS = 500


def buckets_for(n_keys: int) -> int:
    """The power-of-two bucket count that holds ``n_keys`` distinct keys
    at a load of at most 0.9 (``n_keys / (4 * m)``), and at least 8."""
    need = max(8, -(-10 * int(n_keys) // (9 * _SLOTS)))
    return 1 << (need - 1).bit_length()


class CuckooFilter:
    __slots__ = ("m", "n", "storage", "fill", "stash", "_coin")

    def __init__(self, m_buckets: int = 1 << 16):
        m = int(m_buckets)
        if m < 8 or m & (m - 1):
            raise ValueError("m_buckets must be a power of two >= 8")
        self.m = m
        self.n = 0
        self.storage = np.zeros((m, _SLOTS), dtype=np.uint16)
        self.fill = np.zeros(m, dtype=np.int64)
        self.stash = np.empty(0, dtype=np.uint64)  # (bucket << 16) | fp
        self._coin = 0  # deterministic eviction-slot counter

    # ------------------------------------------------------------- hashing
    def _fp_and_b1(self, hashes: np.ndarray):
        h = np.asarray(hashes, dtype=np.uint64)
        fp = (rehash(h, 0xCF01) % np.uint64(65535) + np.uint64(1)).astype(
            np.uint16
        )
        b1 = (rehash(h, 0xCF02) & np.uint64(self.m - 1)).astype(np.int64)
        return fp, b1

    def _alt(self, buckets: np.ndarray, fps: np.ndarray) -> np.ndarray:
        hf = splitmix64(fps.astype(np.uint64)) & np.uint64(self.m - 1)
        return (buckets.astype(np.uint64) ^ hf).astype(np.int64)

    # ----------------------------------------------------------- placement
    def _try_place(self, fps: np.ndarray, buckets: np.ndarray) -> np.ndarray:
        """Vectorized batch placement honoring per-bucket capacity.
        Returns the boolean mask of items placed. Within-batch rank
        gives each item its slot: occupied slots are a prefix."""
        if len(fps) == 0:
            return np.zeros(0, dtype=bool)
        order = np.argsort(buckets, kind="stable")
        bs = buckets[order]
        first = np.searchsorted(bs, bs)
        rank = np.arange(len(bs)) - first
        free = _SLOTS - self.fill[bs]
        ok = rank < free
        slots = self.fill[bs[ok]] + rank[ok]
        self.storage[bs[ok], slots] = fps[order][ok]
        np.add.at(self.fill, bs[ok], 1)
        placed = np.zeros(len(fps), dtype=bool)
        placed[order] = ok
        return placed

    def _insert_pairs(self, fps: np.ndarray, b1: np.ndarray) -> None:
        """Vectorized cuckoo insertion in rounds. Fast path: try each
        item's current bucket, then its alternate. Items with both
        buckets full enter the EVICTION phase — each round, one
        homeless item per full bucket kicks a victim (deterministic
        coin slot), the victim joins the homeless set targeting ITS
        alternate bucket, and everything re-tries plain placement
        first. This is the paper's random-walk insertion run
        breadth-first over the batch, every step a numpy scatter."""
        placed = self._try_place(fps, b1)
        cur_fp, cur_b = fps[~placed], b1[~placed]
        if len(cur_fp):
            alt = self._alt(cur_b, cur_fp)
            placed2 = self._try_place(cur_fp, alt)
            # homeless items keep both buckets reachable; track the
            # bucket they will try to EVICT from next (the alt they
            # just failed, flipping each kick via the victim chain)
            cur_fp, cur_b = cur_fp[~placed2], alt[~placed2]
        for _ in range(_MAX_KICK_ROUNDS):
            if len(cur_fp) == 0:
                break
            # one evictor per bucket per round
            order = np.argsort(cur_b, kind="stable")
            ob = cur_b[order]
            first_idx = np.searchsorted(ob, ob)
            is_winner = np.zeros(len(ob), dtype=bool)
            is_winner[np.arange(len(ob)) == first_idx] = True
            winners = order[is_winner]
            losers = order[~is_winner]
            wb, wf = cur_b[winners], cur_fp[winners]
            self._coin += 1
            vs = (
                splitmix64(
                    wb.astype(np.uint64) ^ np.uint64(self._coin * 0x9E37)
                )
                % np.uint64(_SLOTS)
            ).astype(np.int64)
            victim_fp = self.storage[wb, vs].copy()
            # a failed placement proves its bucket full, and nothing
            # frees slots inside _insert_pairs — victims are real
            assert (victim_fp != 0).all()
            self.storage[wb, vs] = wf
            # victims head for their alternate bucket
            nxt_fp = np.concatenate([victim_fp, cur_fp[losers]])
            nxt_b = np.concatenate(
                [self._alt(wb, victim_fp), cur_b[losers]]
            )
            ok = self._try_place(nxt_fp, nxt_b)
            cur_fp, cur_b = nxt_fp[~ok], nxt_b[~ok]
        if len(cur_fp):
            keys = (cur_b.astype(np.uint64) << np.uint64(16)) | (
                cur_fp.astype(np.uint64)
            )
            self.stash = np.concatenate([self.stash, keys])
            if len(self.stash) > _STASH_CAP:
                raise RuntimeError(
                    "CuckooFilter overflow: stash exceeded "
                    f"{_STASH_CAP}; size m_buckets for load <= ~0.9"
                )

    # -------------------------------------------------------------- update
    def add_hashes(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        fp, b1 = self._fp_and_b1(hashes)
        self._insert_pairs(fp, b1)
        self.n += len(hashes)

    def update_batch(self, values) -> None:
        from .hashing import hash_any

        self.add_hashes(hash_any(values))

    # -------------------------------------------------------------- delete
    def _stash_keys(self, buckets, fps):
        return (buckets.astype(np.uint64) << np.uint64(16)) | fps.astype(
            np.uint64
        )

    def remove_hashes(self, hashes: np.ndarray) -> None:
        """Delete one copy per input (multiset discipline), all or
        nothing: if any input is not present, raise KeyError and leave
        the filter as it was. Conflict-free rounds: duplicate targets
        re-resolve against the updated filter. A round that resolves
        no delete proves the rest absent, so the rounds end."""
        if len(hashes) == 0:
            return
        fp, b1 = self._fp_and_b1(np.asarray(hashes, dtype=np.uint64))
        # _remove_round edits storage and fill in place, stash by copy
        saved = self.storage.copy(), self.fill.copy(), self.stash
        while len(fp):
            done = self._remove_round(fp, b1)
            if not done.any():
                self.storage, self.fill, self.stash = saved
                raise KeyError(
                    f"{len(fp)} of {len(hashes)} delete(s) not present in "
                    "filter; no delete applied"
                )
            fp, b1 = fp[~done], b1[~done]
        self.n -= len(hashes)

    def _remove_round(self, fps: np.ndarray, b1: np.ndarray) -> np.ndarray:
        """One vectorized delete round: each item locates its first
        matching (bucket, slot); unique winners are cleared (bucket
        compacted); losers retry next round."""
        b2 = self._alt(b1, fps)
        m1 = self.storage[b1] == fps[:, None]
        m2 = self.storage[b2] == fps[:, None]
        has1, has2 = m1.any(axis=1), m2.any(axis=1)
        tgt_b = np.where(has1, b1, b2)
        tgt_s = np.where(has1, m1.argmax(axis=1), m2.argmax(axis=1))
        in_table = has1 | has2
        done = np.zeros(len(fps), dtype=bool)
        if in_table.any():
            # ONE winner per BUCKET per round: compaction moves the
            # last occupied slot, so a second delete in the same
            # bucket must re-locate against the updated row
            uniq, idx = np.unique(tgt_b[in_table], return_index=True)
            winners = np.flatnonzero(in_table)[idx]
            wb, ws = tgt_b[winners], tgt_s[winners]
            # compact: move the last occupied slot into the hole
            last = self.fill[wb] - 1
            self.storage[wb, ws] = self.storage[wb, last]
            self.storage[wb, last] = 0
            np.add.at(self.fill, wb, -1)
            done[winners] = True
        # stash pass for items not matched in the table this round
        rest = np.flatnonzero(~done & ~in_table)
        if len(rest) and len(self.stash):
            k1 = self._stash_keys(b1[rest], fps[rest])
            k2 = self._stash_keys(b2[rest], fps[rest])
            stash = self.stash
            for i, (a, b) in enumerate(zip(k1, k2)):
                hit = np.flatnonzero((stash == a) | (stash == b))
                if len(hit):
                    stash = np.delete(stash, hit[0])
                    done[rest[i]] = True
            self.stash = stash
        return done

    def remove_batch(self, values) -> None:
        from .hashing import hash_any

        self.remove_hashes(hash_any(values))

    # ------------------------------------------------------------- queries
    def contains_hashes(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.empty(0, dtype=bool)
        fp, b1 = self._fp_and_b1(np.asarray(hashes, dtype=np.uint64))
        b2 = self._alt(b1, fp)
        hit = (self.storage[b1] == fp[:, None]).any(axis=1) | (
            self.storage[b2] == fp[:, None]
        ).any(axis=1)
        if len(self.stash):
            k1 = self._stash_keys(b1, fp)
            k2 = self._stash_keys(b2, fp)
            hit |= np.isin(k1, self.stash) | np.isin(k2, self.stash)
        return hit

    def contains(self, values) -> np.ndarray:
        from .hashing import hash_any

        return self.contains_hashes(hash_any(values))

    def load_factor(self) -> float:
        return float(self.fill.sum()) / float(self.m * _SLOTS)

    def fpr_bound(self) -> float:
        """Per-probe false-positive bound: 2 buckets x 4 slots over
        the 65535 fingerprint values."""
        return 2.0 * _SLOTS / 65535.0

    # --------------------------------------------------------------- merge
    def merge(self, other: "CuckooFilter") -> "CuckooFilter":
        if other.m != self.m:
            raise ValueError("CuckooFilter size mismatch")
        occ_b, occ_s = np.nonzero(other.storage)
        if len(occ_b):
            self._insert_pairs(
                other.storage[occ_b, occ_s], occ_b.astype(np.int64)
            )
        if len(other.stash):
            sb = (other.stash >> np.uint64(16)).astype(np.int64)
            sf = (other.stash & np.uint64(0xFFFF)).astype(np.uint16)
            self._insert_pairs(sf, sb)
        self.n += other.n
        return self

    # ----------------------------------------------------------- serialize
    def to_bytes(self) -> bytes:
        hdr = _HDR.pack(
            _MAGIC, 1, _SLOTS, self.m, self.n, len(self.stash), self._coin
        )
        return (
            hdr
            + self.storage.tobytes()
            + self.fill.astype(np.int64).tobytes()
            + self.stash.tobytes()
        )

    @classmethod
    def from_bytes(cls, buf: bytes) -> "CuckooFilter":
        magic, ver, slots, m, n, stash_len, coin = _HDR.unpack_from(buf, 0)
        if magic != _MAGIC or ver != 1 or slots != _SLOTS:
            raise ValueError("bad CuckooFilter buffer")
        sk = cls(m)
        sk.n = n
        sk._coin = coin
        o = _HDR.size
        sk.storage = (
            np.frombuffer(buf, dtype=np.uint16, count=m * _SLOTS, offset=o)
            .reshape(m, _SLOTS)
            .copy()
        )
        o += m * _SLOTS * 2
        sk.fill = np.frombuffer(buf, dtype=np.int64, count=m, offset=o).copy()
        o += m * 8
        sk.stash = np.frombuffer(
            buf, dtype=np.uint64, count=stash_len, offset=o
        ).copy()
        return sk

    def __repr__(self) -> str:
        return (
            f"CuckooFilter(m={self.m}, n={self.n}, "
            f"load={self.load_factor():.3f}, stash={len(self.stash)})"
        )

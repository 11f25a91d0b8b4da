"""Time-decayed counting: exponentially decayed scores as a weight
transform, so every existing weighted sketch (Misra-Gries, CMS,
weighted quantiles) becomes its time-decayed variant for free.

Decay model — integer-exact step decay. With half-life ``h`` days and
horizon ``H`` days, an event ``d`` days before the reference day
carries weight ``S >> (d div h)`` where ``S = 2^(H div h)`` is the
scale. That is exact integer arithmetic start to finish: the scaled
score of a key is a plain ``sum`` of int64 weights (associative,
mergeable, map-side combinable), and any ANSI-SQL engine reproduces it
bit-for-bit (no ``pow``, no floats, no libm). The continuous
``2^(-d/h)`` variant differs from the step variant by at most a factor
of 2 within a half-life — for ranking/decay-gating use cases the step
semantics are standard (e.g. summary caches that halve counters every
half-life tick, Metwally et al.'s decayed Space-Saving).

Scale shape: ``decayed_scores`` is ONE groupBy over (key, weight) with
map-side partial sums — identical cost to an unweighted count. A
top-k is an ``orderBy(...).limit(k)`` over it (TakeOrderedAndProject:
per-partition k-heaps, no global sort). At 10^9 keys, feed the same
weight column into ``sketches.misragries.MisraGries`` via
``operators.quantiles.misragries_of`` for a bounded-memory candidate
set instead of materializing every key's score.

No reference counterpart; public semantics (decayed counters are the
standard sliding-relevance primitive in web crawl schedulers and
trending-topic pipelines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def decayed_weight(
    ts_col,
    ref_day: Column,
    half_life_days: int,
    horizon_days: int,
) -> Column:
    """Integer step-decay weight for an event at ``ts_col`` observed
    from ``ref_day`` (a date column/literal): ``S >> (days_ago div
    h)`` with ``S = 2^(H div h)``; 0 for events older than the point
    where the shift exhausts (d >= (log2(S)+1)*h), negative ages
    clamp to the newest bucket. Everything int64."""
    if half_life_days <= 0 or horizon_days <= 0:
        raise ValueError("half_life_days and horizon_days must be positive")
    shifts = horizon_days // half_life_days
    scale = 1 << shifts
    t = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    days = F.greatest(F.datediff(ref_day, F.to_date(t)), F.lit(0))
    k = (days / F.lit(half_life_days)).cast("int")  # non-negative: floor==trunc
    # F.shiftright takes only a literal shift, so unroll the (tiny,
    # shifts+1-arm) CASE — still pure codegen'd integer arithmetic.
    w = F.lit(0).cast("bigint")  # older than the shift range -> 0
    for i in range(shifts, -1, -1):
        w = F.when(k == i, F.lit(scale >> i).cast("bigint")).otherwise(w)
    return w


def decayed_scores(
    df: DataFrame,
    key_cols,
    ts_col,
    half_life_days: int = 7,
    horizon_days: int = 28,
    ref_day: Column | None = None,
) -> DataFrame:
    """Per-key scaled decayed score: keys..., ``decayed_score``
    (int64, in units of 1/S so the newest events count S). ``ref_day``
    defaults to the max event day in ``df`` (one tiny agg, broadcast
    as a literal-free cross join of a 1-row frame)."""
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    t = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    base = df.where(t.isNotNull())
    for kc in key_cols:
        base = base.where(F.col(kc).isNotNull())
    if ref_day is None:
        ref = base.agg(F.max(F.to_date(t)).alias("__ref"))
        base = base.crossJoin(F.broadcast(ref))
        ref_day = F.col("__ref")
    w = decayed_weight(ts_col, ref_day, half_life_days, horizon_days)
    return (
        base.groupBy(*key_cols)
        .agg(F.sum(w).cast("bigint").alias("decayed_score"))
    )


def dgim_window_counts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    window_us: int,
    r: int = 2,
) -> DataFrame:
    """Trailing-window event counts per key through the DGIM sketch
    (sketches/dgim.py): for each key, the EXACT count of events with
    ``ts in (max_ts_key - window, max_ts_key]`` plus a flag asserting
    the DGIM estimate honors its deterministic relative-error bound
    (``2 * |est - exact| <= exact`` for r=2 — the 1/(2(r-1)) guarantee
    of Datar et al. 2002).

    Shape: DGIM state is order-dependent, so each key is one sorted
    pass — the same per-key-sequential shape as the
    applyInPandasWithState streaming operators; parallelism is across
    keys. The canonical end-of-stream state is a closed form of n
    (see sketches/dgim.py), so per-key work is the numpy sort, not a
    per-event Python loop. In a true streaming deployment the
    O(r log n) buckets ARE the memory footprint; this batch operator
    builds the same state to verify the estimate against ground truth.
    """
    import numpy as np
    import pandas as pd

    from ..sketches.dgim import DGIM

    w_us = int(window_us)
    schema = f"{key_col} string, exact_in_window long, within_bound boolean"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        ts = np.sort(pdf["__us"].to_numpy(np.int64))
        sk = DGIM.from_sorted_ts(ts, r=r)
        t_now = int(ts[-1])
        exact = int(np.count_nonzero(ts > t_now - w_us))
        est = sk.estimate(t_now, w_us)
        ok = 2 * (r - 1) * abs(est - exact) <= exact
        return pd.DataFrame(
            {
                key_col: [pdf["__k"].iloc[0]],
                "exact_in_window": [exact],
                "within_bound": [bool(ok)],
            }
        )

    return (
        df.where(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(key_col).cast("string").alias("__k"),
            # parquet timestamps may be NTZ; unix_micros wants TIMESTAMP.
            # Only within-key DIFFERENCES matter here, so the constant
            # session-tz offset cancels (same pattern as events.py).
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__us"),
        )
        .groupBy("__k")
        .applyInPandas(fold, schema)
    )

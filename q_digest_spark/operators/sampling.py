"""Deterministic, engine-portable sampling for training-data
pipelines.

``df.sample()`` draws from a per-task RNG: re-running the job, adding
an executor, or a task retry changes the sample. At 10^12 rows a
training pipeline needs the membership of each row to be a pure
function of the row key — stable under retries, re-partitioning and
re-runs, and reproducible by any other engine for auditing.

`hash_sample` keeps a row iff the first 8 hex chars of
``md5(key || ':' || salt)`` are lexicographically below the rate
threshold. Fixed-width lowercase hex compares identically to its
numeric value, and md5 is bit-identical across Spark, DuckDB,
Postgres, ... so the oracle reproduces the exact row set (see
__spark_entry__.sample_documents). Different salts give independent
samples; complementary thresholds give disjoint splits.

The reference has no sampling at all (its driver synthesizes uniform
ints, serial-implementation/src/test.c:150-161); this is a north_rule
pipeline addition. Everything is JVM-side whole-stage codegen — no
Python in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def _bucket_hex(col, salt: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(F.md5(F.concat(c.cast("string"), F.lit(":" + salt))), 1, 8)


def _threshold_hex(rate: float) -> str:
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return format(min(int(rate * (1 << 32)), (1 << 32) - 1), "08x")


def hash_sample(df: DataFrame, key_col, rate: float, salt: str = "s0") -> DataFrame:
    """Deterministic Bernoulli(rate) sample keyed on ``key_col``."""
    if rate >= 1.0:
        return df  # identity: the clamped threshold would drop keys
        # whose md5 prefix is exactly 'ffffffff' (~2^-32 of rows)
    return df.where(_bucket_hex(key_col, salt) < F.lit(_threshold_hex(rate)))


def hash_split(
    df: DataFrame, key_col, weights: list[float], salt: str = "split"
) -> list[DataFrame]:
    """Disjoint, exhaustive train/val/test-style splits: weights must
    sum to 1; row membership is a pure function of (key, salt).

    Key on the GROUP (site, domain, source) rather than the row for
    leakage-safe splits of a web corpus: every row of a group lands in
    the same split, so one site's near-duplicates never straddle the
    train/test boundary. Weights then apportion groups, not rows."""
    if abs(sum(weights) - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {sum(weights)}")
    bounds = []
    acc = 0.0
    for w in weights:
        acc += w
        bounds.append(acc)
    b = _bucket_hex(key_col, salt)
    out = []
    lo = "00000000"
    for i, ub in enumerate(bounds):
        if i == len(bounds) - 1:
            out.append(df.where(b >= F.lit(lo)))  # exhaustive tail
        else:
            hi = _threshold_hex(ub)
            out.append(df.where((b >= F.lit(lo)) & (b < F.lit(hi))))
            lo = hi
    return out


def bottomk_sample(df: DataFrame, key_col, k: int, salt: str = "s0") -> DataFrame:
    """Deterministic FIXED-SIZE uniform sample: the k rows whose
    md5(key||salt) hashes are smallest (ties broken by the key).
    Unlike rate-based hash_sample, the sample size is exactly
    min(k, n) regardless of table size — the 'give me exactly 10k
    audit documents' ask. Engine-portable (md5), retry/re-partition
    stable, and auditable: any SQL engine reproduces the identical
    row set with ORDER BY md5 LIMIT k.

    The plan is TakeOrderedAndProject (asserted in tests): each
    partition keeps a local k-row heap and only those rows reach the
    driver-side merge — O(partitions * k), never a global sort
    shuffle. (Equivalently: this is a mergeable bottom-k sketch whose
    merge Spark already implements.)"""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    h = F.md5(F.concat(c.cast("string"), F.lit(":" + salt)))
    return (
        df.withColumn("__h", h)
        .orderBy(F.col("__h").asc(), c.asc())
        .limit(k)
        .drop("__h")
    )


def stratified_sample(
    df: DataFrame, strata_col, key_col, k: int, salt: str = "s0"
) -> DataFrame:
    """Deterministic fixed-size-PER-STRATUM sample: the k rows with
    the smallest md5(key||salt) within each stratum (ties by key) —
    'exactly 100 audit docs per language'. Same portability contract
    as bottomk_sample, per group.

    The rank filter compiles to WindowGroupLimit (asserted in
    tests/test_sampling.py): every partition keeps only k rows per
    stratum BEFORE the shuffle, so a skewed stratum ships
    O(partitions * k) rows, not its full population."""
    from pyspark.sql import Window

    c = F.col(key_col) if isinstance(key_col, str) else key_col
    s = F.col(strata_col) if isinstance(strata_col, str) else strata_col
    h = F.md5(F.concat(c.cast("string"), F.lit(":" + salt)))
    w = Window.partitionBy(s).orderBy(F.col("__h").asc(), c.asc())
    return (
        df.withColumn("__h", h)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__h", "__rn")
    )


def weighted_sample(
    df: DataFrame, key_col, weight_col, k: int, salt: str = "s0"
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement, fixed size
    k — Efraimidis–Spirakis A-ES (public algorithm: 'Weighted random
    sampling with a reservoir', IPL 2006): each row gets priority
    u^(1/w) with u uniform(0,1) and the k largest priorities win;
    P(row first) = w_i / sum(w).

    u is derived from md5(key||salt) (first 8 hex chars as a 32-bit
    integer, +0.5 to dodge ln(0)), so the sample is a pure function
    of (key, salt): retry/re-partition stable and reproducible by
    any SQL engine. Rows are ranked by ln(u)/w — monotone in
    u^(1/w) — QUANTIZED to 1e-9 (bigint) with ties broken by key so
    the ordering survives last-ulp libm differences across engines.
    Non-positive / null weights are excluded (zero-weight rows can
    never be drawn). Weight DOMAIN: |ln(u)/w * 1e9| must fit a
    bigint, i.e. w >= ~5e-9 (u >= 2^-33 keeps |ln u| < 23); smaller
    positive weights would overflow the quantized key and corrupt the
    ranking — rescale weights (the ranking is invariant under
    multiplying all weights by a constant) rather than passing
    sub-1e-8 values. Plan: TakeOrderedAndProject — per-partition
    k-heaps, no global sort."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    wcol = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    h32 = F.conv(
        F.substring(F.md5(F.concat(c.cast("string"), F.lit(":" + salt))), 1, 8),
        16,
        10,
    ).cast("bigint")
    u = (h32.cast("double") + F.lit(0.5)) / F.lit(float(1 << 32))
    prio = F.round(F.log(u) / wcol.cast("double") * F.lit(1e9)).cast("bigint")
    return (
        df.where(wcol.isNotNull() & (wcol > 0))
        .withColumn("__p", prio)
        .orderBy(F.col("__p").desc(), c.asc())
        .limit(k)
        .drop("__p")
    )


def mixture_sample(
    df: DataFrame, strata_col, key_col, shares: dict, budget: int,
    salt: str = "mix",
):
    """Deterministic MIXTURE resampler — the 'hit this language/domain
    mix under a total row budget' step of assembling a training set.

    Per stratum s with target share w_s and observed count n_s, the
    keep-rate is min(1, budget·w_s / n_s) (a stratum too small to fill
    its quota saturates at rate 1 — the standard up-to-availability
    semantics). Membership is the same engine-portable md5 predicate
    as ``hash_sample`` — stable under retries and reproducible in any
    SQL engine; the rate→threshold mapping (floor(rate·2^32) as 8 hex
    chars) is part of the public contract so oracles can mirror it.

    One count() aggregation (map-side combined) computes every n_s;
    the filter itself is a broadcast-free JVM when-chain. Strata not
    in ``shares`` are dropped. Returns (sampled_df, rates_dict).

    Cross-engine determinism contract: the threshold is
    floor(double(budget·share / n) · 2^32) where budget·share and the
    division are IEEE-754 correctly-rounded double ops evaluated in
    exactly this association. Any engine that evaluates
    ``b * share / n`` left-to-right in doubles (Spark, DuckDB, any
    ANSI SQL engine) produces the bit-identical rate — and therefore
    the identical threshold — for budget, n < 2^53; no libm calls are
    involved, so there is no platform ulp to drift. Pinned by
    tests/test_sampling_determinism.py against DuckDB."""
    sc = F.col(strata_col) if isinstance(strata_col, str) else strata_col
    counts = {
        r["__s"]: r["n"]
        for r in df.select(sc.alias("__s"))
        .groupBy("__s")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    b = _bucket_hex(key_col, salt)
    pred = F.lit(False)
    rates = {}
    for s, share in shares.items():
        n = counts.get(s, 0)
        rate = 1.0 if n == 0 else budget * share / n
        rates[s] = min(rate, 1.0)
        keep = F.lit(True) if rate >= 1.0 else (b < F.lit(_threshold_hex(rate)))
        pred = F.when(sc == s, keep).otherwise(pred)
    return df.where(pred), rates


def split_label(
    key_col, weights: list[float], names: list[str], salt: str = "split"
) -> Column:
    """Split membership as a labeling COLUMN — identical membership to
    ``hash_split`` with the same key/weights/salt,
    but usable in one pass (``withColumn('split', ...)`` + groupBy)
    instead of materializing one DataFrame per split. Pure codegen'd
    expression: md5 + chained CASE, zero shuffle, zero Python.

    NULL keys label NULL (hash_split's predicates are NULL for them,
    so they appear in no split — a bare CASE fall-through would
    silently dump them into the LAST split instead)."""
    if len(names) != len(weights):
        raise ValueError("names and weights must have equal length")
    if abs(sum(weights) - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {sum(weights)}")
    kc = F.col(key_col) if isinstance(key_col, str) else key_col
    b = _bucket_hex(key_col, salt)
    expr = None
    acc = 0.0
    for name, w in zip(names[:-1], weights[:-1]):
        acc += w
        hi = F.lit(_threshold_hex(acc))
        expr = F.when(b < hi, name) if expr is None else expr.when(b < hi, name)
    tail = F.when(kc.isNotNull(), names[-1]).otherwise(F.lit(None))
    return (
        F.when(kc.isNotNull(), names[0]).otherwise(F.lit(None))
        if expr is None
        else expr.otherwise(tail)
    )


def priority_sample(
    df: DataFrame, key_col, weight_col, k: int, salt: str = "ps"
) -> DataFrame:
    """Priority sample (Duffield-Lund-Thorup, JACM 2007) of the k+1
    top-priority rows — the k-row sample plus the threshold witness
    whose priority is tau; priority_subset_sums applies the
    estimator.

    Integer DLT priority floor(w / u) = (w * 2^32) div (h32 + 1),
    with u = (h32+1)/2^32 derived from md5(key||':'||salt). All-bigint:
    no libm, no float — any ANSI-SQL engine reproduces the exact
    ranking (DuckDB's truncating // agrees with Spark's `div` because
    every operand is non-negative). Weight domain 1 <= w < 2^31 keeps
    w * 2^32 inside int64.

    Plan: TakeOrderedAndProject — per-partition (k+1)-heaps,
    O(partitions*k) rows shipped, no global sort. Output: the input
    columns plus `__p` (integer priority) — callers derive tau and
    the estimator from the k+1 rows (trivially small)."""
    wcol = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    h32 = F.conv(
        F.substring(F.md5(F.concat(c.cast("string"), F.lit(":" + salt))), 1, 8),
        16,
        10,
    ).cast("bigint")
    return (
        df.where(wcol.isNotNull() & (wcol > 0))
        .withColumn("__num", wcol.cast("bigint") * F.lit(1 << 32).cast("bigint"))
        .withColumn("__den", h32 + F.lit(1).cast("bigint"))
        .withColumn("__p", F.expr("__num div __den"))
        .drop("__num", "__den")
        .orderBy(F.col("__p").desc(), c.asc())
        .limit(k + 1)
    )


def priority_subset_sums(
    df: DataFrame, key_col, weight_col, group_cols, k: int, salt: str = "ps"
) -> DataFrame:
    """Per-group unbiased subset-sum estimates from ONE priority
    sample drawn over the whole table: Sum(max(w, tau)) over the
    sample rows falling in each group (DLT Theorem 1 — the estimator
    is unbiased for ANY subset, so a single k-row sample answers every
    group, unlike per-group sampling). Entirely deterministic and
    integer-exact, hence reproducible bit-for-bit by the SQL oracle.

    Scale shape: the only full-table work is the TakeOrderedAndProject
    top-(k+1); everything after runs on <= k+1 rows (a window over a
    single tiny partition, then a broadcast of the 1-row tau)."""
    if isinstance(group_cols, str):
        group_cols = [group_cols]
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    # the key stays in its NATIVE type so the window tie-break below
    # orders identically to priority_sample's (and the SQL oracle's)
    top = priority_sample(df, key_col, weight_col, k, salt).select(
        *group_cols,
        c.alias("__key"),
        (F.col(weight_col) if isinstance(weight_col, str) else weight_col)
        .cast("bigint")
        .alias("__w"),
        "__p",
    )
    # tau = (k+1)-th priority when the table has more than k rows,
    # else 0 (exact regime). One row; broadcast into the k-row sample.
    tau = top.agg(
        F.when(F.count(F.lit(1)) > k, F.min("__p"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("__tau"),
        F.count(F.lit(1)).alias("__n"),
    )
    win = Window.orderBy(F.col("__p").desc(), F.col("__key").asc())
    sample = top.withColumn("__rn", F.row_number().over(win)).where(
        F.col("__rn") <= k
    )
    return (
        sample.crossJoin(F.broadcast(tau))
        .groupBy(*group_cols)
        .agg(
            F.sum(F.greatest(F.col("__w"), F.col("__tau")))
            .cast("bigint")
            .alias("est_sum")
        )
    )


def universe_join_size(
    a: DataFrame,
    b: DataFrame,
    key_a: str,
    key_b: str | None = None,
    inv_rate: int = 16,
    salt: str = "uj",
) -> DataFrame:
    """Correlated (universe) sampling join-size estimate: sample BOTH
    sides with the SAME hash predicate on the join key (keep keys
    whose md5 bucket < 2^32/inv_rate), join the samples, scale the
    pair count by inv_rate. Because the two sides agree on which keys
    survive, sampled keys join at full multiplicity and the estimator
    E[inv_rate * |A' join B'|] = |A join B| is unbiased — independent
    Bernoulli sampling of each side would need an inv_rate^2 blowup
    (Vengerov et al., VLDB'15 'Join Size Estimation Subject to Filter
    Conditions'; the engine-portable hash trick is the same one
    ``hash_sample`` uses).

    inv_rate must be a power of two so the threshold floor(2^32 /
    inv_rate) and the scale-up are both integer-exact — the estimate
    is then a deterministic pure function of (keys, salt) that any
    SQL engine reproduces bit-for-bit.

    Scale shape: the sample predicate filters each side BEFORE the
    join's Exchange, so the shuffle moves 1/inv_rate of each input;
    the join itself is an ordinary equi-join on the surviving keys.
    Output: one row (sampled_pairs, est_pairs) as int64."""
    if inv_rate < 1 or (inv_rate & (inv_rate - 1)) != 0:
        raise ValueError(f"inv_rate must be a power of two, got {inv_rate}")
    key_b = key_b or key_a
    rate = 1.0 / inv_rate
    sa = hash_sample(a, key_a, rate, salt).select(F.col(key_a).alias("__k"))
    sb = hash_sample(b, key_b, rate, salt).select(F.col(key_b).alias("__k"))
    joined = sa.join(sb, "__k")
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("sampled_pairs"),
        (F.count(F.lit(1)) * F.lit(inv_rate)).cast("bigint").alias("est_pairs"),
    )


def varopt_of(df: DataFrame, key_col, weight_col, k: int = 64, fanout: int = 32):
    """VarOpt_k sample of (key, weight) rows in ONE distributed pass
    (sketches/varopt.py — variance-optimal subset-sum sampling,
    Cohen et al. SODA 2009): per-partition one-shot reductions, then
    the standard tree merge (the DataSketches-union fold). Returns
    the driver-side sketch: EXACTLY k (key, adjusted_weight) rows
    answering any subset-sum unbiasedly within error_bound().
    Complements priority_subset_sums: that estimator is integer-exact
    and SQL-reproducible; this one is variance-optimal with a fixed
    k-row sample under merges."""
    from functools import partial as _partial

    from ..sketches.varopt import VarOpt

    from .aggregate import sketch_aggregate

    c = F.col(key_col) if isinstance(key_col, str) else key_col
    return sketch_aggregate(
        df, c.cast("long"), _partial(VarOpt, k), fanout, weight_col=weight_col,
    )

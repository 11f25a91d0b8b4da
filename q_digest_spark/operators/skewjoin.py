"""Skew-aware salted equi-join.

AQE's skew-join splitting (spark.sql.adaptive.skewJoin) only fires on
sort-merge joins whose partition-size stats it can see at runtime; a
genuinely pathological key (one user_id holding 10^9 events) inside a
shuffle-hash join, or a skewed AGGREGATION feeding a join, still
funnels one reducer. The classic explicit cure (public folklore,
e.g. the Spark docs' "salting" pattern): split the hot keys out,
replicate the other side across R salt values for them, and union
with the normally-joined cold keys.

Hot keys are detected with ONE map-side-combined aggregate over the
fact side (count per key, threshold) — the hot-key list is by
definition tiny (few keys can exceed a count threshold), so it
collects and broadcasts safely. The hot-side explode factor R bounds
the widest reducer at ~hot_count/R rows.

The result is row-identical to a plain inner equi-join (property
tested); only the physical distribution differs.

No reference counterpart (qcore.c has no join layer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def hot_keys(df: DataFrame, key: str, threshold: int) -> list:
    """Keys whose row count exceeds ``threshold`` — one
    map-side-combined aggregate; the result is tiny by construction
    (at most n/threshold keys can exceed it)."""
    return [
        r[key]
        for r in (
            df.groupBy(key)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > threshold)
            .select(key)
            .collect()
        )
    ]


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt: int = 16,
    hot_threshold: int | None = None,
) -> DataFrame:
    """Inner equi-join of ``fact`` ⋈ ``dim`` on ``key``, row-identical
    to ``fact.join(dim, key)`` but with hot fact keys spread across
    ``salt`` reducers:

    - cold keys join normally (one shuffle each side);
    - hot fact rows get a random-but-deterministic salt
      (pmod(xxhash64(monotonically_increasing_id), salt)) appended to
      the key; the dim rows for hot keys (a tiny slice — few keys)
      are EXPLODED across all ``salt`` values, so every salted
      reducer finds its match.

    ``hot_threshold`` drives ``hot_keys`` (default: 5x the mean
    rows/key, floor 1000). Output columns = fact columns + dim non-key
    columns, like a plain join."""
    if hot_threshold is None:
        n = fact.count()
        k = max(1, fact.select(key).distinct().count())
        hot_threshold = max(1000, 5 * n // k)
    hot = hot_keys(fact, key, hot_threshold)
    if not hot:
        return fact.join(dim, key)

    hot_lit = F.array(*[F.lit(h) for h in hot])
    is_hot = F.array_contains(hot_lit, F.col(key))

    f_cold = fact.where(~is_hot)
    f_hot = fact.where(is_hot).withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt)).cast("int"),
    )
    d_cold = dim.where(~is_hot)
    d_hot = dim.where(is_hot).withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )

    cold = f_cold.join(d_cold, key)
    hot_j = f_hot.join(d_hot, [key, "__salt"]).drop("__salt")
    return cold.unionByName(hot_j)

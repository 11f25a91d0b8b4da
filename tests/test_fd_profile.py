"""Approximate-FD profiling (operators/profile.functional_dependency_profile).

Planted-table oracle: g3 is the minimum row-deletion count, computed
by hand on a fixture with a known violation structure; key FDs hold
with zero violations; nulls are excluded on either side.
"""

from __future__ import annotations

from q_digest_spark.operators.profile import functional_dependency_profile


def test_g3_planted(spark):
    # lhs 'a': 3x r1, 1x r2  -> keep 3, violations 1, violating lhs
    # lhs 'b': 2x r1         -> keep 2, violations 0
    # lhs 'c': 1x r1, 1x r2, 1x r3 -> keep 1, violations 2, violating
    rows = (
        [("a", "r1", i) for i in range(3)]
        + [("a", "r2", 3)]
        + [("b", "r1", 4), ("b", "r1", 5)]
        + [("c", "r1", 6), ("c", "r2", 7), ("c", "r3", 8)]
    )
    df = spark.createDataFrame(rows, "k string, v string, id long")
    out = {
        r["fd_name"]: r
        for r in functional_dependency_profile(
            df, [("k_to_v", ["k"], "v"), ("id_to_v", ["id"], "v")]
        ).collect()
    }
    kv = out["k_to_v"]
    assert (kv["n_rows"], kv["n_lhs"], kv["n_lhs_violating"]) == (9, 3, 2)
    assert kv["n_row_violations"] == 3 and not kv["holds"]
    # g3_ppm = round_half_up(1e6 * 3 / 9) = 333333
    assert kv["g3_ppm"] == 333333
    idv = out["id_to_v"]
    assert idv["holds"] and idv["n_row_violations"] == 0 and idv["g3_ppm"] == 0


def test_nulls_excluded_and_composite_lhs(spark):
    rows = [
        ("a", "x", "r1"),
        ("a", "x", "r1"),
        ("a", None, "r2"),   # null lhs component: excluded
        ("a", "y", None),    # null rhs: excluded
        ("a", "y", "r2"),
    ]
    df = spark.createDataFrame(rows, "k1 string, k2 string, v string")
    out = functional_dependency_profile(
        df, [("kk_to_v", ["k1", "k2"], "v")]
    ).collect()[0]
    assert out["n_rows"] == 3  # two rows dropped for nulls
    assert out["n_lhs"] == 2 and out["holds"]


def test_profile_columns_counts_non_null_rows(spark):
    """``n_nonnull`` is the fold's exact row count (NULLs skipped), and
    each distinct estimate is within 3 sigma of the exact count."""
    from pyspark.sql import functions as F

    from q_digest_spark.operators.profile import profile_columns

    df = spark.range(0, 20_000, 1, 4).select(
        F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id") % 5_000).alias("a"),
        F.when(F.col("id") % 3 == 0, None).otherwise((F.col("id") % 900).cast("string")).alias("s"),
    )
    prof = profile_columns(df, ["a", "s"], ["a"])
    exact = df.agg(
        *[F.count(c).alias(f"n_{c}") for c in "as"],
        *[F.countDistinct(c).alias(f"d_{c}") for c in "as"],
    ).collect()[0]
    sigma = 1.04 / 2**7  # HLL(14) relative standard error
    for c in "as":
        assert prof[c]["n_nonnull"] == exact[f"n_{c}"] < 20_000, c
        assert abs(prof[c]["distinct_est"] - exact[f"d_{c}"]) <= 3 * sigma * exact[f"d_{c}"], c
    assert 0 <= prof["a"]["p50"] <= prof["a"]["p95"] < 5_000

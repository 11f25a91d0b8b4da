"""rollup_sketch_rows and cube_sketch_rows: one scan, every grouping
set merged from the finest sketch rows — bit-identical to building
each set directly (HLL state is element-wise max, so merge order
cannot matter), and lazy: one plan with two merges, no job at call
time."""

from functools import partial
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from q_digest_spark.operators.aggregate import (
    cube_sketch_rows,
    grouped_sketch_rows,
    rollup_sketch_rows,
)
from q_digest_spark.sketches import HLL, KLL, from_bytes


def test_rollup_levels_match_direct_builds(spark, sf_test):
    df = spark.read.parquet(f"{sf_test}/documents.parquet")
    rolled = rollup_sketch_rows(
        df, ["lang", "source"], "doc_id", HLL
    ).collect()
    by_level = {}
    for r in rolled:
        by_level.setdefault(r["level"], {})[(r["lang"], r["source"])] = r

    # level 2 == plain grouped build
    direct2 = {
        (r["lang"], r["source"]): r
        for r in grouped_sketch_rows(
            df, ["lang", "source"], "doc_id", HLL
        ).collect()
    }
    assert set(by_level[2]) == set(direct2)

    # level 1 (source rolled up): bytes identical to a direct per-lang build
    direct1 = {
        r["lang"]: bytes(r["sketch"])
        for r in grouped_sketch_rows(df, ["lang"], "doc_id", HLL).collect()
    }
    got1 = {k[0]: bytes(r["sketch"]) for k, r in by_level[1].items()}
    assert got1 == direct1

    # level 0 (grand total): single row, estimate within bound of exact
    assert len(by_level[0]) == 1
    total = next(iter(by_level[0].values()))
    exact = df.select(F.countDistinct("doc_id")).collect()[0][0]
    est = from_bytes(bytes(total["sketch"])).estimate()
    assert abs(est - exact) <= 3 * 1.04 / (16384**0.5) * max(exact, 1)
    assert total["rows"] == df.where(F.col("doc_id").isNotNull()).count()


def test_cube_grouping_sets_match_direct_builds(spark, sf_test):
    """cube_sketch_rows: all 2^n grouping sets from one scan; every
    set's sketch is byte-identical to building that grouping directly
    (HLL merge is element-wise max — order-free)."""
    df = spark.read.parquet(f"{sf_test}/documents.parquet")
    cubed = cube_sketch_rows(
        df, ["lang", "source"], "doc_id", HLL
    ).collect()
    by_set = {}
    for r in cubed:
        null_sig = (r["lang"] is None, r["source"] is None)
        by_set.setdefault(null_sig, {})[(r["lang"], r["source"])] = bytes(r["sketch"])

    # (lang, source) finest == direct grouped build
    direct = {
        (r["lang"], r["source"]): bytes(r["sketch"])
        for r in grouped_sketch_rows(
            df, ["lang", "source"], "doc_id", HLL
        ).collect()
    }
    assert by_set[(False, False)] == direct

    # (lang) and (source) sets == their direct single-key builds
    for key, sig in (("lang", (False, True)), ("source", (True, False))):
        d = {
            r[key]: bytes(r["sketch"])
            for r in grouped_sketch_rows(df, [key], "doc_id", HLL).collect()
        }
        got = {
            (k[0] if key == "lang" else k[1]): buf for k, buf in by_set[sig].items()
        }
        assert got == d

    # grand total: one row, matches exact within bound
    assert len(by_set[(True, True)]) == 1
    total = next(iter(by_set[(True, True)].values()))
    exact = df.select(F.countDistinct("doc_id")).collect()[0][0]
    est = from_bytes(total).estimate()
    assert abs(est - exact) <= 3 * 1.04 / (16384**0.5) * max(exact, 1)


def _docs3(spark, sf_test):
    return spark.read.parquet(f"{sf_test}/documents.parquet").withColumn(
        "b", F.pmod("doc_id", F.lit(3))
    )


def _by_set(rows, keys):
    return {
        (tuple(r[k] for k in keys), r["level"]): (bytes(r["sketch"]), r["rows"])
        for r in rows
    }


@pytest.mark.parametrize("keys", [["lang", "source"], ["lang", "source", "b"]])
def test_kll_rollup_rows_equal_cube_rows(spark, sf_test, keys):
    """Every ROLLUP row is the CUBE row of the same grouping set, byte
    for byte, even for KLL, whose merge depends on fold order: both
    fold the finest rows of a set in the order of their keys."""
    df = _docs3(spark, sf_test)
    fac = partial(KLL, 64)
    rolled = _by_set(rollup_sketch_rows(df, keys, "n_chars", fac).collect(), keys)
    cubed = _by_set(cube_sketch_rows(df, keys, "n_chars", fac).collect(), keys)
    assert len(rolled) > len(keys) + 1
    assert {at: cubed[at] for at in rolled} == rolled


def test_cube_keeps_real_null_keys_apart(spark):
    """A key column holding real NULLs: every grouping set of the CUBE
    equals the direct grouped build of that set, its NULL group
    included, and a real NULL key never merges with a rolled-up one."""
    n = 3000
    df = spark.range(0, n, 1, 4).select(
        F.when(F.col("id") % 7 != 0, F.col("id") % 5).alias("a"),
        (F.col("id") % 3).alias("b"),
        F.xxhash64("id").alias("v"),
    )
    cubed = cube_sketch_rows(df, ["a", "b"], "v", partial(HLL, 10)).collect()
    # only `a` holds real NULLs, so a NULL `b` marks a rolled-up `b`
    got = {}
    for r in cubed:
        b_kept = r["b"] is not None
        kept = ("a",) * (r["level"] - b_kept) + ("b",) * b_kept
        got.setdefault(kept, {})[(r["a"], r["b"])] = (bytes(r["sketch"]), r["rows"])
    for size in (2, 1, 0):
        for kept in combinations(["a", "b"], size):
            direct = grouped_sketch_rows(df, list(kept), "v", partial(HLL, 10)).collect()
            want = {
                (r["a"] if "a" in kept else None, r["b"] if "b" in kept else None): (bytes(r["sketch"]), r["rows"])
                for r in direct
            }
            assert got[kept] == want, kept
    assert (None, 0) in got[("a", "b")] and (None, None) in got[("a",)]
    assert sum(rows for _, rows in got[()].values()) == n


@pytest.mark.parametrize("build", [rollup_sketch_rows, cube_sketch_rows])
@pytest.mark.parametrize("keys", [["lang", "source"], ["lang", "source", "b"]])
def test_grouping_sets_are_one_lazy_plan(spark, sf_test, build, keys):
    """Calling ROLLUP or CUBE starts no Spark job, and the plan holds
    exactly two pandas merges (the grouped build and the grouping-set
    merge) and no union of per-set plans."""
    df = _docs3(spark, sf_test)
    sc = spark.sparkContext
    group = f"grouping-sets-{build.__name__}-{len(keys)}"
    sc.setJobGroup(group, group)
    try:
        out = build(df, keys, "doc_id", HLL)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert plan.count("FlatMapGroupsInPandas") == 2, plan
    assert "Union" not in plan, plan

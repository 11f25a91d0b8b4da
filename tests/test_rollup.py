"""rollup_sketch_rows: one scan, coarser levels = merges of finer
sketches — bit-identical to building each level directly (HLL state
is element-wise max, so merge order cannot matter)."""

from pyspark.sql import functions as F

from q_digest_spark.operators.aggregate import grouped_sketch_rows, rollup_sketch_rows
from q_digest_spark.sketches import HLL, from_bytes


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
    from q_digest_spark.operators.aggregate import cube_sketch_rows

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

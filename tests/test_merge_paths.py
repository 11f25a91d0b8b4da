"""Both merge paths of the ungrouped core, forced on one 8-partition
input: fanout=8 folds the partials on the driver in the partial-build
job, fanout=2 tree-merges them first. State sketches (HLL/CMS/Bloom)
must come out byte-identical, quantile sketches within their bounds,
and the partition-bound probe must never launch a job. The grouped
path (same builder, one shuffle by key) is checked on the same input."""

from functools import partial

import numpy as np
import pytest
from pyspark.sql import functions as F

from q_digest_spark.operators.aggregate import grouped_sketch_rows, partition_bound, sketch_aggregate
from q_digest_spark.operators.multi import SketchSpec, multi_sketch_aggregate
from q_digest_spark.operators.quantiles import (
    HashedBloom,
    HashedCMS,
    HashedHLL,
    hashed_bloom_from_bytes,
    hashed_cms_from_bytes,
    hashed_hll_from_bytes,
)
from q_digest_spark.sketches import KLL, QDigest, kll_from_bytes, qdigest_from_bytes

N = 40_000
PARTS = 8
BITS = 16
PS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


def _jobs(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


@pytest.fixture(scope="module")
def data(spark):
    df = spark.range(0, N, 1, PARTS).select(
        F.pmod(F.xxhash64("id"), F.lit(1 << BITS)).alias("v"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1 << 20)) / 7.0).alias("x"),
        (F.col("id") % 3 + 1).alias("w"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(5)).alias("k"),
    )
    pdf = df.toPandas()
    return df, pdf


def _specs():
    return {
        "qd": SketchSpec("v", partial(QDigest, 64, BITS), qdigest_from_bytes),
        "qdw": SketchSpec("v", partial(QDigest, 64, BITS), qdigest_from_bytes, "w"),
        "kll": SketchSpec("x", partial(KLL, 200), kll_from_bytes),
        "hll": SketchSpec(F.xxhash64("v"), partial(HashedHLL, 12), hashed_hll_from_bytes),
        "cms": SketchSpec(F.xxhash64("v"), partial(HashedCMS, 4, 2048), hashed_cms_from_bytes),
        "bloom": SketchSpec(F.xxhash64("v"), partial(HashedBloom, 1 << 16, 5), hashed_bloom_from_bytes),
    }


def _rank_err(sorted_vals, est, p):
    lo = np.searchsorted(sorted_vals, est, "left")
    hi = np.searchsorted(sorted_vals, est, "right")
    t = p * len(sorted_vals)
    return 0.0 if lo <= t <= hi else min(abs(lo - t), abs(hi - t)) / len(sorted_vals)


def _within_bounds(out, pdf):
    exact = {
        "qd": np.sort(pdf["v"].to_numpy()),
        "qdw": np.sort(np.repeat(pdf["v"].to_numpy(), pdf["w"].to_numpy())),
        "kll": np.sort(pdf["x"].to_numpy()),
    }
    bounds = {"qd": BITS / 64, "qdw": BITS / 64, "kll": KLL(200).error_bound() * 1.5}
    for name in exact.keys() & out.keys():
        sk, s = out[name], exact[name]
        assert sk.n == len(s), name
        for p, q in zip(PS, sk.quantiles(PS)):
            assert _rank_err(s, q, p) <= bounds[name], (name, p)


def test_partition_bound_launches_no_job(spark, data):
    df, _ = data
    before = _jobs(spark)
    assert partition_bound(df) == PARTS
    # a precount histogram: the exchange's partition count, unexecuted
    hist = df.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    assert partition_bound(hist) == int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _jobs(spark) == before


def test_multi_driver_fold_and_tree_merge_agree(spark, data):
    df, pdf = data
    before = _jobs(spark)
    folded = multi_sketch_aggregate(df, _specs(), fanout=PARTS)
    assert _jobs(spark) - before == 1  # the partial-build job collects the partials
    tree = multi_sketch_aggregate(df, _specs(), fanout=2)
    assert _jobs(spark) - before > 2  # tree_merge adds a shuffle
    for name in ("hll", "cms", "bloom"):
        assert folded[name].to_bytes() == tree[name].to_bytes(), name
    assert folded["cms"].sketch.n == N
    _within_bounds(folded, pdf)
    _within_bounds(tree, pdf)


def test_sketch_aggregate_both_paths_weighted(spark, data):
    df, pdf = data
    out = {}
    for fanout in (PARTS, 2):
        before = _jobs(spark)
        res = {
            "qdw": sketch_aggregate(
                df, "v", partial(QDigest, 64, BITS), qdigest_from_bytes, fanout, weight_col="w"
            ),
            "kll": sketch_aggregate(df, "x", partial(KLL, 200), kll_from_bytes, fanout),
            "hll": sketch_aggregate(
                df, F.xxhash64("v"), partial(HashedHLL, 12), hashed_hll_from_bytes, fanout
            ),
        }
        if fanout == PARTS:
            assert _jobs(spark) - before == 3  # one job per call
        _within_bounds(res, pdf)
        out[fanout] = res
    assert out[PARTS]["hll"].to_bytes() == out[2]["hll"].to_bytes()
    assert out[PARTS]["qdw"].n == int(pdf["w"].sum())


def test_driver_fold_is_deterministic(spark, data):
    """Partials fold in part_id order, not collect order: two calls on
    the same input give byte-identical Q-Digests on either path."""
    df, _ = data
    for fanout in (PARTS, 2):
        a, b = (
            sketch_aggregate(df, "v", partial(QDigest, 32, BITS), qdigest_from_bytes, fanout).to_bytes()
            for _ in range(2)
        )
        assert a == b, fanout


def _grouped(df, keys, col, factory, deserialize):
    rows = grouped_sketch_rows(df, keys, col, factory, deserialize).collect()
    return {r[keys[0]]: (bytes(r["sketch"]), r["rows"]) for r in rows}


def test_grouped_hll_matches_per_key_aggregate(spark, data):
    """A grouped HLL row is byte-identical to an ungrouped aggregate of
    that key's rows (HLL state is an element-wise max)."""
    df, pdf = data
    got = _grouped(df, ["k"], F.xxhash64("v"), partial(HashedHLL, 12), hashed_hll_from_bytes)
    assert sorted(got) == sorted(pdf["k"].unique())
    for k, (buf, rows) in got.items():
        alone = sketch_aggregate(
            df.where(F.col("k") == int(k)), F.xxhash64("v"), partial(HashedHLL, 12), hashed_hll_from_bytes
        )
        assert buf == alone.to_bytes(), k
        assert rows == int((pdf["k"] == k).sum())


def test_grouped_qdigest_deterministic_and_within_bound(spark, data):
    """Grouped merges fold in part_id order: two calls give the same
    bytes, and every key's quantiles are within eps*n of its exact
    ranks."""
    df, pdf = data
    args = (df, ["k"], "v", partial(QDigest, 256, BITS), qdigest_from_bytes)
    got = _grouped(*args)
    assert got == _grouped(*args)
    for k, (buf, rows) in got.items():
        s = np.sort(pdf.loc[pdf["k"] == k, "v"].to_numpy())
        sk = qdigest_from_bytes(buf)
        assert sk.n == rows == len(s)
        for p, q in zip(PS, sk.quantiles(PS)):
            assert _rank_err(s, q, p) <= BITS / 256, (k, p)


def test_grouped_key_named_v(spark, data):
    """A group key may be named like the value alias of the old grouped
    builder ("v"); only the partial-row columns are reserved."""
    df, pdf = data
    keyed = df.select(F.col("k").alias("v"), F.col("v").alias("x"))
    got = _grouped(keyed, ["v"], "x", partial(QDigest, 32, BITS), qdigest_from_bytes)
    assert {k: rows for k, (_, rows) in got.items()} == pdf["k"].value_counts().to_dict()
    with pytest.raises(ValueError, match="name"):
        grouped_sketch_rows(
            df.withColumnRenamed("k", "name"), ["name"], "v", partial(QDigest, 32, BITS), qdigest_from_bytes
        )

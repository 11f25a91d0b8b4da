"""Every merge path of the ungrouped core, forced on the same rows: on
8 partitions fanout=8 folds the partials on the driver in the
partial-build job and fanout=2 tree-merges them first; on 16
partitions fanout=8 (the default parallelism of local[8]) builds them
on 8 coalesced tasks and folds on the driver. State sketches
(HLL/CMS/Bloom) must come out byte-identical, quantile sketches within
their bounds, the partition-bound probe must never launch a job, and a
retried task must not change a sketch. The grouped path (same
builder, one shuffle by key) is checked on the same input."""

import json
import logging
import os
import subprocess
import sys
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
from q_digest_spark.sketches import KLL, QDigest, qdigest_from_bytes

N = 40_000
PARTS = 8
BITS = 16
PS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
LOGGER = "q_digest_spark.operators.aggregate"


def _jobs(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _frame(spark, parts):
    return spark.range(0, N, 1, parts).select(
        F.pmod(F.xxhash64("id"), F.lit(1 << BITS)).alias("v"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1 << 20)) / 7.0).alias("x"),
        (F.col("id") % 3 + 1).alias("w"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(5)).alias("k"),
    )


@pytest.fixture(scope="module")
def data(spark):
    df = _frame(spark, PARTS)
    pdf = df.toPandas()
    return df, pdf


@pytest.fixture(scope="module")
def wide(spark):
    """The same rows on 2 * PARTS partitions: above fanout=PARTS, which
    is at least the default parallelism, so the core coalesces."""
    assert spark.sparkContext.defaultParallelism <= PARTS
    return _frame(spark, 2 * PARTS)


def _specs():
    return {
        "qd": SketchSpec("v", partial(QDigest, 64, BITS), qdigest_from_bytes),
        "qdw": SketchSpec("v", partial(QDigest, 64, BITS), qdigest_from_bytes, "w"),
        "kll": SketchSpec("x", partial(KLL, 200)),
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
    # a coalesce is bounded by what it asks for, and by what it has
    assert partition_bound(df.coalesce(3)) == 3
    assert partition_bound(df.coalesce(4 * PARTS)) == PARTS
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
                df, "v", partial(QDigest, 64, BITS), fanout, weight_col="w"
            ),
            "kll": sketch_aggregate(df, "x", partial(KLL, 200), fanout),
            "hll": sketch_aggregate(
                df, F.xxhash64("v"), partial(HashedHLL, 12), fanout
            ),
        }
        if fanout == PARTS:
            assert _jobs(spark) - before == 3  # one job per call
        _within_bounds(res, pdf)
        out[fanout] = res
    assert out[PARTS]["hll"].to_bytes() == out[2]["hll"].to_bytes()
    assert out[PARTS]["qdw"].n == int(pdf["w"].sum())


def test_coalesced_driver_fold(spark, data, wide, caplog):
    """More partitions than fanout, fanout >= the default parallelism:
    one job per call, on fanout coalesced tasks; HLL/CMS/Bloom match
    the tree path's bytes and every quantile answer is within bound."""
    _, pdf = data
    caplog.set_level(logging.DEBUG, logger=LOGGER)
    before = _jobs(spark)
    folded = multi_sketch_aggregate(wide, _specs(), fanout=PARTS)
    assert _jobs(spark) - before == 1
    tree = multi_sketch_aggregate(wide, _specs(), fanout=2)
    assert _jobs(spark) - before > 2  # fanout < parallelism: still tree_merge
    paths = [r.getMessage().split(",")[0] for r in caplog.records if r.name == LOGGER]
    assert paths == ["fold_partials: coalesced driver fold", "fold_partials: tree merge"]
    for name in ("hll", "cms", "bloom"):
        assert folded[name].to_bytes() == tree[name].to_bytes(), name
    _within_bounds(folded, pdf)
    _within_bounds(tree, pdf)
    before = _jobs(spark)
    qdw = sketch_aggregate(wide, "v", partial(QDigest, 64, BITS), PARTS, weight_col="w")
    assert _jobs(spark) - before == 1
    assert qdw.n == int(pdf["w"].sum())
    _within_bounds({"qdw": qdw}, pdf)


def test_driver_fold_is_deterministic(spark, data, wide):
    """Partials fold in part_id order, not collect order: two calls on
    the same input give byte-identical Q-Digests on every path."""
    df, _ = data
    for frame, fanout in ((df, PARTS), (df, 2), (wide, PARTS)):
        a, b = (
            sketch_aggregate(frame, "v", partial(QDigest, 32, BITS), fanout).to_bytes()
            for _ in range(2)
        )
        assert a == b, fanout


_RETRY_SCRIPT = r"""
import json, logging, os, sys, tempfile
from functools import partial

from pyspark import TaskContext
from pyspark.sql import functions as F

from q_digest_spark.operators.aggregate import (
    cube_sketch_rows, grouped_sketch_rows, rollup_sketch_rows, sketch_aggregate,
)
from q_digest_spark.operators.heavy_hitters import cms_topk_with_keys
from q_digest_spark.operators.quantiles import HashedHLL
from q_digest_spark.plans.session import get_spark
from q_digest_spark.sketches import QDigest

paths = []
handler = logging.Handler()
handler.emit = lambda r: paths.append(r.getMessage().split(",")[0])
log = logging.getLogger("q_digest_spark.operators.aggregate")
log.addHandler(handler)
log.setLevel(logging.DEBUG)

spark = get_spark("retry-determinism", master="local[2,3]", cores=2, shuffle_partitions=2)
marks = tempfile.mkdtemp(prefix="qds_retry_")
df = spark.range(0, 6000, 1, 6).select(
    "id",
    F.pmod(F.xxhash64("id"), F.lit(1 << 16)).alias("v"),
    F.floor(F.log2(F.col("id") + 1)).cast("long").alias("k"),
    F.pmod(F.col("id"), F.lit(3)).alias("j"),
)


def flaky(fail):
    def run(batches):
        for pdf in batches:
            ctx = TaskContext.get()
            if fail and ctx.attemptNumber() == 0 and (pdf["id"] == 2500).any():
                open(os.path.join(marks, f"{ctx.taskAttemptId()}"), "w").close()
                raise RuntimeError("injected first-attempt failure")
            yield pdf

    return df.mapInPandas(run, df.schema)


out = {}
for fanout in (2, 1):
    for fail in (False, True):
        src = flaky(fail)
        qd = sketch_aggregate(src, "v", partial(QDigest, 32, 16), fanout)
        hll = sketch_aggregate(src, F.xxhash64("v"), partial(HashedHLL, 12), fanout)
        top = [list(r) for r in cms_topk_with_keys(src, "k", k=5, fanout=fanout).collect()]
        out[f"{fanout}-{fail}"] = [qd.to_bytes().hex(), hll.to_bytes().hex(), qd.n, top]
for fail in (False, True):
    rows = grouped_sketch_rows(flaky(fail), ["k"], "v", partial(QDigest, 32, 16))
    out[f"grouped-{fail}"] = sorted(
        [r["k"], bytes(r["sketch"]).hex(), r["rows"]] for r in rows.collect()
    )
    for name, multi in (("rollup", rollup_sketch_rows), ("cube", cube_sketch_rows)):
        rows = multi(flaky(fail), ["k", "j"], "v", partial(QDigest, 32, 16))
        out[f"{name}-{fail}"] = sorted(
            (json.dumps([r["k"], r["j"], r["level"]]), bytes(r["sketch"]).hex(), r["rows"])
            for r in rows.collect()
        )
out["failures"] = len(os.listdir(marks))
out["paths"] = paths
print(json.dumps(out))
"""


def test_retry_is_deterministic():
    """A task that fails its first attempt and is retried gives the
    same Q-Digest and HLL bytes and the same ``cms_topk_with_keys``
    rows as a clean run, on the coalesced path (fanout=2 at
    local[2,3]) and the tree path (fanout=1): a coalesced task re-reads
    the same input partitions. Grouped Q-Digest rows (one shuffle by
    key) and the ROLLUP and CUBE rows merged from them come out
    byte-identical too."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", PYTHONPATH=repo)
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT], cwd=repo, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    # each flaky call failed once: 2 x 3 ungrouped, 1 grouped, 1 rollup, 1 cube
    assert out["failures"] == 9
    coalesced, tree = "fold_partials: coalesced driver fold", "fold_partials: tree merge"
    assert out["paths"] == [coalesced] * 6 + [tree] * 6
    for fanout in (2, 1):
        assert out[f"{fanout}-True"] == out[f"{fanout}-False"], fanout
        assert out[f"{fanout}-True"][2] == 6000
        assert out[f"{fanout}-True"][3][:2] == [[11, 2048], [12, 1905]]  # exact counts
    assert out["grouped-True"] == out["grouped-False"]
    assert [r[0] for r in out["grouped-True"]] == list(range(13))
    assert sum(r[2] for r in out["grouped-True"]) == 6000
    for name, n_levels in (("rollup", 3), ("cube", 4)):
        assert out[f"{name}-True"] == out[f"{name}-False"], name
        # every grouping set's rows add up to all 6000 input rows
        assert sum(r[2] for r in out[f"{name}-True"]) == n_levels * 6000, name


def _grouped(df, keys, col, factory):
    rows = grouped_sketch_rows(df, keys, col, factory).collect()
    return {r[keys[0]]: (bytes(r["sketch"]), r["rows"]) for r in rows}


def test_grouped_hll_matches_per_key_aggregate(spark, data):
    """A grouped HLL row is byte-identical to an ungrouped aggregate of
    that key's rows (HLL state is an element-wise max)."""
    df, pdf = data
    got = _grouped(df, ["k"], F.xxhash64("v"), partial(HashedHLL, 12))
    assert sorted(got) == sorted(pdf["k"].unique())
    for k, (buf, rows) in got.items():
        alone = sketch_aggregate(
            df.where(F.col("k") == int(k)), F.xxhash64("v"), partial(HashedHLL, 12)
        )
        assert buf == alone.to_bytes(), k
        assert rows == int((pdf["k"] == k).sum())


def test_grouped_qdigest_deterministic_and_within_bound(spark, data):
    """Grouped merges fold in part_id order: two calls give the same
    bytes, and every key's quantiles are within eps*n of its exact
    ranks."""
    df, pdf = data
    args = (df, ["k"], "v", partial(QDigest, 256, BITS))
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
    got = _grouped(keyed, ["v"], "x", partial(QDigest, 32, BITS))
    assert {k: rows for k, (_, rows) in got.items()} == pdf["k"].value_counts().to_dict()
    with pytest.raises(ValueError, match="name"):
        grouped_sketch_rows(
            df.withColumnRenamed("k", "name"), ["name"], "v", partial(QDigest, 32, BITS)
        )

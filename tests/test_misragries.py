"""Misra-Gries frequent-items summary: deterministic guarantee
(est <= true <= est + err, err <= n/(k+1)), heavy-item completeness,
mergeability under arbitrary orders (Agarwal et al. 2012), and the
distributed one-scan pipeline."""

import collections
import itertools
from functools import partial

import numpy as np
import pytest
from pyspark.sql import functions as F

from q_digest_spark.sketches.misragries import MisraGries


def _zipf_tokens(n=20000, vocab=500, a=1.3, seed=7):
    rng = np.random.default_rng(seed)
    return np.array([f"tok{int(v) % vocab}" for v in rng.zipf(a, n)])


def test_guarantee_under_decrements():
    vals = _zipf_tokens()
    mg = MisraGries(k=16)
    for i in range(0, len(vals), 1000):
        mg.update_batch(vals[i:i + 1000])
    true = collections.Counter(vals.tolist())
    n = len(vals)
    assert mg.n == n
    assert 0 < mg.err <= n // 17  # decrements actually happened
    for key, t in true.items():
        e = mg.estimate(key)
        assert e <= t <= e + mg.err
        if t > n / 17:
            assert e > 0, f"guaranteed-heavy item {key} missing"
    assert len(mg.keys) <= 16


def test_exact_when_vocab_fits():
    vals = np.array(["a", "b", "a", "c", "a", "b"] * 50)
    mg = MisraGries(k=8)
    mg.update_batch(vals)
    assert mg.err == 0
    assert mg.items() == {"a": 150, "b": 100, "c": 50}


def test_merge_order_guarantee():
    vals = _zipf_tokens()
    true = collections.Counter(vals.tolist())
    n = len(vals)
    parts = []
    for i in range(4):
        p = MisraGries(k=16)
        p.update_batch(vals[i * 5000:(i + 1) * 5000])
        parts.append(p.to_bytes())
    for perm in itertools.permutations(range(4)):
        m = MisraGries(k=16)
        for i in perm:
            m.merge(MisraGries.from_bytes(parts[i]))
        assert m.n == n and m.err <= n // 17
        for key, t in true.items():
            e = m.estimate(key)
            assert e <= t <= e + m.err


def test_weighted_equals_repeated():
    a = MisraGries(k=8)
    a.update_batch(np.array(["x", "y", "x", "z", "x"]))
    b = MisraGries(k=8)
    b.update_batch(np.array(["x", "y", "z"]), np.array([3, 1, 1]))
    assert a.items() == b.items() and a.n == b.n and a.err == b.err


def test_roundtrip_unicode_and_empty():
    u = MisraGries(k=4)
    u.update_batch(np.array(["héllo", "wörld", "héllo", "日本語"]))
    r = MisraGries.from_bytes(u.to_bytes())
    assert r.items() == u.items() and (r.n, r.err, r.k) == (u.n, u.err, u.k)
    e = MisraGries.from_bytes(MisraGries(k=4).to_bytes())
    assert e.items() == {} and e.n == 0


def test_heavy_hitters_no_false_negatives():
    vals = _zipf_tokens(seed=11)
    mg = MisraGries(k=32)
    mg.update_batch(vals)
    true = collections.Counter(vals.tolist())
    hh = mg.heavy_hitters(0.02)
    for key, t in true.items():
        if t > 0.02 * len(vals):
            assert key in hh


def test_bad_inputs():
    with pytest.raises(ValueError):
        MisraGries(k=0)
    with pytest.raises(ValueError):
        MisraGries(k=4).merge(MisraGries(k=8))
    with pytest.raises(ValueError):
        MisraGries.from_bytes(b"XXXX" + b"\0" * 30)


def test_distributed_pipeline_matches_local(spark, sf_test):
    from q_digest_spark.operators.aggregate import sketch_aggregate
    from q_digest_spark.operators.quantiles import misragries_of

    docs = spark.read.parquet(f"{sf_test}/documents.parquet")
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).where(F.col("tok") != "")
    mg = misragries_of(toks, "tok", k=64)
    exact = {
        r["tok"]: r["c"]
        for r in toks.groupBy("tok").agg(F.count("*").alias("c")).collect()
    }
    n = sum(exact.values())
    assert mg.n == n
    assert mg.err <= n // 65
    for t, c in exact.items():
        assert mg.estimate(t) <= c <= mg.estimate(t) + mg.err
    # a JVM precount fed as weights agrees at the guarantee level (and
    # here exactly, since the sf0.01 vocab fits in k)
    hist = toks.groupBy("tok").agg(F.count("*").alias("c"))
    mg2 = sketch_aggregate(hist, "tok", partial(MisraGries, 64), weight_col="c")
    assert mg2.items() == mg.items() and mg2.n == mg.n


def test_weighted_counts_exact_above_2_53():
    """Integer weights beyond float64's exact range must not lose
    counts (int64 scatter-add, not float bincount — ADVICE r03)."""
    from q_digest_spark.sketches.misragries import MisraGries

    big = (1 << 53) + 1
    mg = MisraGries(k=4)
    mg.update_batch(
        np.array(["a", "a", "b"]), weights=np.array([big, 1, 5], dtype=np.int64)
    )
    assert mg.estimate("a") == big + 1
    assert mg.estimate("b") == 5
    assert mg.n == big + 6

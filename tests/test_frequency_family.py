"""Guarantee tests for the round-5 frequency-sketch family:
conservative-update Count-Min (Estan-Varghese'02), Space-Saving
(Metwally'05 via the PODS'12 MG isomorphism), and mergeable Lossy
Counting (Manku-Motwani'02). Pure numpy — no Spark needed; the
distributed path is graded through __spark_entry__ and pinned in the
replay manifest."""

import itertools

import numpy as np
import pytest

from q_digest_spark.sketches.countmin import CountMin
from q_digest_spark.sketches.cucountmin import CUCountMin
from q_digest_spark.sketches.lossycounting import LossyCounting
from q_digest_spark.sketches.spacesaving import SpaceSaving


def _zipf_tokens(n=20000, n_keys=400, seed=7):
    rng = np.random.default_rng(seed)
    ranks = rng.zipf(1.3, size=n) % n_keys
    return np.array([f"tok{r}" for r in ranks], dtype="U")


def _true_counts(vals):
    uk, uc = np.unique(vals, return_counts=True)
    return dict(zip(uk.tolist(), uc.tolist()))


# ------------------------------------------------------------- CU-CMS
def test_cu_upper_bound_and_dominance_single_stream():
    vals = _zipf_tokens()
    true = _true_counts(vals)
    cms, cu = CountMin(4, 512), CUCountMin(4, 512)
    # interleave batch sizes to exercise in-batch dedupe
    for lo in range(0, len(vals), 3001):
        cms.update_batch(vals[lo:lo + 3001])
        cu.update_batch(vals[lo:lo + 3001])
    keys = np.array(list(true), dtype="U")
    est_cms = cms.estimate(keys)
    est_cu = cu.estimate(keys)
    exact = np.array([true[k] for k in keys.tolist()])
    assert (est_cu >= exact).all()
    assert (est_cu <= est_cms).all()
    # dominance is elementwise on the tables, not just at query points
    assert (cu.table <= cms.table).all()


def test_cu_merge_preserves_bounds_any_partitioning():
    vals = _zipf_tokens(seed=11)
    true = _true_counts(vals)
    cms_g = CountMin(4, 256)
    cms_g.update_batch(vals)
    for n_parts in (2, 5, 8):
        chunks = np.array_split(vals, n_parts)
        merged = None
        for ch in chunks:
            p = CUCountMin(4, 256)
            p.update_batch(ch)
            merged = p if merged is None else merged.merge(p)
        keys = np.array(list(true), dtype="U")
        exact = np.array([true[k] for k in keys.tolist()])
        assert (merged.estimate(keys) >= exact).all()
        # sum of per-partition CU tables <= partition-independent CMS table
        assert (merged.table <= cms_g.table).all()


def test_cu_roundtrip():
    sk = CUCountMin(3, 128)
    sk.update_batch(np.array(["a", "b", "a", "c"], dtype="U"))
    rt = CUCountMin.from_bytes(sk.to_bytes())
    assert rt.n == sk.n and (rt.table == sk.table).all()


# -------------------------------------------------------- Space-Saving
def test_spacesaving_overestimate_and_no_false_negatives():
    vals = _zipf_tokens(seed=3)
    true = _true_counts(vals)
    m = 64
    ss = SpaceSaving(m)
    for lo in range(0, len(vals), 2777):
        ss.update_batch(vals[lo:lo + 2777])
    n = len(vals)
    assert ss.n == n
    assert ss.min_count() <= n // m + 1  # MG err <= n/(m-1+1) = n/m
    for k, t in true.items():
        est = ss.estimate(k)
        assert t <= est <= t + ss.min_count(), (k, t, est, ss.min_count())
        if t * m > n:  # true > n/m -> guaranteed tracked
            assert ss.is_tracked(k), (k, t)


def test_spacesaving_merge_permutations_guarantee_stable():
    vals = _zipf_tokens(n=8000, seed=19)
    true = _true_counts(vals)
    chunks = np.array_split(vals, 4)
    parts = []
    for ch in chunks:
        p = SpaceSaving(48)
        p.update_batch(ch)
        parts.append(p)
    n = len(vals)
    for perm in itertools.permutations(range(4)):
        merged = SpaceSaving.from_bytes(parts[perm[0]].to_bytes())
        for i in perm[1:]:
            merged.merge(SpaceSaving.from_bytes(parts[i].to_bytes()))
        assert merged.n == n
        for k, t in true.items():
            est = merged.estimate(k)
            assert t <= est <= t + merged.min_count()
            if t * 48 > n:
                assert merged.is_tracked(k)


def test_spacesaving_roundtrip_and_topk():
    ss = SpaceSaving(8)
    ss.update_batch(np.array(["x"] * 10 + ["y"] * 5 + ["z"] * 2, dtype="U"))
    rt = SpaceSaving.from_bytes(ss.to_bytes())
    assert rt.items() == ss.items()
    top = rt.topk(2)
    assert top[0][0] == "x" and top[1][0] == "y"


# ------------------------------------------------------ Lossy Counting
def test_lossy_invariant_single_stream():
    vals = _zipf_tokens(seed=23)
    true = _true_counts(vals)
    eps = 0.005
    lc = LossyCounting(eps)
    for lo in range(0, len(vals), 1999):
        lc.update_batch(vals[lo:lo + 1999])
    n = len(vals)
    assert lc.n == n
    cap = int(eps * n)
    assert (lc.delta <= cap).all()
    for k, t in true.items():
        f = lc.estimate(k)
        d = lc.delta_of(k)
        assert f <= t <= f + d, (k, t, f, d)
        if t > eps * n:  # guaranteed survivor
            assert f > 0, (k, t)


def test_lossy_merge_disjoint_streams_keeps_invariant():
    vals = _zipf_tokens(n=24000, seed=29)
    true = _true_counts(vals)
    eps = 0.004
    for n_parts in (3, 6):
        chunks = np.array_split(vals, n_parts)
        merged = None
        for ch in chunks:
            p = LossyCounting(eps)
            p.update_batch(ch)
            merged = p if merged is None else merged.merge(p)
        n = len(vals)
        assert merged.n == n
        assert (merged.delta <= int(eps * n)).all()
        for k, t in true.items():
            f = merged.estimate(k)
            assert f <= t <= f + merged.delta_of(k), (k, t, f)
            if t > eps * n:
                assert f > 0, (k, t)


def test_lossy_space_stays_bounded_on_uniform_keys():
    # adversarial-ish: all-distinct keys must not accumulate
    eps = 0.01
    lc = LossyCounting(eps)
    for b in range(20):
        keys = np.array([f"u{b}_{i}" for i in range(1000)], dtype="U")
        lc.update_batch(keys)
    # every key has f=1, delta <= eps*n -> pruned once 1+delta <= eps*n;
    # tracked set must stay far below the 20k distinct keys seen
    assert len(lc.keys) < 4000, len(lc.keys)


def test_lossy_roundtrip_and_eps_mismatch():
    lc = LossyCounting(0.01)
    lc.update_batch(np.array(["a", "a", "b"], dtype="U"))
    rt = LossyCounting.from_bytes(lc.to_bytes())
    assert rt.items() == lc.items() and rt.n == lc.n
    with pytest.raises(ValueError):
        rt.merge(LossyCounting(0.02))


# ---------------------------------------------- grouped explode path
def test_grouped_items_mg_matches_driver_side(spark, sf_test):
    """aggregate.grouped_items must emit exactly each group's tracked
    MG set (distributed explode == driver-side decode), bounded by
    groups x k."""
    import pandas as pd
    from pyspark.sql import functions as F

    from q_digest_spark.operators.aggregate import (
        grouped_items,
        grouped_sketch_rows,
    )
    from q_digest_spark.sketches import from_bytes
    from q_digest_spark.sketches.misragries import MisraGries
    from functools import partial

    docs = spark.read.parquet(f"{sf_test}/documents.parquet").where(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    toks = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).where(F.col("tok") != "")
    rows = grouped_sketch_rows(
        toks, ["lang"], "tok", partial(MisraGries, 16)
    ).cache()
    try:
        def mg_items(sk):
            return pd.DataFrame(
                {
                    "token": list(sk.items().keys()),
                    "est": [int(v) for v in sk.items().values()],
                }
            )

        got = {
            (r["lang"], r["token"]): r["est"]
            for r in grouped_items(
                rows, ["lang"], mg_items,
                "token string, est long",
            ).collect()
        }
        want = {}
        for r in rows.collect():
            sk = from_bytes(bytes(r["sketch"]))
            for t, c in sk.items().items():
                want[(r["lang"], t)] = int(c)
        assert got == want and len(got) > 0
    finally:
        rows.unpersist()

"""Q-Digest universe growth and the level-sliced compress.

``QDigest(k, None)`` starts at a 1-bit universe and grows it to each
batch maximum's width, so ``qdigest_of`` needs no max() pass: it is one
Spark job with one stage at every width. ``compress`` must give the
same bytes as the sweep it replaced, which re-sorted every node at each
level; that sweep is kept here as the reference."""

import io
from contextlib import redirect_stdout
from functools import partial

import numpy as np
import pytest
from pyspark.sql import functions as F

from q_digest_spark.sketches import QDigest, qdigest_from_bytes, universe_bits_for
from q_digest_spark.sketches.qdigest import _level_of

U64 = np.uint64


def _reference_compress(ids, counts, n, k):
    """The per-level argsort sweep ``QDigest.compress`` replaced."""
    if k <= 0 or n == 0 or len(ids) == 0:
        return ids, counts
    thr = n // k
    if thr <= 1:
        return ids, counts
    levels = _level_of(ids)
    for d in range(int(levels.max()), 0, -1):
        at = levels == d
        if not at.any():
            continue
        cids, ccnt = ids[at], counts[at]
        parents = cids >> U64(1)
        up, start = np.unique(parents, return_index=True)
        csum = np.add.reduceat(ccnt, start)
        pos = np.searchsorted(ids, up)
        safe = np.minimum(pos, len(ids) - 1)
        pexists = ids[safe] == up
        pcnt = np.where(pexists, counts[safe], 0)
        absorb = (pcnt + csum) < thr
        if not absorb.any():
            continue
        absorbed = up[absorb]
        drop = np.searchsorted(absorbed, parents)
        drop = (drop < len(absorbed)) & (absorbed[np.minimum(drop, len(absorbed) - 1)] == parents)
        keep = np.ones(len(ids), dtype=bool)
        keep[np.flatnonzero(at)[drop]] = False
        keep[pos[absorb][pexists[absorb]]] = False
        all_ids = np.concatenate([ids[keep], absorbed])
        all_cnt = np.concatenate([counts[keep], (pcnt + csum)[absorb]])
        srt = np.argsort(all_ids, kind="stable")
        ids, counts = all_ids[srt], all_cnt[srt]
        levels = _level_of(ids)
    nz = counts > 0
    return ids[nz], counts[nz]


def _exact_rank_err(s, est, p):
    lo, hi = np.searchsorted(s, est, "left"), np.searchsorted(s, est, "right")
    t = p * len(s)
    return 0.0 if lo <= t <= hi else min(abs(lo - t), abs(hi - t)) / len(s)


def test_compress_matches_reference_sweep():
    """Seeded random states: widths 1..40 bits, weighted (zero weights
    included) and unweighted, fresh and partially compressed."""
    rng = np.random.default_rng(20240)
    for case in range(400):
        bits = 1 + case % 40
        n = int(rng.integers(1, 6000))
        scale = int(rng.integers(1, 1 << min(bits, 24)))
        vals = np.minimum((rng.pareto(1.0, n) * scale).astype(np.int64), (1 << bits) - 1)
        weights = rng.integers(0, 20, n) if case % 2 else None
        sk = QDigest(0, bits)
        for part in np.array_split(np.arange(n), 3):
            sk.update_batch(vals[part], None if weights is None else weights[part])
        sk.k = int(rng.integers(1, 200))
        if case % 3 == 0:  # partially compressed: an earlier sweep at a smaller n
            full, sk.n = sk.n, max(1, sk.n // 4)
            sk.compress()
            sk.n = full
        want = _reference_compress(sk.ids, sk.counts, sk.n, sk.k)
        sk.compress()
        assert np.array_equal(sk.ids, want[0]), case
        assert np.array_equal(sk.counts, want[1]), case
        assert sk.ids.dtype == U64 and sk.counts.dtype == np.int64


def test_grows_across_batches_and_merges_to_global_width():
    rng = np.random.default_rng(7)
    batches = [rng.integers(0, 1 << b, 5_000) for b in (3, 11, 17, 9, 20)]
    a = QDigest(64, None)
    assert a.universe_bits == 1
    seen = 0
    for b in batches[:3]:
        a.update_batch(b)
        seen = max(seen, int(b.max()))
        assert a.universe_bits == universe_bits_for(seen)
    c = QDigest(64, None)
    for b in batches[3:]:
        c.update_batch(b)
    assert c.universe_bits == universe_bits_for(max(int(b.max()) for b in batches[3:]))
    a.merge(qdigest_from_bytes(c.to_bytes()))
    allv = np.concatenate(batches)
    assert a.universe_bits == universe_bits_for(int(allv.max()))
    assert a.n == len(allv)
    s = np.sort(allv)
    ps = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    for p, q in zip(ps, a.quantiles(ps)):
        assert _exact_rank_err(s, q, p) <= a.error_bound(), p


def test_growing_sketch_matches_fixed_sketch_in_exact_mode():
    rng = np.random.default_rng(3)
    vals = rng.integers(0, 1 << 18, 20_000)
    grown, fixed = QDigest(0, None), QDigest(0, 18)
    for part in np.array_split(np.sort(vals), 4):  # widths grow batch by batch
        grown.update_batch(part)
        fixed.update_batch(part)
    assert grown.to_bytes() == fixed.to_bytes()


def test_growing_sketch_rejects_negative_and_wide_values_atomically():
    sk = QDigest(32, None)
    sk.update_batch(np.array([5, 9]))
    before = sk.to_bytes()
    for bad in ([3, -1], [1, 1 << 48], [2**48 + 5]):
        with pytest.raises(ValueError):
            sk.update_batch(np.array(bad, dtype=np.int64))
        assert sk.to_bytes() == before
    sk.update_batch(np.array([(1 << 48) - 1]))
    assert sk.universe_bits == 48


def test_growth_survives_copy_but_not_the_wire():
    sk = QDigest(16, None)
    sk.update_batch(np.array([3]))
    cp = sk.copy()
    cp.update_batch(np.array([1000]))
    assert cp.universe_bits == 10
    decoded = qdigest_from_bytes(sk.to_bytes())
    with pytest.raises(ValueError):
        decoded.update_batch(np.array([1000]))


def _jobs(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("bits", [20, 32])
def test_qdigest_of_is_one_job_with_no_exchange(spark, monkeypatch, bits):
    from q_digest_spark.operators import aggregate
    from q_digest_spark.operators.quantiles import qdigest_of

    built = []  # every partial-build frame the call plans; the last one runs

    def spy(*args, **kwargs):
        built.append(partial_sketches(*args, **kwargs))
        return built[-1]

    partial_sketches = aggregate.partial_sketches
    monkeypatch.setattr(aggregate, "partial_sketches", spy)
    df = spark.range(0, 30_000, 1, 12).select(
        F.pmod(F.xxhash64("id", F.lit(bits)), F.lit(1 << bits)).alias("v")
    )
    s = np.sort(df.toPandas()["v"].to_numpy())
    assert spark.sparkContext.defaultParallelism <= 8
    for fanout in (32, 8):  # driver fold, and the coalesced build above fanout
        built.clear()
        before = _jobs(spark)
        sk = qdigest_of(df, "v", k=128, fanout=fanout)
        assert _jobs(spark) - before == 1, fanout
        assert "Exchange" not in _plan_of(built[-1]), fanout
        assert sk.universe_bits == universe_bits_for(int(s[-1]))
        assert sk.n == len(s)
        assert sk.num_nodes <= 3 * 128  # compressed once more at its final n
        for p, q in zip([0.01, 0.5, 0.99], sk.quantiles([0.01, 0.5, 0.99])):
            assert _exact_rank_err(s, q, p) <= sk.error_bound(), (fanout, p)


def test_percentile_transform_runs_no_max_job(spark):
    """With universe_bits=None the per-group digests size themselves:
    the grouped build is the only work before the returned frame is
    used, and each group's universe is its own maximum's width."""
    from q_digest_spark.operators.aggregate import grouped_sketch_rows
    from q_digest_spark.operators.quantiles import percentile_transform

    df = spark.range(0, 4_000, 1, 4).select(
        (F.col("id") % 2).alias("g"), (F.col("id") * (F.col("id") % 2 * 9 + 1)).alias("v")
    )
    before = _jobs(spark)
    out = percentile_transform(df, ["g"], "v", k=0)
    transform_jobs = _jobs(spark) - before
    before = _jobs(spark)
    rows = grouped_sketch_rows(df, ["g"], "v", partial(QDigest, 0, None)).collect()
    assert transform_jobs == _jobs(spark) - before
    pdf = out.toPandas()
    for g, grp in pdf.groupby("g"):
        s = np.sort(grp["v"].to_numpy())
        exact = np.searchsorted(s, grp["v"].to_numpy(), side="right")
        assert np.array_equal(grp["pct_rank_rank"].to_numpy(), exact), g
    mx = df.groupBy("g").agg(F.max("v").alias("mx")).collect()
    want = {r["g"]: universe_bits_for(r["mx"]) for r in mx}
    assert {r["g"]: qdigest_from_bytes(bytes(r["sketch"])).universe_bits for r in rows} == want

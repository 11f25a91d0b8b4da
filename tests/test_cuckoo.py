"""Cuckoo filter: zero false negatives, true deletion, merge parity,
stash discipline, serialization."""

import numpy as np
import pytest

from q_digest_spark.sketches import CuckooFilter, from_bytes


def test_no_false_negatives_and_fpr():
    rng = np.random.default_rng(2)
    keys = rng.choice(10_000_000, 50_000, replace=False).astype(np.int64)
    ck = CuckooFilter(1 << 16)  # load 50k / 262144 slots ~ 0.19
    ck.update_batch(keys)
    assert ck.contains(keys).all()
    absent = np.arange(20_000_000, 20_200_000, dtype=np.int64)
    fp_rate = ck.contains(absent).mean()
    assert fp_rate <= 2 * ck.fpr_bound(), fp_rate


def test_load_half_no_stash_growth():
    """At load 0.5 (n = 2m) the two-round placement should leave at
    most a handful in the stash — pin zero on this seed."""
    m = 1 << 14
    keys = np.arange(2 * m, dtype=np.int64) * 7919 + 13
    ck = CuckooFilter(m)
    ck.update_batch(keys)
    assert len(ck.stash) == 0, len(ck.stash)
    assert abs(ck.load_factor() - 0.5) < 0.01
    assert ck.contains(keys).all()


def test_delete_restores_absence():
    rng = np.random.default_rng(5)
    keys = rng.choice(1_000_000, 20_000, replace=False).astype(np.int64)
    ck = CuckooFilter(1 << 15)
    ck.update_batch(keys)
    gone, kept = keys[:10_000], keys[10_000:]
    ck.remove_batch(gone)
    assert ck.contains(kept).all()  # zero false negatives survive
    assert ck.n == len(kept)
    # deleted keys may still false-positive at the fp rate, no more
    assert ck.contains(gone).mean() <= 2 * ck.fpr_bound()


def test_delete_multiset_duplicates():
    """Insert the same key 3x, delete 2x in ONE batch (conflict-round
    path), one copy must survive."""
    ck = CuckooFilter(1 << 8)
    ck.update_batch(np.array([42, 42, 42], dtype=np.int64))
    ck.remove_batch(np.array([42, 42], dtype=np.int64))
    assert ck.n == 1
    assert ck.contains(np.array([42], dtype=np.int64)).all()
    ck.remove_batch(np.array([42], dtype=np.int64))
    assert not ck.contains(np.array([42], dtype=np.int64)).any()


def test_delete_absent_raises():
    ck = CuckooFilter(1 << 8)
    ck.update_batch(np.array([1, 2, 3], dtype=np.int64))
    with pytest.raises(KeyError):
        ck.remove_batch(np.array([99], dtype=np.int64))


def test_merge_matches_bulk_build():
    rng = np.random.default_rng(9)
    a = rng.choice(5_000_000, 30_000, replace=False).astype(np.int64)
    parts = np.array_split(a, 8)
    sks = []
    for p in parts:
        s = CuckooFilter(1 << 16)
        s.update_batch(p)
        sks.append(s)
    merged = sks[0]
    for s in sks[1:]:
        merged.merge(s)
    bulk = CuckooFilter(1 << 16)
    bulk.update_batch(a)
    probes = np.concatenate([a, np.arange(9_000_000, 9_050_000)])
    assert merged.n == bulk.n == len(a)
    assert merged.contains(a).all()
    # merge and bulk agree everywhere except possible fp-rate noise
    assert (
        merged.contains(probes) != bulk.contains(probes)
    ).mean() <= 2 * bulk.fpr_bound()


def test_roundtrip_bytes():
    rng = np.random.default_rng(1)
    ck = CuckooFilter(1 << 12)
    ck.update_batch(rng.choice(100_000, 5_000, replace=False).astype(np.int64))
    ck2 = from_bytes(ck.to_bytes())
    assert ck2.n == ck.n and ck2.m == ck.m
    probes = np.arange(0, 200_000, dtype=np.int64)
    assert (ck2.contains(probes) == ck.contains(probes)).all()


def test_rejects_bad_m():
    with pytest.raises(ValueError):
        CuckooFilter(1000)  # not a power of two
    with pytest.raises(ValueError):
        CuckooFilter(4)


def test_overflow_raises():
    ck = CuckooFilter(8)  # 32 slots + 128 stash
    with pytest.raises(RuntimeError):
        ck.update_batch(np.arange(2000, dtype=np.int64))


def test_string_keys():
    ck = CuckooFilter(1 << 10)
    keys = np.array([f"url-{i}" for i in range(1000)], dtype=object)
    ck.update_batch(keys)
    assert ck.contains(keys).all()
    ck.remove_batch(keys[:500])
    assert ck.contains(keys[500:]).all()


def test_high_load_eviction():
    """Eviction rounds must sustain the paper's ~0.95 load: insert
    n = 3.8m keys into m buckets (load 0.95) without overflow."""
    m = 1 << 12
    n = int(3.8 * m)
    keys = (np.arange(n, dtype=np.int64) * 6364136223846793005 + 1442695040888963407) % (1 << 40)
    ck = CuckooFilter(m)
    ck.update_batch(keys)
    assert ck.contains(keys).all()
    assert ck.load_factor() >= 0.94


def test_cuckoo_of_spark(spark, sf_test):
    """Distributed one-pass build + map-side probe: every ordering
    custkey must hit; absent keys at the fp rate."""
    from pyspark.sql import functions as F

    from q_digest_spark.operators.membership import cuckoo_probe_column
    from q_digest_spark.operators.quantiles import cuckoo_of

    orders = spark.read.parquet(f"{sf_test}/orders.parquet")
    # distinct first: a cuckoo filter holds at most 2x4 copies of one
    # fingerprint (paper §3) — a key ordering 15 times overflows
    ck = cuckoo_of(
        orders.select("o_custkey").distinct(), "o_custkey",
        m_buckets=1 << 14,
    )
    cust = spark.read.parquet(f"{sf_test}/customer.parquet").select(
        "c_custkey"
    )
    probed = cuckoo_probe_column(cust, "c_custkey", ck, "hit")
    members = (
        orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    )
    joined = probed.join(
        members.withColumn("m", F.lit(True)), "c_custkey", "left"
    )
    row = joined.agg(
        F.sum((F.col("m").isNotNull() & ~F.col("hit")).cast("long")).alias(
            "fn"
        ),
        F.sum((F.col("m").isNull() & F.col("hit")).cast("long")).alias("fp"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert row["fn"] == 0
    assert row["fp"] <= max(10, 2 * ck.fpr_bound() * row["n"])


def test_cuckoo_of_repeated_key(spark):
    """cuckoo_of holds the column's distinct keys: one key repeated 500
    times (past the 2 x 4 slots and the stash of one fingerprint) is
    stored once, and one delete removes it."""
    from pyspark.sql import functions as F

    from q_digest_spark.operators.quantiles import cuckoo_of

    df = spark.range(0, 500, 1, 4).select(F.lit("same-key").alias("k"))
    ck = cuckoo_of(df, "k", m_buckets=1 << 8)
    h = df.limit(1).select(F.xxhash64("k").alias("h")).collect()[0]["h"]
    hashes = np.array([h], dtype=np.int64).view(np.uint64)
    assert ck.n == 1 and ck.contains_hashes(hashes).all()
    ck.remove_hashes(hashes)
    assert not ck.contains_hashes(hashes).any()

def test_delete_batch_is_atomic():
    """A batch mixing present and absent hashes raises and applies no
    delete: the serialized filter (storage, fill, stash, n) is
    unchanged, and the present keys can still be deleted."""
    ck = CuckooFilter(1 << 8)
    present = np.arange(1, 200, dtype=np.int64)
    ck.update_batch(present)
    before = ck.to_bytes()
    with pytest.raises(KeyError, match="not present"):
        ck.remove_batch(np.concatenate([present[:50], [10**12]]))
    assert ck.to_bytes() == before
    assert ck.n == len(present)
    ck.remove_batch(present[:50])
    assert ck.n == len(present) - 50


def test_cuckoo_of_sized_from_member_count(spark):
    """``buckets_for`` sizes the filter from its key count: 70,000
    distinct keys, more than the 4 << 14 slots of a fixed 1 << 14
    buckets (which overflow), all hit after the distributed build."""
    from pyspark.sql import functions as F

    from q_digest_spark.operators.quantiles import cuckoo_of
    from q_digest_spark.sketches.cuckoo import buckets_for

    n = 70_000
    df = spark.range(0, n, 1, 4).select((F.col("id") * 7919).alias("key"))
    h = df.select(F.xxhash64("key").alias("h")).toPandas()["h"].to_numpy(np.int64).view(np.uint64)
    with pytest.raises(RuntimeError):
        CuckooFilter(1 << 14).add_hashes(h)
    m = buckets_for(n)
    assert n > 4 << 14 and n <= 0.9 * 4 * m
    ck = cuckoo_of(df, "key", m_buckets=m)
    assert ck.n == n and ck.contains_hashes(h).all()

"""hash_sample / hash_split: determinism, rate accuracy, disjoint
exhaustive splits, salt independence."""

from pyspark.sql import functions as F

from q_digest_spark.operators.sampling import hash_sample, hash_split


def test_hash_sample_rate_and_determinism(spark):
    df = spark.range(0, 50_000).select(F.col("id"))
    a = hash_sample(df, "id", 0.25)
    n1, n2 = a.count(), hash_sample(df, "id", 0.25).count()
    assert n1 == n2  # pure function of key
    assert abs(n1 / 50_000 - 0.25) < 0.01
    # nested rates: a 0.1 sample is a subset of the 0.25 sample
    small = hash_sample(df, "id", 0.10)
    assert small.join(a, "id", "left_anti").count() == 0


def test_hash_sample_salt_independence(spark):
    df = spark.range(0, 50_000)
    a = set(r["id"] for r in hash_sample(df, "id", 0.2, salt="a").collect())
    b = set(r["id"] for r in hash_sample(df, "id", 0.2, salt="b").collect())
    overlap = len(a & b) / 50_000
    assert abs(overlap - 0.04) < 0.01  # ~rate^2 for independent samples


def test_hash_split_disjoint_exhaustive(spark):
    df = spark.range(0, 30_000)
    tr, va, te = hash_split(df, "id", [0.8, 0.1, 0.1])
    n = [s.count() for s in (tr, va, te)]
    assert sum(n) == 30_000
    assert tr.join(va, "id", "inner").count() == 0
    assert va.join(te, "id", "inner").count() == 0
    assert abs(n[0] / 30_000 - 0.8) < 0.01


def test_hash_sample_full_rate_is_identity(spark):
    df = spark.range(0, 10_000)
    assert hash_sample(df, "id", 1.0).count() == 10_000


def test_bottomk_sample_exact_size_deterministic_and_heap_planned(spark, sf_test):
    from q_digest_spark.operators.sampling import bottomk_sample

    docs = spark.read.parquet(f"{sf_test}/documents.parquet")
    s1 = bottomk_sample(docs, "doc_id", 50)
    ids1 = sorted(r["doc_id"] for r in s1.collect())
    assert len(ids1) == 50
    # deterministic under re-partitioning
    ids2 = sorted(
        r["doc_id"] for r in bottomk_sample(docs.repartition(13), "doc_id", 50).collect()
    )
    assert ids1 == ids2
    # the physical plan is a per-partition top-k, not a global sort
    plan = s1._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    # k > n degrades to the full table
    assert bottomk_sample(docs.limit(7), "doc_id", 100).count() == 7


def test_stratified_sample_per_group_size_and_plan(spark, sf_test):
    from q_digest_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_test}/documents.parquet")
    s = stratified_sample(docs, "lang", "doc_id", 5)
    sizes = {r["lang"]: r["n"] for r in s.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    pops = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sizes == {lang: min(5, n) for lang, n in pops.items()}
    # deterministic
    a = sorted(r["doc_id"] for r in s.collect())
    b = sorted(r["doc_id"] for r in stratified_sample(docs, "lang", "doc_id", 5).collect())
    assert a == b
    # rank filter pushes a per-group limit below the shuffle
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_weighted_sample_matches_numpy_reference_and_distribution(spark):
    """Two halves: (a) the Spark selection equals a numpy replica of
    the exact same md5/ln/quantize formula (so the operator computes
    the A-ES priorities it claims); (b) the formula itself has the
    Efraimidis-Spirakis property — inclusion frequency tracks weight
    — measured over many salts in numpy (cheap), not in Spark."""
    import hashlib

    import numpy as np

    from q_digest_spark.operators.sampling import weighted_sample

    n, k = 200, 20
    weights = np.ones(n)
    weights[:10] = 50.0  # heavy items

    def ref_sample(salt):
        pr = np.empty(n)
        for i in range(n):
            h = int(hashlib.md5(f"{i}:{salt}".encode()).hexdigest()[:8], 16)
            u = (h + 0.5) / 2**32
            pr[i] = round(np.log(u) / weights[i] * 1e9)
        # top-k by (priority desc, id asc)
        order = np.lexsort((np.arange(n), -pr))
        return set(order[:k].tolist())

    df = spark.createDataFrame(
        [(i, float(weights[i])) for i in range(n)], "id long, w double"
    ).repartition(8)
    for salt in ("s0", "alt"):
        got = {
            r["id"] for r in weighted_sample(df, "id", "w", k, salt=salt).collect()
        }
        assert got == ref_sample(salt), salt

    # distribution: heavy items ~26x more likely per unit than light
    hits_heavy = hits_light = 0
    for t in range(300):
        s = ref_sample(f"t{t}")
        hits_heavy += len([i for i in s if i < 10])
        hits_light += len([i for i in s if i >= 10])
    rate_heavy = hits_heavy / (300 * 10)
    rate_light = hits_light / (300 * 190)
    assert rate_heavy > 5 * rate_light, (rate_heavy, rate_light)

    plan = weighted_sample(df, "id", "w", k)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from q_digest_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0)],
        "id long, w double",
    )
    got = {r["id"] for r in weighted_sample(df, "id", "w", 10).collect()}
    assert got == {1, 5}


def test_grouped_split_no_group_leakage(spark):
    from q_digest_spark.operators.sampling import hash_split, split_label

    rows = [(i, f"site{i % 13}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string").repartition(8)
    parts = hash_split(df, "source", [0.7, 0.2, 0.1], salt="gsplit")
    seen = {}
    total = 0
    for si, p in enumerate(parts):
        rs = p.collect()
        total += len(rs)
        for r in rs:
            # leakage-safety: a group never appears in two splits
            assert seen.setdefault(r["source"], si) == si, r["source"]
    assert total == 400  # exhaustive + disjoint

    # split_label reproduces the exact same membership in one pass
    lab = split_label("source", [0.7, 0.2, 0.1], ["s0", "s1", "s2"], salt="gsplit")
    got = {
        (r["source"], r["split"])
        for r in df.withColumn("split", lab).select("source", "split").distinct().collect()
    }
    assert got == {(src, f"s{si}") for src, si in seen.items()}

    # rows of a group all carry the group's split: per-group distinct == 1
    n_pairs = df.withColumn("split", lab).select("source", "split").distinct().count()
    assert n_pairs == 13


def test_split_label_validation(spark):
    import pytest as _pytest

    from q_digest_spark.operators.sampling import split_label

    with _pytest.raises(ValueError):
        split_label("k", [0.5, 0.5], ["a"])
    with _pytest.raises(ValueError):
        split_label("k", [0.5, 0.4], ["a", "b"])


def test_split_label_null_keys_match_hash_split_drop(spark):
    """NULL keys must label NULL (hash_split drops them from every
    split) — not silently land in the last split."""
    from q_digest_spark.operators.sampling import hash_split, split_label

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id long, k string"
    )
    lab = split_label("k", [0.5, 0.5], ["x", "y"])
    got = {r["id"]: r["s"] for r in df.select("id", lab.alias("s")).collect()}
    assert got[2] is None
    total_in_splits = sum(p.count() for p in hash_split(df, "k", [0.5, 0.5]))
    assert total_in_splits == 2  # the NULL-key row is in no split

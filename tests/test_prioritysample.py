"""Priority sampling (Duffield-Lund-Thorup JACM'07): the distributed
operator (operators/sampling.priority_sample / priority_subset_sums),
tested against a numpy re-implementation of its md5 integer-priority
contract (p = floor(w * 2^32 / (h+1)))."""

import hashlib

import numpy as np
from pyspark.sql import functions as F

W = np.random.default_rng(7).integers(1, 2000, 4000)


def _md5_priorities(keys, weights, salt):
    out = []
    for k, w in zip(keys, weights):
        h = int(hashlib.md5(f"{k}:{salt}".encode()).hexdigest()[:8], 16)
        out.append((int(w) << 32) // (h + 1))
    return out


def test_operator_matches_reference_contract(spark):
    """priority_sample's JVM plan reproduces the md5 integer-priority
    contract computed independently in Python."""
    from q_digest_spark.operators.sampling import priority_sample

    rows = [(i, f"d{i}", int(W[i])) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, name string, w long")
    got = priority_sample(df, "doc_id", "w", 20, salt="t1").collect()
    assert len(got) == 21
    ps = _md5_priorities([r[0] for r in rows], [r[2] for r in rows], "t1")
    order = sorted(range(300), key=lambda i: (-ps[i], rows[i][0]))[:21]
    assert [r["doc_id"] for r in got] == [rows[i][0] for i in order]
    assert [r["__p"] for r in got] == [ps[i] for i in order]


def test_subset_sums_exact_regime_and_estimator(spark):
    from q_digest_spark.operators.sampling import priority_subset_sums

    rows = [(i, "g" + str(i % 3), int(W[i])) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, g string, w long")
    # k >= n: tau = 0, estimates are the exact group sums
    exact = {}
    for i, g, w in rows:
        exact[g] = exact.get(g, 0) + w
    got = {
        r["g"]: r["est_sum"]
        for r in priority_subset_sums(df, "doc_id", "w", ["g"], k=500).collect()
    }
    assert got == exact
    # k < n: estimates match the python DLT estimator on md5 priorities
    ps = _md5_priorities([r[0] for r in rows], [r[2] for r in rows], "ps")
    order = sorted(range(200), key=lambda i: (-ps[i], rows[i][0]))
    tau = ps[order[24]]
    want = {}
    for i in order[:24]:
        g, w = rows[i][1], rows[i][2]
        want[g] = want.get(g, 0) + max(w, tau)
    got = {
        r["g"]: r["est_sum"]
        for r in priority_subset_sums(df, "doc_id", "w", ["g"], k=24).collect()
    }
    assert got == want


def test_operator_plan_is_take_ordered(spark):
    """The top-(k+1) must compile to TakeOrderedAndProject (per-
    partition heaps), never a global Sort + Exchange."""
    from q_digest_spark.operators.sampling import priority_sample

    df = spark.range(10000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 1).alias("w")
    )
    plan = priority_sample(df, "doc_id", "w", 64)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan

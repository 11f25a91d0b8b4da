"""Super-spreader ranking: per-entity distinct cardinality from
grouped Theta sketches, ranked by the ESTIMATE (the at-scale shape
where exact countDistinct per entity never runs)."""

from functools import partial

from pyspark.sql import functions as F


def _rows():
    # entity i touches i+1 distinct days (0..59): a linear skew so the
    # top-10 ranking is unambiguous, plus a tie pair at the boundary
    out = []
    for uid in range(60):
        for d in range(uid + 1):
            out.append((uid, f"2024-01-{d % 28 + 1:02d}-{d // 28}"))
    return out


def test_estimate_ranked_topk_matches_exact(spark):
    from q_digest_spark.operators.aggregate import (
        grouped_estimates,
        grouped_sketch_rows,
    )
    from q_digest_spark.operators.quantiles import HashedTheta

    df = spark.createDataFrame(_rows(), "user_id long, tag string").select(
        "user_id", F.xxhash64("tag").alias("h"), "tag"
    )
    rows = grouped_sketch_rows(
        df, ["user_id"], "h", partial(HashedTheta, 4096)
    )
    ests = grouped_estimates(
        rows, ["user_id"],
        estimator=lambda sk: sk.estimate(),
    )
    got = (
        ests.orderBy(F.col("est").desc(), F.col("user_id").asc())
        .limit(10)
        .collect()
    )
    # KMV-exact regime: estimate equals the true distinct count, so
    # the estimate-ranked top-10 is exactly the true top-10
    assert [r["user_id"] for r in got] == list(range(59, 49, -1))
    assert [int(round(r["est"])) for r in got] == list(range(60, 50, -1))

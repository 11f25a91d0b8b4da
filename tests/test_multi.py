"""Fused multi-sketch aggregation: one pass, N sketches, results
identical to the separate single-sketch pipelines."""

from functools import partial

import pytest
from pyspark.sql import functions as F

from q_digest_spark.operators.multi import SketchSpec, multi_sketch_aggregate
from q_digest_spark.operators.quantiles import (
    HashedCMS,
    HashedHLL,
    hashed_cms_from_bytes,
    hashed_hll_from_bytes,
    hll_of,
    qdigest_of,
)
from q_digest_spark.sketches import QDigest, qdigest_from_bytes


def test_multi_matches_singles(spark, sf_test):
    docs = spark.read.parquet(f"{sf_test}/documents.parquet")
    specs = {
        "len_q": SketchSpec(
            F.col("n_chars").cast("long"), partial(QDigest, 0, 16), qdigest_from_bytes
        ),
        "distinct_ids": SketchSpec(
            F.xxhash64("doc_id"), partial(HashedHLL, 14), hashed_hll_from_bytes
        ),
        "src_freq": SketchSpec(
            F.xxhash64("source"), partial(HashedCMS, 5, 2048), hashed_cms_from_bytes
        ),
    }
    out = multi_sketch_aggregate(docs, specs, fanout=8)
    assert set(out) == set(specs)

    # identical to the standalone pipelines
    single_q = qdigest_of(docs, "n_chars", k=0, universe_bits=16)
    assert out["len_q"].quantiles([0.5, 0.9, 0.99]) == single_q.quantiles([0.5, 0.9, 0.99])
    single_h = hll_of(docs, "doc_id", p=14)
    assert abs(out["distinct_ids"].sketch.estimate() - single_h.estimate()) < 1e-9
    exact = docs.count()
    assert abs(out["distinct_ids"].sketch.estimate() - exact) / exact < 0.03
    # CMS total mass equals row count
    assert out["src_freq"].sketch.n == exact


def test_multi_scan_reads_only_needed_columns(spark, sf_test):
    import io
    from contextlib import redirect_stdout

    docs = spark.read.parquet(f"{sf_test}/documents.parquet")
    specs = {
        "len_q": SketchSpec(
            F.col("n_chars").cast("long"), partial(QDigest, 0, 16), qdigest_from_bytes
        ),
        "distinct_ids": SketchSpec(
            F.xxhash64("doc_id"), partial(HashedHLL, 12), hashed_hll_from_bytes
        ),
    }
    from q_digest_spark.operators.multi import MULTI_PARTIAL_SCHEMA  # noqa: F401

    cols = [
        (F.col(s.col) if isinstance(s.col, str) else s.col).alias(f"__v_{n}")
        for n, s in specs.items()
    ]
    plan_df = docs.select(*cols)
    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain("formatted")
    scan = [l for l in buf.getvalue().splitlines() if "ReadSchema" in l][0]
    assert "n_chars" in scan and "doc_id" in scan
    assert "text" not in scan and "source" not in scan


def test_grouped_weighted_null_weights_dropped(spark):
    """A (value, NULL-weight) pair must be dropped, not crash the int
    cast or poison counts."""
    from functools import partial

    from q_digest_spark.operators.aggregate import grouped_sketch_rows
    from q_digest_spark.sketches import QDigest, qdigest_from_bytes

    df = spark.createDataFrame(
        [("a", 1, 5), ("a", 2, None), ("a", 3, 5), ("b", 7, None)],
        "k string, v long, w long",
    ).repartition(2)
    rows = grouped_sketch_rows(
        df, ["k"], "v", partial(QDigest, 0, 4), weight_col="w"
    ).collect()
    got = {r["k"]: r for r in rows}
    assert got["a"]["rows"] == 10  # two valid pairs x weight 5
    sk = qdigest_from_bytes(bytes(got["a"]["sketch"]))
    assert sk.percentile(0.5) == 1 and sk.percentile(0.99) == 3
    assert "b" not in got  # its only pair had a NULL weight

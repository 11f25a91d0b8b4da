"""sliding_window_rows: all trailing windows from the stored daily
sketch table in one distributed pass — parity with per-window direct
merges, window membership, and HLL bit-identity per window."""

import datetime

import pytest
from pyspark.sql import functions as F

from q_digest_spark.operators.incremental import (
    merge_sketch_range,
    sliding_window_rows,
    write_daily_sketches,
)
from q_digest_spark.sketches import HLL, from_bytes


@pytest.fixture(scope="module")
def daily_path(spark, sf_test, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("daily") / "hll")
    df = spark.read.parquet(f"{sf_test}/events.parquet").where(
        F.col("ts").isNotNull()
    )
    write_daily_sketches(df, "ts", "user_id", HLL, path)
    return path


def test_windows_match_direct_range_merges(spark, daily_path):
    wins = {
        r["win_end"]: bytes(r["sketch"])
        for r in sliding_window_rows(
            spark, daily_path, window_days=3
        ).collect()
    }
    days = sorted(
        r["day"] for r in spark.read.parquet(daily_path).select("day").distinct().collect()
    )
    assert set(wins) == set(days)  # one window per stored day
    for end in days:
        lo = (end - datetime.timedelta(days=2)).isoformat()
        direct = merge_sketch_range(
            spark, daily_path, lo, end.isoformat()
        )
        # HLL state is element-wise max: merge order is irrelevant and
        # the distributed window merge is bit-identical to the direct one
        assert (
            from_bytes(wins[end]).estimate() == direct.estimate()
        ), end


def test_window_rows_counts(spark, daily_path):
    daily = {
        r["day"]: r["rows"]
        for r in spark.read.parquet(daily_path).select("day", "rows").collect()
    }
    wins = sliding_window_rows(
        spark, daily_path, window_days=3
    ).collect()
    for r in wins:
        expect = sum(
            daily.get(r["win_end"] - datetime.timedelta(days=i), 0)
            for i in range(3)
        )
        assert r["rows"] == expect


def test_window_of_one_day_equals_daily(spark, daily_path):
    wins = {
        r["win_end"]: bytes(r["sketch"])
        for r in sliding_window_rows(
            spark, daily_path, window_days=1
        ).collect()
    }
    for r in spark.read.parquet(daily_path).collect():
        assert (
            from_bytes(wins[r["day"]]).estimate()
            == from_bytes(bytes(r["sketch"])).estimate()
        )


def test_sliding_qdigest_exact_mode_windowed_median(spark, tmp_path):
    """Exact-mode (k=0) Q-Digest through the sliding machinery: each
    3-day window's merged percentile must equal the exact median of
    that window's raw values (the sliding_p50_cents contract). A
    compressed (k>0) table of the same rows must fold the same way on
    every call."""
    import math

    import pandas as pd
    from functools import partial

    from q_digest_spark.sketches import QDigest, qdigest_from_bytes

    rng = __import__("numpy").random.RandomState(7)
    days = [datetime.date(2024, 3, d) for d in range(1, 9)]
    rows = []
    for i, d in enumerate(days):
        for v in rng.randint(0, 5000, 40 + 13 * i):
            rows.append((datetime.datetime.combine(d, datetime.time(12)), int(v)))
    sdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["ts", "v"])
    ).repartition(4)

    path = str(tmp_path / "daily_qd")
    write_daily_sketches(
        sdf, "ts", "v", partial(QDigest, 0, 13), path
    )
    wins = sliding_window_rows(spark, path, window_days=3)

    by_day = {}
    for ts, v in rows:
        by_day.setdefault(ts.date(), []).append(v)
    for r in wins.collect():
        vals = sorted(
            v
            for i in range(3)
            for v in by_day.get(r["win_end"] - datetime.timedelta(days=i), [])
        )
        rank = max(1, math.ceil(0.5 * len(vals)))
        got = qdigest_from_bytes(bytes(r["sketch"])).percentile(0.5)
        assert got == vals[rank - 1], (r["win_end"], got, vals[rank - 1])
        assert r["rows"] == len(vals)

    # compressed (k>0): every fold runs in day order, so two calls give
    # the same bytes and a window equals the direct merge of its days
    cpath = str(tmp_path / "daily_qd_k8")
    write_daily_sketches(
        sdf, "ts", "v", partial(QDigest, 8, 13), cpath
    )
    a, b = (
        {
            r["win_end"]: bytes(r["sketch"])
            for r in sliding_window_rows(
                spark, cpath, window_days=3
            ).collect()
        }
        for _ in range(2)
    )
    assert a == b and set(a) == set(days)
    for end in days:
        lo = (end - datetime.timedelta(days=2)).isoformat()
        direct = [
            merge_sketch_range(spark, cpath, lo, end.isoformat())
            for _ in range(2)
        ]
        assert direct[0].to_bytes() == direct[1].to_bytes() == a[end], end

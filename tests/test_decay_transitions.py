"""Time-decayed counting (operators/decay.py), Markov transition
counts (operators/events.transition_counts), and universe-sampling
join-size estimation (operators/sampling.universe_join_size): local
integer oracles, edge cases (age clamps, ties, weight exhaustion),
and the unbiasedness identity on a full-universe rate."""

import datetime as dt

from pyspark.sql import functions as F

from q_digest_spark.operators.decay import (
    decayed_scores,
    decayed_weight,
)
from q_digest_spark.operators.events import transition_counts
from q_digest_spark.operators.sampling import universe_join_size

T0 = dt.datetime(2024, 3, 31, 12, 0, 0)  # ref day 2024-03-31


def _ev(days_ago, u=1):
    return (u, T0 - dt.timedelta(days=days_ago))


def _local_weight(days_ago, h=7, horizon=28):
    scale = 1 << (horizon // h)
    k = max(days_ago, 0) // h
    return scale >> k if k <= horizon // h else 0


def test_decayed_weight_step_table(spark):
    # one event per age 0..40: weight follows 16 >> (d // 7), hitting
    # the exhaustion edge (d >= 35 -> 0) and both bucket boundaries
    rows = [(d, T0 - dt.timedelta(days=d)) for d in range(41)]
    df = spark.createDataFrame(rows, "age int, ts timestamp")
    w = decayed_weight("ts", F.lit(dt.date(2024, 3, 31)), 7, 28)
    got = {r["age"]: r["w"] for r in df.select("age", w.alias("w")).collect()}
    for d in range(41):
        assert got[d] == _local_weight(d), d
    assert got[0] == 16 and got[6] == 16 and got[7] == 8
    assert got[28] == 1 and got[34] == 1 and got[35] == 0 and got[40] == 0


def test_decayed_weight_future_event_clamps(spark):
    df = spark.createDataFrame(
        [(T0 + dt.timedelta(days=3),)], "ts timestamp"
    )
    w = decayed_weight("ts", F.lit(dt.date(2024, 3, 31)), 7, 28)
    assert df.select(w.alias("w")).collect()[0]["w"] == 16


def test_decayed_scores_and_topk_match_local(spark):
    # three users, mixed ages; ref day inferred as the max event day
    rows = (
        [_ev(0, 1), _ev(1, 1), _ev(10, 1)]          # 16+16+8 = 40
        + [_ev(0, 2), _ev(21, 2), _ev(30, 2)]        # 16+2+1 = 19
        + [_ev(3, 3), _ev(3, 3), _ev(8, 3)]          # 16+16+8 = 40
        + [(None, T0), (4, None)]                     # null key / null ts drop
    )
    df = spark.createDataFrame(rows, "u long, ts timestamp")
    got = {
        r["u"]: r["decayed_score"]
        for r in decayed_scores(df, "u", "ts", 7, 28).collect()
    }
    assert got == {1: 40, 2: 19, 3: 40}


def test_transition_counts_local_oracle(spark):
    rows = [
        (1, _t, s, i)
        for i, (_t, s) in enumerate(
            [(T0, "a"), (T0 + dt.timedelta(hours=1), "b"),
             (T0 + dt.timedelta(hours=2), "a")]
        )
    ] + [
        (2, T0, "b", 10),
        (2, T0, "a", 11),   # same ts: tie broken by id -> b->a
        (3, T0, "a", 20),   # singleton user: no transition
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, s string, eid long")
    got = {
        (r["src"], r["dst"]): r["n"]
        for r in transition_counts(df, "u", "ts", "s", "eid").collect()
    }
    assert got == {("a", "b"): 1, ("b", "a"): 2}


def test_transition_counts_drops_nulls(spark):
    rows = [
        (1, T0, "a", 0),
        (1, T0 + dt.timedelta(hours=1), None, 1),  # null state dropped:
        (1, T0 + dt.timedelta(hours=2), "b", 2),   # a->b is adjacent
        (None, T0, "a", 3),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, s string, eid long")
    got = {
        (r["src"], r["dst"]): r["n"]
        for r in transition_counts(df, "u", "ts", "s", "eid").collect()
    }
    assert got == {("a", "b"): 1}


def test_universe_join_size_full_rate_is_exact(spark):
    a = spark.range(0, 100).select(F.col("id").alias("k"))
    b = spark.range(0, 200).select((F.col("id") % 100).alias("k"))
    row = universe_join_size(a, b, "k", inv_rate=1).collect()[0]
    assert row["sampled_pairs"] == 200 and row["est_pairs"] == 200


def test_universe_join_size_sampled_subset_and_scale(spark):
    import hashlib

    a = spark.range(0, 400).select(F.col("id").alias("k"))
    b = spark.range(0, 400).select(F.col("id").alias("kb"))
    row = universe_join_size(a, b, "k", "kb", inv_rate=16).collect()[0]
    thr = format((1 << 32) // 16, "08x")
    kept = sum(
        1
        for i in range(400)
        if hashlib.md5(f"{i}:uj".encode()).hexdigest()[:8] < thr
    )
    assert row["sampled_pairs"] == kept
    assert row["est_pairs"] == 16 * kept


def test_universe_join_size_rejects_non_power_of_two(spark):
    import pytest

    a = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        universe_join_size(a, a, "k", inv_rate=10)


def test_path_counts_depth3_local_oracle(spark):
    from q_digest_spark.operators.events import path_counts

    rows = []
    # user 1: a,b,a,b -> paths a>b>a, b>a>b
    for i, s in enumerate(["a", "b", "a", "b"]):
        rows.append((1, i, s))
    # user 2: same-timestamp pair ordered by event_id tie
    rows += [(2, 0, "x"), (2, 0, "y"), (2, 1, "z")]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "user_id long, k long, event_type string") \
        .select("user_id",
                F.expr("timestamp '2024-01-01' + make_interval(0,0,0,0,0,0,k)").alias("ts"),
                F.col("k").alias("event_id"), "event_type")
    got = {r["path"]: r["n"]
           for r in path_counts(df, "user_id", "ts", "event_type",
                                depth=3, tie_col="event_id").collect()}
    assert got == {"a>b>a": 1, "b>a>b": 1, "x>y>z": 1}


def test_path_counts_depth2_equals_transitions(spark):
    from q_digest_spark.operators.events import path_counts, transition_counts

    rows = [(u, float(i), s) for u in (1, 2)
            for i, s in enumerate(["a", "b", "b", "c"])]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "user_id long, o double, event_type string") \
        .select("user_id", F.expr("timestamp '2024-01-01' + make_interval(0,0,0,0,0,0,o)").alias("ts"), "event_type")
    p = {r["path"]: r["n"] for r in path_counts(df, "user_id", "ts", "event_type", depth=2).collect()}
    t = {f'{r["src"]}>{r["dst"]}': r["n"] for r in transition_counts(df, "user_id", "ts", "event_type").collect()}
    assert p == t

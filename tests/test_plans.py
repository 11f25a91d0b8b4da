"""Physical-plan quality gates: the engine must produce the plans a
100 TB deployment needs — column-pruned scans, pushed filters, and no
full-width reads feeding the sketch UDFs."""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from q_digest_spark.operators.aggregate import SketchSpec, partial_sketches
from q_digest_spark.sketches import QDigest


def _plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _n_chars_partials(docs):
    spec = SketchSpec(F.col("n_chars").cast("long"), lambda: QDigest(0, 20), None)
    return partial_sketches(docs, {"v": spec})


def test_sketch_scan_prunes_columns(spark, sf_test):
    """The partial-build stage over documents must read ONLY n_chars —
    never text/lang/source. A scan that reads all columns for a
    1-column sketch would move ~100x the bytes at corpus scale."""
    docs = spark.read.parquet(f"{sf_test}/documents.parquet")
    partials = _n_chars_partials(docs)
    plan = _plan_of(partials)
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan, plan
    assert "n_chars" in scan[0]
    for col in ("text", "lang", "source", "doc_id"):
        assert col not in scan[0], f"scan reads unnecessary column {col}: {scan[0]}"


def test_filter_pushdown_reaches_scan(spark, sf_test):
    """A lang filter upstream of the sketch build must appear in
    PushedFilters (partition/row-group pruning at the source)."""
    docs = spark.read.parquet(f"{sf_test}/documents.parquet").where(F.col("lang") == "en")
    partials = _n_chars_partials(docs)
    plan = _plan_of(partials)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, plan
    assert "lang" in pushed[0], pushed[0]


def test_two_level_merge_shuffles_only_sketch_rows(spark, sf_test):
    """The only exchange in the aggregation pipeline must sit ABOVE the
    partial-build (i.e., it shuffles sketch rows, not input rows):
    the plan has exactly one shuffle and its child contains the UDF."""
    from q_digest_spark.operators.aggregate import tree_merge
    from q_digest_spark.sketches import qdigest_from_bytes

    docs = spark.read.parquet(f"{sf_test}/documents.parquet")
    partials = _n_chars_partials(docs)
    merged = tree_merge(partials, qdigest_from_bytes, fanout=8)
    plan = _plan_of(merged)
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 2, f"too many shuffles in sketch pipeline:\n{plan}"
    # the scan side of the exchange is the mapInPandas partial build
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan or "mapInPandas" in plan


def test_broadcastable_small_dim(spark, sf_test):
    """Joins against small dims must go broadcast (no shuffle of the
    big side) — AQE or static planning, either is fine."""
    orders = spark.read.parquet(f"{sf_test}/orders.parquet")
    nation = spark.read.parquet(f"{sf_test}/customer.parquet")
    j = orders.join(F.broadcast(nation), orders.o_custkey == nation.c_custkey)
    plan = _plan_of(j)
    assert "BroadcastHashJoin" in plan


def test_hash_sample_plan_is_jvm_only(spark, sf_test):
    """Deterministic sampling must stay whole-stage codegen: pruned
    single-column scan, a codegen Filter, no shuffle, no Python."""
    from q_digest_spark.operators.sampling import hash_sample

    docs = spark.read.parquet(f"{sf_test}/documents.parquet")
    plan = _plan_of(hash_sample(docs, "doc_id", 0.25).select("doc_id"))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "MapInPandas" not in plan, plan
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "doc_id" in scan[0] and "text" not in scan[0], scan


def test_cms_topk_partials_single_pass(spark, sf_test):
    """Heavy-hitter candidates (keys included) and CMS partials come
    from ONE scan, and with <= fanout input partitions the whole call —
    build, driver scoring and the collect of the returned DataFrame —
    is ONE Spark job: no persist, second scan, distinct or key join."""
    from q_digest_spark.operators.heavy_hitters import cms_topk_with_keys

    events = spark.read.parquet(f"{sf_test}/events.parquet").select("user_id")
    scanned = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            scanned.add(len(pdf))
            yield pdf

    counted = events.mapInPandas(count_rows, "user_id long")
    jobs = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    before = jobs()
    top = cms_topk_with_keys(counted, "user_id", k=5).collect()
    assert jobs() - before == 1
    assert len(top) == 5
    assert scanned.value == events.count()


def test_theta_scan_prunes_columns(spark, sf_test):
    """theta_of over events.user_id must read ONLY user_id (prehash
    happens JVM-side on the pruned column)."""
    from functools import partial

    from q_digest_spark.operators.quantiles import HashedTheta

    events = spark.read.parquet(f"{sf_test}/events.parquet")
    partials = partial_sketches(
        events, {"v": SketchSpec(F.xxhash64("user_id"), partial(HashedTheta, 1024), None)}
    )
    plan = _plan_of(partials)
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan, plan
    assert "user_id" in scan[0]
    for col in ("event_type", "value", "props", "ts"):
        assert col not in scan[0], f"scan reads unnecessary column {col}: {scan[0]}"


def test_lsh_near_dup_plan_is_equi_join(spark, sf_test):
    """The bucketed near-dup candidate join must be an equi-join on
    the bucket key (shuffle hash / sort-merge), never a cartesian or
    nested-loop product."""
    from q_digest_spark.operators.similarity import lsh_near_dup_pairs

    emb = spark.read.parquet(f"{sf_test}/embeddings.parquet")
    plan = lsh_near_dup_pairs(emb, "vec_id", "embedding", 0.8)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_trimmed_mean_has_no_global_window_sort():
    """Regression guard for the r02 scale-killer: the graded trimmed
    mean must never rank the whole table through one task — the
    distributed path is trimmed_mean_exact, not Window.orderBy."""
    import inspect

    import __spark_entry__ as E

    src = inspect.getsource(E.q_tdigest_trimmed_mean)
    assert "Window" not in src and "row_number" not in src


def test_order_stat_refinement_plan_is_bounded_topk(spark, sf_test):
    """The bracket-refinement collect inside exact_order_statistics is
    groupBy + orderBy + limit: Spark plans the limit as
    TakeOrderedAndProject (per-partition heaps, driver sees <= limit
    rows) — no global sort Exchange ever materializes."""
    df = (
        spark.read.parquet(f"{sf_test}/events.parquet")
        .select(F.col("value").alias("__v"))
        .where(F.col("__v").isNotNull())
    )
    refined = (
        df.groupBy("__v").agg(F.count(F.lit(1)).alias("cnt")).orderBy("__v").limit(100)
    )
    plan = refined._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_entropy_plan_partial_agg_no_python(spark, sf_test):
    """token_entropy must be pure JVM (no Python runner in the plan)
    with partial aggregation before each exchange — at corpus scale
    the (group, term) shuffle must carry collapsed counts, not raw
    token rows."""
    from q_digest_spark.operators.entropy import token_entropy

    docs = spark.read.parquet(f"{sf_test}/documents.parquet")
    plan = _plan_of(token_entropy(docs, "text", "lang"))
    assert "InPandas" not in plan and "BatchEvalPython" not in plan, plan
    assert "partial_count" in plan or "HashAggregate" in plan, plan
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "text" in scan[0] and "lang" in scan[0]
    assert "doc_id" not in scan[0], scan[0]


def test_guaranteed_heavy_is_bounded_and_broadcast(spark):
    """The MG exact-verification side (guaranteed_heavy) must never
    ship the vocabulary to the driver: the threshold filter runs in
    Spark against a BROADCAST 1-row total, so the result is pigeonhole-
    bounded to <= k rows no matter how large the vocabulary is."""
    from q_digest_spark.operators.heavy_hitters import guaranteed_heavy

    # 5000-key vocabulary, three genuinely heavy keys
    rows = [(f"tail{i}",) for i in range(5000)]
    rows += [("hot_a",)] * 4000 + [("hot_b",)] * 3000 + [("hot_c",)] * 2500
    df = spark.createDataFrame(rows, "tok string").repartition(8)
    k = 8
    heavy = guaranteed_heavy(df, "tok", k)
    plan = _plan_of(heavy)
    # total joins in via broadcast (1-row cross join), never a shuffle join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    got = {r["key"]: r["exact_count"] for r in heavy.collect()}
    n = 5000 + 4000 + 3000 + 2500
    assert len(got) <= k
    assert got == {
        key: cnt
        for key, cnt in (("hot_a", 4000), ("hot_b", 3000), ("hot_c", 2500))
        if cnt * (k + 1) > n
    }


def test_semantic_dedup_plan_jvm_only_no_cartesian(spark):
    """semantic_dedup's claims, pinned: assignment + cosine are pure
    JVM column algebra (no Python eval nodes anywhere in the plan)
    and the dedup join is a keyed join on the cell, never a cartesian
    or broadcast nested loop."""
    import numpy as np

    from q_digest_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(2)
    rows = [(i, rng.randn(8).tolist()) for i in range(64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(emb, "vec_id", "embedding", n_seeds=4, tau=0.8)
    plan = _plan_of(out)
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, f"{bad} in semantic_dedup plan:\n{plan}"


def test_maximal_spans_plan_jvm_only_per_doc_window(spark, sf_test):
    """duplicate_maximal_spans: all-JVM (no Python eval anywhere),
    no cartesian, and the gaps-and-islands merge runs in a Window —
    whose exchange the span groupBy reuses (no extra shuffle between
    the window and the (id, grp) aggregation)."""
    from q_digest_spark.operators.contamination import duplicate_maximal_spans

    docs = spark.read.parquet(f"{sf_test}/documents.parquet").where(
        F.col("text").isNotNull()
    )
    sp = duplicate_maximal_spans(docs, "text", "doc_id", n=4, min_tokens=20)
    plan = _plan_of(sp)
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, f"{bad} in spans plan:\n{plan}"
    assert "Window" in plan


def test_split_label_plan_is_jvm_only_no_shuffle(spark, sf_test):
    """Group-aware split labeling is a pure codegen'd expression: the
    labeled projection itself has ZERO exchanges and zero Python nodes
    — the only shuffle in the counts query is the final tiny groupBy."""
    from q_digest_spark.operators.sampling import split_label

    docs = spark.read.parquet(f"{sf_test}/documents.parquet")
    lab = split_label("source", [0.8, 0.1, 0.1], ["train", "val", "test"])
    labeled = docs.select("source", lab.alias("split"))
    plan = _plan_of(labeled)
    assert "Exchange" not in plan, plan
    for node in ("Python", "MapInPandas", "BatchEvalPython"):
        assert node not in plan, plan
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "source" in scan[0] and "text" not in scan[0], scan


def test_counting_bloom_pipeline_shuffles_only_sketch_rows(spark, sf_test):
    """The signed insert/delete union must aggregate with ONE exchange
    above the partial build — raw keys never shuffle."""
    from q_digest_spark.operators.aggregate import tree_merge
    from q_digest_spark.operators.quantiles import (
        HashedCountingBloom,
        hashed_counting_bloom_from_bytes,
    )

    orders = spark.read.parquet(f"{sf_test}/orders.parquet")
    ins = orders.select(F.xxhash64("o_custkey").alias("key"), F.lit(1).alias("w"))
    dels = orders.where(F.col("o_orderstatus") == "F").select(
        F.xxhash64("o_custkey").alias("key"), F.lit(-1).alias("w")
    )
    partials = partial_sketches(
        ins.unionByName(dels),
        {"v": SketchSpec("key", lambda: HashedCountingBloom(1 << 12, 5), None, "w")},
    )
    merged = tree_merge(partials, hashed_counting_bloom_from_bytes, fanout=8)
    plan = _plan_of(merged)
    assert plan.count("Exchange") <= 2, plan
    assert "MapInPandas" in plan or "mapInPandas" in plan


def test_funnel_plan_one_data_shuffle_all_jvm(spark, sf_test):
    """The funnel's event table must shuffle exactly ONCE (the per-user
    groupBy) — not once per step like the k-join formulation — and the
    greedy walk is a codegen'd fold, zero Python nodes."""
    from q_digest_spark.operators.events import funnel_counts

    ev = spark.read.parquet(f"{sf_test}/events.parquet")
    out = funnel_counts(ev, "user_id", "ts", "event_type",
                        ["view", "click", "purchase"])
    plan = _plan_of(out)
    # no Python EXECUTION nodes (the 3-row step-index literal DF shows
    # an applySchemaToPythonRDD provenance string — that's driver-side
    # construction, not a per-row UDF)
    for node in ("PythonUDF", "MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, plan
    # data exchanges: per-user groupBy + the 3-row final agg — the
    # k-join shape would add one exchange per funnel step (broadcast
    # of the 3-row step index is free and excluded)
    import re

    data_exchanges = set(re.findall(r"\((\d+)\) Exchange\b", plan))
    assert len(data_exchanges) <= 2, (data_exchanges, plan)
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "props" not in scan[0], scan  # column pruning holds


def test_pair_join_queries_never_cartesian(spark, sf_test):
    """The blocking/self-join stages of the new pair queries must plan
    as hash equi-joins — a CartesianProduct or nested-loop join here
    is the all-pairs scale-killer the designs exist to avoid."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    for name in ("editdistance_verified_dups", "cooccur_top_pairs",
                 "wminhash_dup_pairs", "triangle_parts"):
        df = E.queries()[name](spark, sf_test)
        plan = _plan_of(df)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_universe_join_sample_filters_sit_on_the_scans(spark, sf_test):
    """universe_join_size must push the hash-sample predicate BELOW
    each side's shuffle — that is its whole point: the join's Exchange
    carries 1/inv_rate of the input. In the optimized plan each
    parquet Relation must be consumed DIRECTLY by its md5-threshold
    Filter (scan -> Filter), and the join must stay an inner
    equi-join."""
    from q_digest_spark.operators.sampling import universe_join_size

    o = spark.read.parquet(f"{sf_test}/orders.parquet")
    li = spark.read.parquet(f"{sf_test}/lineitem.parquet")
    df = universe_join_size(o, li, "o_orderkey", "l_orderkey", inv_rate=16)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    lines = opt.splitlines()
    rel_idx = [i for i, ln in enumerate(lines) if "Relation [" in ln]
    assert len(rel_idx) == 2, opt
    for i in rel_idx:  # the operator feeding on the scan is the Filter
        assert "md5" in lines[i - 1] and "Filter" in lines[i - 1], opt
    assert "Join Inner" in opt and "Cross" not in opt, opt


def test_decayed_scores_single_shuffle_partial_agg(spark, sf_test):
    """decayed_scores is one groupBy with map-side combine: exactly
    one Exchange over the key, partial HashAggregate below it, and
    zero Python (the weight CASE is codegen'd)."""
    from q_digest_spark.operators.decay import decayed_scores

    ev = spark.read.parquet(f"{sf_test}/events.parquet")
    df = decayed_scores(ev, "user_id", "ts", 7, 28)
    plan = _plan_of(df)
    assert plan.count("hashpartitioning(") == 1, plan
    assert "HashAggregate" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "partial_sum" in plan.lower() or "Partial" in plan, plan


def test_transition_counts_one_user_shuffle_all_jvm(spark, sf_test):
    """transition_counts: the window partitions by user (one data
    Exchange); the (src,dst) groupBy reshuffles only pair rows whose
    cardinality is |states|^2 after the map-side combine. No Python."""
    from q_digest_spark.operators.events import transition_counts

    ev = spark.read.parquet(f"{sf_test}/events.parquet")
    df = transition_counts(ev, "user_id", "ts", "event_type", "event_id")
    plan = _plan_of(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "WindowExec" not in plan or "user_id" in plan  # partitioned window
    # two exchanges max: user window + tiny (src,dst) agg
    assert plan.count("hashpartitioning(") <= 2, plan


def test_session_r04c_queries_plan_gates(spark, sf_test):
    """The third-session additions must keep their scale-critical plan
    shapes: ssjoin and the index queries stay hash equi-joins (no
    cartesian / nested-loop fallback), the SCD2 window carries no
    extra shuffles beyond the key partition, and the posting build is
    a single aggregate over the scan."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    qs = E.queries()
    for name in ("ssjoin_exact_pairs", "index_and_query",
                 "bm25_topk_docs", "posting_gap_stats",
                 "triangle_parts", "lift_top_pairs"):
        plan = _plan_of(qs[name](spark, sf_test))
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)

    # SQ8 is the deliberate exception: brute-force all-pairs IS the
    # semantics, expressed as a broadcast of the tiny query side —
    # assert it broadcasts rather than shuffling the corpus
    plan = _plan_of(qs["sq8_ann_topk"](spark, sf_test))
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan

    # SCD2: exactly the two key-partition exchanges its two window
    # layers need (dedupe rank + history window), nothing more
    plan = _plan_of(qs["scd2_status_history"](spark, sf_test))
    assert "CartesianProduct" not in plan, plan


def test_session_r04d_queries_plan_gates(spark, sf_test):
    """Fourth-session additions keep their scale-critical shapes:
    the portable-SimHash pair pipeline is 100% JVM (no Python eval
    anywhere — fingerprint, banding, verify are codegen'd) and its
    band self-join is a hash equi-join; the MOR resolution broadcasts
    the change sides; last-touch attribution's window partitions by
    user (never a global sort); the wavelet pipeline stays JVM-only."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    qs = E.queries()

    plan = _plan_of(qs["simhash_hamming_pairs"](spark, sf_test))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan

    plan = _plan_of(qs["mor_apply_counts"](spark, sf_test))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan

    plan = _plan_of(qs["last_touch_attribution"](spark, sf_test))
    assert "user_id" in plan and "Window" in plan, plan
    # the only exchanges: the user window partition + the tiny
    # 25-group aggregate
    assert plan.count("hashpartitioning(") <= 2, plan

    plan = _plan_of(qs["wavelet_hist_cents"](spark, sf_test))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan

    plan = _plan_of(qs["fanout_histogram_orders"](spark, sf_test))
    assert "CartesianProduct" not in plan, plan


def test_session_r04e_queries_plan_gates(spark, sf_test):
    """Fifth-session additions keep their scale shapes: Hamilton
    apportionment broadcasts its two 1-row totals and shuffles input
    rows exactly once (the groupBy(key)); the template-token pipeline
    broadcasts the per-host doc counts; the containment join is a
    hash equi-join (never cartesian) with the block key inside the
    join; the octave rollup is all-JVM."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    qs = E.queries()

    plan = _plan_of(qs["crawl_budget_by_source"](spark, sf_test))
    # the two totals (sum weight, sum base) ride broadcast nested-loop
    # cross joins of 1-row sides — NOT row-scaled shuffles
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "CartesianProduct" not in plan, plan
    # pure JVM end to end: no Python eval anywhere
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan

    plan = _plan_of(qs["template_tokens_by_source"](spark, sf_test))
    assert "BroadcastHashJoin" in plan, plan  # per-host totals broadcast
    assert "CartesianProduct" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan

    plan = _plan_of(qs["containment_pairs_by_source"](spark, sf_test))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

    plan = _plan_of(qs["token_freq_octaves"](spark, sf_test))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan

    plan = _plan_of(qs["kcore_documents"](spark, sf_test))
    assert "CartesianProduct" not in plan, plan


def test_star_join_broadcasts_dims_and_prunes(spark, sf_test):
    """revenue_by_region_quarter: the three dimension hops ride
    BroadcastHashJoins (never shuffling the fact side per dim), no
    cartesian anywhere, and the lineitem scan is pruned to the two
    revenue columns + key."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    plan = _plan_of(E.queries()["revenue_by_region_quarter"](spark, sf_test))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    li_scan = [l for l in scans if "l_extendedprice" in l]
    assert li_scan, scans
    assert "l_quantity" not in li_scan[0] and "l_shipdate" not in li_scan[0], li_scan


def test_pricing_summary_pushes_shipdate_filter(spark, sf_test):
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    plan = _plan_of(E.queries()["pricing_summary"](spark, sf_test))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "l_shipdate" in pushed[0], pushed or plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_session_r05_queries_plan_gates(spark, sf_test):
    """Round-5 session additions keep their scale-critical plan
    shapes: the top-k similarity join is an n-gram-keyed hash join
    feeding TakeOrderedAndProject (never cartesian); the coverage /
    privacy / residual / matrix queries stay JVM-only codegen plans
    (no per-row Python); the Lloyd assignment broadcasts its 8-row
    center dim (the deliberate BroadcastNestedLoop exception, like
    sq8) instead of shuffling the corpus."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    qs = E.queries()

    plan = _plan_of(qs["topk_jaccard_pairs"](spark, sf_test))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan

    for name in ("kanon_risk_profile", "ols_residual_outliers",
                 "zipf_exponent_by_lang"):
        plan = _plan_of(qs[name](spark, sf_test))
        assert "CartesianProduct" not in plan, (name, plan)
        assert "ArrowEvalPython" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan, (name, plan)

    # Lloyd assignment: the 8-row center table must BROADCAST (the
    # corpus side never shuffles for the distance step).
    plan = _plan_of(qs["kmeans_assign_counts"](spark, sf_test))
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_session_r05d_queries_plan_gates(spark, sf_test):
    """Session-4 additions keep their scale-critical shapes: the
    exact-statistics queries (gini / fano / simpson / spearman /
    flesch / assortativity / crosscorr) are JVM-only codegen plans —
    no per-row Python, no cartesian; the changepoint argmax and the
    crosscorr grid run on O(days)-scale rollups with broadcast
    small sides; langid_kappa's only Python is the Arrow-batched
    lang_id scorer."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    qs = E.queries()

    for name in (
        "gini_user_activity",
        "fano_factor_daily",
        "simpson_diversity_by_source",
        "spearman_chars_tokens",
        "flesch_readability_by_lang",
        "degree_assortativity_docs",
    ):
        plan = _plan_of(qs[name](spark, sf_test))
        assert "CartesianProduct" not in plan, (name, plan)
        assert "ArrowEvalPython" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan, (name, plan)

    # changepoint: candidate self-join must be the broadcast anti-join
    # over the tiny daily rollup — never a cartesian or a sort-merge
    plan = _plan_of(qs["changepoint_daily_events"](spark, sf_test))
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan

    # crosscorr grid: types side broadcasts; no per-row Python
    plan = _plan_of(qs["crosscorr_event_types"](spark, sf_test))
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan

    # kappa: exactly the lang_id pandas UDF, nothing else Python-side
    plan = _plan_of(qs["langid_kappa"](spark, sf_test))
    assert plan.count("ArrowEvalPython") <= 1, plan
    assert "CartesianProduct" not in plan, plan


def test_tpch_shapes_plan_gates(spark, sf_test):
    """The round-5 TPC-H-shaped batch keeps its scale-critical plan
    shapes: every query is JVM-only whole-stage code (no per-row or
    Arrow Python anywhere, no cartesian product); the star-side dims
    broadcast wherever a dimension attaches to the lineitem fact; the
    Q4 EXISTS stays a left-semi hash join; Q19's disjunction stays a
    residual filter on a plain equi broadcast join (never a
    nested-loop fallback)."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    qs = E.queries()

    batch = (
        "order_priority_late_counts",
        "forecast_revenue_simple",
        "volume_shipping_nations",
        "market_share_region",
        "late_lines_by_status",
        "customer_order_counts_dist",
        "promo_revenue_share",
        "top_supplier_revenue",
        "small_quantity_revenue",
        "disjunctive_promo_revenue",
        "waiting_suppliers_topk",
        "idle_customer_balance",
    )
    plans = {}
    for name in batch:
        plan = _plan_of(qs[name](spark, sf_test))
        plans[name] = plan
        assert "CartesianProduct" not in plan, (name, plan)
        assert "ArrowEvalPython" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan, (name, plan)

    # dims must broadcast onto the fact scan (explicit hints)
    for name in (
        "volume_shipping_nations",
        "market_share_region",
        "promo_revenue_share",
        "disjunctive_promo_revenue",
        "small_quantity_revenue",
        "top_supplier_revenue",
        "idle_customer_balance",
        "waiting_suppliers_topk",
    ):
        assert "BroadcastExchange" in plans[name], (name, plans[name])

    # Q4 EXISTS: a semi join, not an aggregate-distinct rewrite
    assert "LeftSemi" in plans["order_priority_late_counts"], plans[
        "order_priority_late_counts"
    ]
    # Q19: the OR predicate must NOT break the equi hash join
    assert "BroadcastHashJoin" in plans["disjunctive_promo_revenue"], plans[
        "disjunctive_promo_revenue"
    ]
    # Q6: single-table scan+agg — no join operator at all
    assert "Join" not in plans["forecast_revenue_simple"], plans[
        "forecast_revenue_simple"
    ]


def test_argmin_and_streaming_session_plan_gates(spark, sf_test):
    """Q2-shaped argmin: the per-part minimum must be ONE hash
    aggregate over a struct-min — never a window over the fact or a
    self-join — with both dim reductions broadcast; JVM-only."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    plan = _plan_of(E.queries()["min_cost_supplier_per_part"](spark, sf_test))
    assert "CartesianProduct" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "Window" not in plan, plan


def test_top_suppliers_per_brand_uses_window_group_limit(spark, sf_test):
    """The rn <= 2 rank filter must compile to WindowGroupLimit (per-
    task 2-row heaps BEFORE the window exchange) — the property that
    keeps per-group top-k shuffles O(partitions x groups x N)."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    plan = _plan_of(E.queries()["top_suppliers_per_brand"](spark, sf_test))
    assert "WindowGroupLimit" in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan

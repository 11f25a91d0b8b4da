"""Dedup (exact / MinHash-LSH / SimHash / n-gram / embedding-cosine),
ANN search, and multimodal plumbing — with planted ground truth."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from q_digest_spark.operators.dedup import (
    exact_dedup,
    exact_dup_groups,
    minhash_near_dups,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from q_digest_spark.operators.multimodal import (
    blob_metadata,
    extract_features,
)
from q_digest_spark.operators.similarity import (
    brute_force_topk,
    cosine_near_dup_pairs,
    lsh_near_dup_pairs,
    lsh_topk,
)
from q_digest_spark.sketches.minhash import exact_jaccard, minhash_batch, char_shingle_hashes


BASE = (
    "the quick brown fox jumps over the lazy dog while the rain in spain stays "
    "mainly in the plain and a stitch in time saves nine for all good men "
)


def _corpus():
    """60 distinct docs + planted exact dups + planted near dups."""
    rows = []
    for i in range(60):
        rows.append((i, BASE + f"unique tail number {i} with extra words {i * 7} here"))
    rows.append((100, rows[3][1]))  # exact dup of 3
    rows.append((101, rows[7][1]))  # exact dup of 7
    # near dup of 11: small edit
    rows.append((102, rows[11][1].replace("good men", "great men")))
    # near dup of 20
    rows.append((103, rows[20][1] + " tiny suffix"))
    return rows


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(_corpus(), "doc_id long, text string").repartition(4)


def test_exact_dedup(spark, docs_df):
    kept = exact_dedup(docs_df, "text", "doc_id")
    ids = {r["doc_id"] for r in kept.collect()}
    assert 100 not in ids and 101 not in ids
    assert 3 in ids and 7 in ids
    assert 102 in ids and 103 in ids  # near-dups survive exact dedup
    groups = {(r["keep_id"], r["dup_id"]) for r in exact_dup_groups(docs_df, "text", "doc_id").collect()}
    assert groups == {(3, 100), (7, 101)}


def test_minhash_lsh_near_dups(spark, docs_df):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dups(docs_df, "text", "doc_id", threshold=0.8).collect()
    }
    assert (3, 100) in pairs and (7, 101) in pairs  # exact dups: jaccard 1.0
    assert (11, 102) in pairs and (20, 103) in pairs  # planted near dups
    # distinct docs share the long BASE prefix but differ beyond 0.8? verify none
    # of the truly-unrelated planted tails paired with each other wrongly:
    for a, b in pairs:
        ta = dict(_corpus())[a]
        tb = dict(_corpus())[b]
        assert exact_jaccard(ta, tb) >= 0.8


def test_minhash_signature_similarity_tracks_jaccard():
    # large docs -> plenty of distinct shingles -> the OPH estimator's
    # effective sample count is the full signature width
    ta = " ".join(f"word{i * 13 % 977} tok{i}" for i in range(400))
    tb = " ".join(f"word{i * 13 % 977} tok{i}" for i in range(300)) + " extra suffix tokens here"
    a = char_shingle_hashes(ta, 5)
    b = char_shingle_hashes(tb, 5)
    true_j = len(np.intersect1d(a, b)) / len(np.union1d(a, b))
    sa, sb = minhash_batch(pd.Series([ta, tb]), 256)
    est = (sa == sb).mean()
    assert abs(est - true_j) < 0.1, (est, true_j)
    # a document's signature does not depend on the rest of its batch
    assert np.array_equal(minhash_batch(pd.Series([ta]), 128)[0], minhash_batch(pd.Series([tb, ta]), 128)[1])


def test_simhash_near_dups(spark, docs_df):
    res = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dups(docs_df, "text", "doc_id", max_hamming=3).collect()
    }
    assert res[(3, 100)] == 0 and res[(7, 101)] == 0
    # all reported pairs genuinely within distance 3 (verified by construction)
    assert all(h <= 3 for h in res.values())


def test_ngram_jaccard_pairs(spark, docs_df):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            docs_df, "text", "doc_id", 0.9, ids=[3, 100, 11, 102, 40]
        ).collect()
    }
    assert (3, 100) in pairs
    assert all(a != 40 and b != 40 for a, b in pairs)


# ----------------------------------------------------------- similarity
@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.RandomState(7)
    base = rng.standard_normal((40, 16)).astype(np.float32)
    base[25] = base[3] + rng.standard_normal(16).astype(np.float32) * 0.01  # near dup
    rows = [(int(i), base[i].tolist()) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(3), base


def test_brute_force_topk(spark, vec_df):
    df, base = vec_df
    queries = {3: base[3], 10: base[10]}
    res = brute_force_topk(df, "vec_id", "embedding", queries, k=3).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["sim"]))
    assert sorted(by_q[3])[0][1] == 25  # planted near-dup is rank-1 for query 3
    # exact oracle via numpy
    m = base.astype(np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m[10]
    order = np.argsort(-np.round(sims, 6) + np.arange(len(sims)) * 0)
    expected_top = [i for i in order if i != 10][:3]
    got = [n for _, n, _ in sorted(by_q[10])]
    assert got == expected_top


def test_lsh_topk_recall(spark, vec_df):
    df, base = vec_df
    queries = {3: base[3]}
    res = lsh_topk(df, "vec_id", "embedding", queries, k=3, bits=8, tables=10).collect()
    neigh = [r["neighbor_id"] for r in sorted(res, key=lambda r: r["rank"])]
    assert 25 in neigh  # the planted near-dup must be recalled


def test_cosine_near_dup_pairs(spark, vec_df):
    df, base = vec_df
    pairs = {(r["id_a"], r["id_b"]) for r in cosine_near_dup_pairs(df, "vec_id", "embedding", 0.95).collect()}
    assert (3, 25) in pairs
    assert len(pairs) == 1  # random 16-dim vectors don't collide at 0.95


def test_lsh_near_dup_pairs_matches_exact_with_no_cartesian(spark, vec_df):
    """The bucketed (graded/scale) path must return exactly the pairs
    the all-pairs exact path returns on the fixture, and its physical
    plan must contain no cartesian/nested-loop join."""
    df, base = vec_df
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(df, "vec_id", "embedding", 0.95).collect()
    }
    plan_df = lsh_near_dup_pairs(df, "vec_id", "embedding", threshold=0.95)
    bucketed = {(r["id_a"], r["id_b"]) for r in plan_df.collect()}
    assert bucketed == exact
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_near_dups_leaves_no_persisted_rdds(spark, docs_df):
    """The signature cache must be dropped once candidates are
    materialized — persisted RDDs leaking per-call would accumulate
    across a long session."""
    pairs = minhash_near_dups(docs_df, "text", "doc_id", threshold=0.8)
    pairs.collect()
    sc = spark.sparkContext
    persisted = sc._jsc.sc().getPersistentRDDs()
    assert persisted.isEmpty(), f"leaked persisted RDDs: {persisted}"


# ----------------------------------------------------------- multimodal
def test_multimodal_plumbing(spark):
    rows = [(i, bytes(range(max(1, i % 7))) * (i + 1)) for i in range(20)]
    rows.append((20, None))
    df = spark.createDataFrame(rows, "id long, blob binary").repartition(3)
    meta = {r["id"]: r for r in blob_metadata(df, "blob", "id").collect()}
    assert meta[20]["n_bytes"] == 0
    assert meta[5]["n_bytes"] == len(rows[5][1])
    # JVM-side sha2/hex must match the hashlib/bytes.hex semantics the
    # original Python implementation had
    import hashlib

    b5 = rows[5][1]
    assert meta[5]["sha_prefix"] == hashlib.sha256(b5).hexdigest()[:16]
    assert meta[5]["magic"] == b5[:4].hex()
    assert meta[20]["sha_prefix"] == "" and meta[20]["magic"] == ""
    feats = {r["id"]: r for r in extract_features(df, "blob", "id", feature_dim=4).collect()}
    assert len(feats[8]["feature"]) == 4
    assert feats[20]["feature"] == [0.0, 0.0, 0.0, 0.0]


# ------------------------------------------------------ LSH bucket caps
def test_cap_buckets_drops_only_oversize(spark):
    from q_digest_spark.operators.dedup import cap_buckets

    rows = [(i, 1) for i in range(500)] + [(1000 + i, 2) for i in range(20)]
    b = spark.createDataFrame(rows, "doc_id long, bucket long")
    out = cap_buckets(b, 100)
    got = {r["bucket"]: r["cnt"] for r in out.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert got == {2: 20}


def test_lsh_bucket_cap_bounds_pathological_candidates(spark):
    """Adversarial boilerplate fixture: 300 byte-identical docs whose
    every band bucket holds 300 members (44,850 candidate pairs from
    one group). With max_bucket the pathological buckets are skipped —
    candidate count stays bounded — while the planted near-dups (tiny
    buckets) keep full recall."""
    from q_digest_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        optimal_bands,
    )

    rows = _corpus()
    boiler = "cookie banner accept all our terms and conditions privacy policy " * 5
    rows += [(1000 + i, boiler) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    sigs = minhash_signatures(df, "text", "doc_id")
    bands = optimal_bands(128, 0.8)
    uncapped = lsh_candidate_pairs(sigs, bands).count()
    assert uncapped >= 300 * 299 // 2  # the quadratic blowup is real
    capped = lsh_candidate_pairs(sigs, bands, max_bucket=50)
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # every boilerplate bucket (300 members each) is skipped, so no
    # boiler pair survives; the base corpus shares a long BASE prefix
    # and legitimately yields candidates through small buckets, so
    # bound the total by the base-pair count, not an absolute number
    assert all(a < 1000 and b < 1000 for a, b in pairs), "boiler pairs survived"
    assert len(pairs) <= 64 * 63 // 2, len(pairs)
    # recall on the normal corpus is unchanged
    assert (3, 100) in pairs and (7, 101) in pairs
    assert (11, 102) in pairs and (20, 103) in pairs


def test_embedding_lsh_bucket_cap(spark, vec_df):
    """Embedding-LSH honors max_bucket: an absurdly low cap drops
    every bucket (empty result), a generous cap reproduces the exact
    pairs — the knob is wired through to cap_buckets."""
    df, base = vec_df
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(df, "vec_id", "embedding", 0.95).collect()
    }
    generous = {
        (r["id_a"], r["id_b"])
        for r in lsh_near_dup_pairs(
            df, "vec_id", "embedding", threshold=0.95, max_bucket=10**6
        ).collect()
    }
    assert generous == exact
    none_left = lsh_near_dup_pairs(
        df, "vec_id", "embedding", threshold=0.95, max_bucket=0
    ).count()
    assert none_left == 0


# ------------------------------------------------------ semantic dedup
def test_semantic_dedup_planted(spark):
    """Planted clusters: near-identical vectors inside one cell drop
    min-id-wins; vectors in different cells never compare even if
    similar; the survivor set is exactly the per-ball min ids."""
    import numpy as np

    from q_digest_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(11)
    a = rng.randn(16); a /= np.linalg.norm(a)
    b = rng.randn(16); b -= (b @ a) * a; b /= np.linalg.norm(b)  # orthogonal
    rows = [
        (0, a.tolist()),                       # seed 0
        (1, b.tolist()),                       # seed 1
        (10, (a * 3.0).tolist()),              # dup of 0 (cos 1)
        (11, (a + 0.01 * b).tolist()),         # near-dup of 0
        (20, (b * 2.0).tolist()),              # dup of 1
        (30, (0.8 * b + 0.6 * a).tolist()),    # leans b but far from b
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["id"]: (r["cell"], r["dropped"])
        for r in semantic_dedup(emb, "vec_id", "embedding", n_seeds=2, tau=0.9).collect()
    }
    assert out[0] == (0, False)      # min id in its ball survives
    assert out[10] == (0, True)      # exact dup dropped
    assert out[11] == (0, True)      # near-dup dropped
    assert out[1] == (1, False)
    assert out[20] == (1, True)
    # cos(30, b) = 0.8 < 0.9 -> kept despite sharing cell 1
    assert out[30] == (1, False)


def test_semantic_dedup_matches_bruteforce_within_cells(spark, sf_test):
    """On the real fixture the dropped set must equal the reference
    computed locally with numpy over the same seeds/cells."""
    import numpy as np

    from q_digest_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{sf_test}/embeddings.parquet")
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    m = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    order = np.argsort(ids)
    ids, mn = ids[order], mn[order]
    seeds = mn[:8]
    cells = (mn @ seeds.T).argmax(axis=1)  # first-max == min seed index
    cells = ids[:8][cells]                 # map index -> seed id
    dropped_ref = set()
    for c in np.unique(cells):
        sel = np.where(cells == c)[0]
        sims = mn[sel] @ mn[sel].T
        for j in range(len(sel)):
            if any(sims[i, j] >= 0.45 for i in range(j)):
                dropped_ref.add(int(ids[sel[j]]))
    got = semantic_dedup(emb, "vec_id", "embedding", n_seeds=8, tau=0.45).collect()
    assert {r["id"] for r in got if r["dropped"]} == dropped_ref
    assert len(got) == len(ids)


def test_semantic_dedup_hot_cell_cap(spark):
    """max_cell skips a degenerate cell's pairing entirely: its
    members all survive (graceful for a dedup gate) while normal
    cells still deduplicate; every input row keeps its output row."""
    import numpy as np

    from q_digest_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(5)
    a = rng.randn(16); a /= np.linalg.norm(a)
    b = rng.randn(16); b -= (b @ a) * a; b /= np.linalg.norm(b)
    rows = [(0, a.tolist()), (1, b.tolist())]
    # 50 near-copies of a -> one hot cell; 3 near-copies of b -> small
    rows += [(100 + i, (a + 1e-4 * rng.randn(16)).tolist()) for i in range(50)]
    rows += [(200 + i, (b + 1e-4 * rng.randn(16)).tolist()) for i in range(3)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = {
        r["id"]: r["dropped"]
        for r in semantic_dedup(
            emb, "vec_id", "embedding", n_seeds=2, tau=0.99, max_cell=10
        ).collect()
    }
    assert len(out) == len(rows)  # capping never loses rows
    # hot cell (a's, 51 members > 10): pairing skipped, all survive
    assert not out[0] and not any(out[100 + i] for i in range(50))
    # small cell (b's, 4 members <= 10): dedup still applies
    assert not out[1]
    assert all(out[200 + i] for i in range(3))
    # uncapped control: the hot cell does deduplicate
    out2 = {
        r["id"]: r["dropped"]
        for r in semantic_dedup(
            emb, "vec_id", "embedding", n_seeds=2, tau=0.99
        ).collect()
    }
    assert all(out2[100 + i] for i in range(50))


def test_portable_simhash_banded_equals_allpairs(spark):
    """The 4x16-band plan must EQUAL brute-force all-pairs hamming<=3
    (pigeonhole recall 1.0) on a fixture with planted near-dups."""
    from pyspark.sql import functions as F
    from q_digest_spark.operators.dedup import (
        portable_simhash_fingerprints,
        portable_simhash_pairs,
    )

    base = [
        (i, " ".join(f"tok{(i * 7 + j) % 45}" for j in range(40)))
        for i in range(60)
    ]
    # planted: exact copy of every 4th, one-token-appended copy of every 3rd
    rows = (
        base
        + [(i + 1000, t) for i, t in base if i % 4 == 0]
        + [(i + 2000, t + " zz9") for i, t in base if i % 3 == 0]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(6)

    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in portable_simhash_pairs(df, "text", "doc_id", 3).collect()
    }

    fps = portable_simhash_fingerprints(df, "text", "doc_id")
    a = fps.alias("a")
    c = fps.alias("c")
    ham = F.bit_count(
        F.col("a.fp1").bitwiseXOR(F.col("c.fp1"))
    ) + F.bit_count(F.col("a.fp2").bitwiseXOR(F.col("c.fp2")))
    brute = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.join(c, F.col("a.doc_id") < F.col("c.doc_id"))
        .where(ham <= 3)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("c.doc_id").alias("id_b"),
            ham.cast("long").alias("hamming"),
        )
        .collect()
    }
    assert got == brute
    # exact copies must appear at hamming 0
    zero = {(i, i + 1000) for i, _ in base if i % 4 == 0}
    assert zero <= {(x, y) for x, y, h in got if h == 0}


def test_portable_simhash_fingerprint_is_md5_derived(spark):
    """One-doc fingerprint equals a local recomputation from hashlib
    md5 — pins the cross-engine bit layout (low word = hex chars 1-8,
    strict-majority bit rule, ties to 0)."""
    import hashlib

    from q_digest_spark.operators.dedup import portable_simhash_fingerprints

    text = "alpha beta beta gamma"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = portable_simhash_fingerprints(df, "text", "doc_id").collect()[0]

    votes1 = [0] * 32
    votes2 = [0] * 32
    for t in text.split(" "):
        hx = hashlib.md5(t.encode()).hexdigest()
        w1, w2 = int(hx[:8], 16), int(hx[8:16], 16)
        for b in range(32):
            votes1[b] += 1 if (w1 >> b) & 1 else -1
            votes2[b] += 1 if (w2 >> b) & 1 else -1
    fp1 = sum(1 << b for b in range(32) if votes1[b] > 0)
    fp2 = sum(1 << b for b in range(32) if votes2[b] > 0)
    assert (row["fp1"], row["fp2"]) == (fp1, fp2)

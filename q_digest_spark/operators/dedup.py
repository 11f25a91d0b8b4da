"""Deduplication operators for large-scale training-data pipelines.

Four tiers, all Spark-first:

1. exact_dedup         — hash-groupBy on content (one shuffle; at
                         100 TB this shuffles (fingerprint, id) pairs,
                         never the documents themselves)
2. minhash_near_dups   — MinHash + LSH banding: one mapInPandas pass
                         computes signatures; band buckets shuffle
                         O(n_docs * bands) small rows; candidate
                         pairs are verified with *exact* shingle
                         Jaccard after joining text back for the
                         (few) candidates only
3. simhash_near_dups   — 64-bit SimHash, banded into 4x16-bit keys
                         (any pair within hamming distance <= 3 shares
                         at least one band by pigeonhole... for
                         distance <= 3 over 4 bands), verified by
                         exact hamming distance
4. embedding near-dups — see similarity.py (cosine over vectors)

The exact-verify step makes LSH recall/precision concrete: LSH only
proposes candidates; the emitted pairs carry the exact measure.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..functions.text import content_fingerprint
from ..sketches.minhash import (
    band_hashes,
    exact_jaccard_pairs,
    hamming64,
    minhash_batch,
    simhash64,
)


# --------------------------------------------------------------- exact
def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep the min-id representative per identical content.

    Shuffles only (md5_fingerprint, id); the winning ids come back via
    a semi-join, so full rows never move through the shuffle — the
    pattern that matters at 10^12 documents.
    """
    fp = content_fingerprint(F.col(content_col)).alias("__fp")
    winners = (
        df.select(fp, F.col(id_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(winners, id_col, "left_semi")


def exact_dup_groups(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """(content duplicate-group) pairs (keep_id, dup_id), keep_id <
    dup_id — the dedup 'what would be removed' report."""
    fp = content_fingerprint(F.col(content_col)).alias("__fp")
    w = Window.partitionBy("__fp")
    t = df.select(fp, F.col(id_col).alias("dup_id")).withColumn(
        "keep_id", F.min("dup_id").over(w)
    )
    return t.where(F.col("dup_id") > F.col("keep_id")).select("keep_id", "dup_id")


# ------------------------------------------------------------- minhash
def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_perm: int = 128,
    shingle_k: int = 5,
) -> DataFrame:
    """One pass: (id, sig array<long>). Signature computation is
    per-batch vectorized; nothing leaves the worker but (id, 128*8B)."""
    sdf = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))

    def compute(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if not len(pdf):
                continue
            sig = minhash_batch(pdf["text"], n_perm, shingle_k)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "sig": list(sig.view(np.int64)),
                }
            )

    return sdf.mapInPandas(compute, "doc_id long, sig array<long>")


def optimal_bands(n_perm: int, threshold: float) -> int:
    """Pick the band count whose LSH S-curve midpoint (1/b)**(1/w) sits
    just below the target threshold: few bands (wide rows) for high
    thresholds -> drastically fewer false candidates when the corpus
    has a shared vocabulary (random-pair Jaccard well above 0)."""
    best = n_perm // 2
    for w in (2, 4, 8, 16, 32, 64):
        b = n_perm // w
        if b < 2:
            break
        if (1.0 / b) ** (1.0 / w) <= threshold * 0.97:
            best = b
    return best


def cap_buckets(
    b: DataFrame, max_bucket: int, bucket_col: str = "bucket"
) -> DataFrame:
    """Drop pathological LSH buckets before the candidate self-join.

    On a real crawl a boilerplate-heavy bucket (cookie banners, SEO
    spam, templated pages) can hold 10^5+ members and blow the
    candidate join quadratically — one such bucket is 10^10 pairs.
    Capping SKIPS those buckets entirely: members can still pair
    through their other bands/tables, so recall degrades gracefully
    only for pairs whose every shared bucket is pathological (which,
    for boilerplate, exact_dedup already catches byte-identically).

    The over-cap bucket list is computed with one aggregate over the
    bucket rows (map-side partial agg, tiny result — boilerplate
    buckets are by nature few) and applied as a BROADCAST anti-join
    so the bucket rows themselves are never reshuffled. Fully LAZY:
    no collect, no driver data — the aggregate runs inside the
    returned plan (as the broadcast build side).
    """
    over = (
        b.groupBy(bucket_col)
        .agg(F.count(F.lit(1)).alias("bsz"))
        .where(F.col("bsz") > max_bucket)
        .select(bucket_col)
    )
    return b.join(F.broadcast(over), bucket_col, "left_anti")


def lsh_candidate_pairs(
    sig_df: DataFrame, bands: int = 32, max_bucket: int | None = None
) -> DataFrame:
    """Candidate pairs from banded signatures: explode to (band
    bucket, id), self-join per bucket. AQE handles moderate bucket
    skew; ``max_bucket`` caps pathological buckets (boilerplate docs)
    via cap_buckets — at corpus scale set it to a few hundred."""

    def to_bands(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if not len(pdf):
                continue
            sig = np.stack(pdf["sig"].to_numpy()).view(np.uint64)
            bh = band_hashes(sig, bands).view(np.int64)
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(), bands),
                    "bucket": bh.ravel(),
                }
            )

    b = sig_df.mapInPandas(to_bands, "doc_id long, bucket long")
    if max_bucket is not None:
        b = cap_buckets(b, max_bucket)
    left = b.alias("a")
    right = b.alias("b")
    return (
        left.join(right, (F.col("a.bucket") == F.col("b.bucket")) &
                  (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    n_perm: int = 128,
    bands: int | None = None,
    shingle_k: int = 5,
    max_bucket: int | None = None,
) -> DataFrame:
    """End-to-end near-dup pairs with exact-Jaccard verification:
    returns (id_a, id_b) with exact shingle Jaccard >= threshold.

    Four candidate-pruning layers so a shared-vocabulary corpus
    (random-pair Jaccard >> 0) doesn't explode the verify join:
    (1) band width chosen from the threshold (optimal_bands);
    (2) ``max_bucket`` drops pathological boilerplate buckets before
        the self-join (cap_buckets) — at corpus scale set a few
        hundred;
    (3) cheap signature-agreement prefilter (numpy, on the already
        computed signatures) at threshold - 0.2;
    (4) exact shingle Jaccard on the survivors only.

    The call is EAGER through the prefilter: it persists the
    signatures, runs the candidate job NOW, spills the survivors to
    parquet and unpersists — signatures are computed ONCE and
    candidates survive executor loss. Shingling+hashing dominates the
    spill I/O, so a lazy plan (signatures recomputed in each of the 3
    plan branches) measured ~1.5x slower even on a 5k-doc corpus. Only
    the verify step stays lazy in the returned plan.

    The signature stage is Python-heavy (Arrow-batched shingling);
    when the input has fewer partitions than the cluster has slots
    (small files), it is repartitioned up so the stage uses every
    core — at corpus scale input partitions >> slots and this is a
    no-op.
    """
    if bands is None:
        bands = optimal_bands(n_perm, threshold)
    slots = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < slots:
        df = df.repartition(slots)
    sigs = minhash_signatures(df, text_col, id_col, n_perm, shingle_k).persist()
    cands = lsh_candidate_pairs(sigs, bands, max_bucket)
    # (2) prefilter on signature agreement
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    with_sigs = cands.join(sa, "id_a").join(sb, "id_b")
    cut = max(0.0, threshold - 0.2)

    def prefilter(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if not len(pdf):
                continue
            a = np.stack(pdf["sig_a"].to_numpy())
            b = np.stack(pdf["sig_b"].to_numpy())
            est = (a == b).mean(axis=1)
            keep = est >= cut
            if keep.any():
                yield pdf.loc[keep, ["id_a", "id_b"]]

    pref = with_sigs.mapInPandas(prefilter, "id_a long, id_b long")
    # Spill the (small) surviving candidate pairs to parquet and drop
    # the signature cache NOW — without this the persisted signatures
    # leak for the whole session (the returned plan is lazy, so a
    # plain unpersist-after-return never fires; localCheckpoint would
    # itself register a persisted RDD). A durable spill is also the
    # 100 TB-shape answer: candidates survive executor loss without
    # recomputing signatures over the corpus. The candidate job runs
    # even if the returned verify plan is never executed. Spills are
    # removed at interpreter exit (operators/_spill.py).
    from ._spill import spill_parquet

    survivors = spill_parquet(pref, "qds_minhash_cands_")
    sigs.unpersist()
    docs = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    joined = (
        survivors.join(docs.withColumnRenamed("doc_id", "id_a").withColumnRenamed("text", "text_a"), "id_a")
        .join(docs.withColumnRenamed("doc_id", "id_b").withColumnRenamed("text", "text_b"), "id_b")
    )

    def verify(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if not len(pdf):
                continue
            jac = exact_jaccard_pairs(pdf["text_a"], pdf["text_b"], shingle_k)
            keep = jac >= threshold
            if keep.any():
                yield pd.DataFrame(
                    {
                        "id_a": pdf["id_a"].to_numpy()[keep],
                        "id_b": pdf["id_b"].to_numpy()[keep],
                    }
                )

    return joined.mapInPandas(verify, "id_a long, id_b long")


# ------------------------------------------------------------- simhash
def simhash_fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    sdf = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))

    def compute(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if len(pdf):
                yield pd.DataFrame(
                    {"doc_id": pdf["doc_id"].to_numpy(), "fp": simhash64(pdf["text"])}
                )

    return sdf.mapInPandas(compute, "doc_id long, fp long")


def simhash_near_dups(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Pairs within hamming distance <= max_hamming. Banding into 4
    16-bit keys guarantees recall 1.0 for distance <= 3 (pigeonhole:
    4 bands, <=3 differing bits -> one band untouched)."""
    fps = simhash_fingerprints(df, text_col, id_col)
    parts = []
    for band in range(4):
        key = F.shiftrightunsigned(F.col("fp"), band * 16).bitwiseAND(F.lit(0xFFFF))
        parts.append(fps.select("doc_id", "fp", key.alias("bucket"), F.lit(band).alias("band")))
    b = parts[0]
    for p in parts[1:]:
        b = b.unionByName(p)
    cand = (
        b.alias("a")
        .join(
            b.alias("c"),
            (F.col("a.band") == F.col("c.band"))
            & (F.col("a.bucket") == F.col("c.bucket"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("c.doc_id").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("c.fp").alias("fp_b"),
        )
        .distinct()
    )

    def verify(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if not len(pdf):
                continue
            d = hamming64(pdf["fp_a"].to_numpy(), pdf["fp_b"].to_numpy())
            keep = d <= max_hamming
            if keep.any():
                yield pd.DataFrame(
                    {
                        "id_a": pdf["id_a"].to_numpy()[keep],
                        "id_b": pdf["id_b"].to_numpy()[keep],
                        "hamming": d[keep],
                    }
                )

    return cand.mapInPandas(verify, "id_a long, id_b long, hamming long")


# ------------------------------------------------------- ngram jaccard
def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    ids: Sequence[int] | None = None,
    shingle_k: int = 5,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard (optionally restricted to a
    candidate id set) — the brute-force oracle path for small
    verification sets; the scalable path is minhash_near_dups."""
    docs = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    if ids is not None:
        docs = docs.where(F.col("doc_id").isin(list(ids)))
    a = docs.withColumnRenamed("doc_id", "id_a").withColumnRenamed("text", "text_a")
    c = docs.withColumnRenamed("doc_id", "id_b").withColumnRenamed("text", "text_b")
    pairs = a.join(c, F.col("id_a") < F.col("id_b"))

    def verify(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if not len(pdf):
                continue
            jac = exact_jaccard_pairs(pdf["text_a"], pdf["text_b"], shingle_k)
            keep = jac >= threshold
            if keep.any():
                yield pd.DataFrame(
                    {
                        "id_a": pdf["id_a"].to_numpy()[keep],
                        "id_b": pdf["id_b"].to_numpy()[keep],
                    }
                )

    return pairs.mapInPandas(verify, "id_a long, id_b long")


# ------------------------------------------------- line-level (CCNet)
def corpus_line_survivors(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Cross-document line-level dedup (the CCNet / RefinedWeb
    paragraph-dedup step, public methodology: Wenzek et al. 2019 §3.1):
    every trimmed non-empty line of every document, with a `keep`
    flag that is true only for the FIRST occurrence of that line in
    the whole corpus — order defined by (id, line_no), so the result
    is deterministic and engine-independent.

    Scale shape: one posexplode, then ONE shuffle keyed on
    xxhash64(line) — an 8-byte key; the shuffle payload is (hash, id,
    line_no, n_chars) only, never the line text, so a 100 TB corpus
    moves ~32 B per line. First-wins is a row_number window inside
    each hash partition (line hashes are near-unique, so no skew; a
    64-bit collision merging two distinct lines is ~1e-8 probability
    at 1e5 M lines — CCNet itself dedups on a 64-bit sha1 prefix the
    same way).

    Returns (id, line_no, line_hash, n_chars, keep)."""
    lines = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "line"),
        )
        .select("id", "line_no", F.trim(F.col("line")).alias("line"))
        .where(F.col("line") != "")
        .select(
            "id",
            "line_no",
            F.xxhash64("line").alias("line_hash"),
            F.length("line").alias("n_chars"),
        )
    )
    w = Window.partitionBy("line_hash").orderBy("id", "line_no")
    return lines.withColumn("keep", F.row_number().over(w) == F.lit(1))


# ------------------------------------------------- incremental (day-over-day)
def incremental_dedup(
    new_df: DataFrame,
    hist_df: DataFrame,
    content_col: str,
    id_col: str,
    m_bits: int = 1 << 22,
    k: int = 7,
) -> DataFrame:
    """Day-over-day incremental dedup: keep only rows of ``new_df``
    whose normalized-content fingerprint (md5, same normalization as
    exact_dedup) never occurs in ``hist_df`` — the already-ingested
    corpus. EXACT anti-join semantics at Bloom-prefilter cost:

    - a Bloom filter over the historical fingerprints is built in one
      pass (per-partition partials, bounded driver fold) and shipped
      to executors;
    - new rows that MISS the filter are definitely-new (Bloom has zero
      false negatives) and never enter the shuffle — on a crawl where
      most of each day is novel, the anti-join shuffles only the
      ~n_dup + fpr * n_new candidate rows instead of all of new_df;
    - candidate (filter-hit) rows are confirmed with an exact
      left_anti join on the fingerprint, so Bloom false positives can
      never drop a genuinely novel document.

    Size ``m_bits`` for the HISTORICAL corpus cardinality (fpr ≈
    (1 - e^(-k n/m))^k); at 10^12 historical docs shard the filter by
    fingerprint prefix (a salted bank of filters) rather than growing
    one monolithic bitmap.
    """
    from .membership import bloom_probe_column
    from .quantiles import bloom_of

    fp = content_fingerprint(F.col(content_col))
    hist_fps = hist_df.select(fp.alias("__fp")).distinct()
    bl = bloom_of(hist_fps, "__fp", m_bits=m_bits, k=k)
    if bl is None:
        # empty history (first day of the pipeline): nothing has been
        # seen before, every new row survives
        return new_df
    flagged = bloom_probe_column(
        new_df.withColumn("__fp", fp), "__fp", bl, "__maybe"
    )
    fresh = flagged.where(~F.col("__maybe"))
    confirmed = flagged.where(F.col("__maybe")).join(
        hist_fps, "__fp", "left_anti"
    )
    return fresh.unionByName(confirmed).drop("__fp", "__maybe")


# ------------------------------------------- engine-portable simhash
def portable_simhash_fingerprints(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """64-bit SimHash (Charikar 2002 / Manku et al. WWW'07) built
    ENTIRELY from engine-portable primitives — md5 token hashes and
    integer bit arithmetic — so any ANSI-SQL engine reproduces the
    fingerprint bit-for-bit (unlike ``simhash_fingerprints``, whose
    numpy hash mix only exists Python-side).

    Construction: whitespace tokens (each occurrence votes, so token
    frequency weights the standard way), token hash = two 32-bit
    words parsed from the md5 hex digest (chars 1-8 and 9-16), and
    per-bit majority votes aggregated as 64 conditional sums in ONE
    hash aggregate over the exploded tokens (all JVM, map-side
    combine; nothing leaves the executors but 3 longs per doc).
    Bit rule: 1 iff the vote sum is strictly positive — ties at 0 are
    deterministic in both engines.

    Returns (id_col, fp1, fp2): two 32-bit words (low word = md5
    chars 1-8), each in [0, 2^32) so BIGINT-safe everywhere.
    """
    tok = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.explode(F.split(F.col(text_col), " ")).alias("t"),
        )
        .where(F.col("t") != "")
    )
    h = F.md5(F.col("t"))
    tok = tok.select(
        "__id",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("w1"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("w2"),
    )
    sums = [
        F.sum(
            F.when(
                F.shiftrightunsigned(F.col(w), b).bitwiseAND(F.lit(1)) == 1,
                1,
            ).otherwise(-1)
        ).alias(f"s_{w}_{b}")
        for w in ("w1", "w2")
        for b in range(32)
    ]
    votes = tok.groupBy("__id").agg(*sums)
    def word(w: str):
        e = F.lit(0).cast("long")
        for b in range(32):
            e = e + F.when(F.col(f"s_{w}_{b}") > 0, F.lit(1 << b).cast("long")).otherwise(0)
        return e
    return votes.select(
        F.col("__id").alias(id_col),
        word("w1").alias("fp1"),
        word("w2").alias("fp2"),
    )


def portable_simhash_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """All pairs within SimHash hamming distance <= max_hamming (<= 3),
    over the portable fingerprint. Banding into 4 disjoint 16-bit
    chunks guarantees recall 1.0 by pigeonhole (<= 3 differing bits
    cannot touch all 4 chunks), so the bucketed equi-join plus an
    exact JVM ``bit_count(xor)`` verify EQUALS the all-pairs answer —
    never materializing the O(n^2) cross join. Zero Python in the
    pipeline: fingerprint, banding, verify are all codegen'd
    expressions. Returns (id_a, id_b, hamming).
    """
    if max_hamming > 3:
        raise ValueError("4x16-bit banding guarantees recall only for <= 3")
    fps = portable_simhash_fingerprints(df, text_col, id_col)
    chunks = []
    for band in range(4):
        w = F.col("fp1") if band < 2 else F.col("fp2")
        key = F.shiftrightunsigned(w, (band % 2) * 16).bitwiseAND(F.lit(0xFFFF))
        chunks.append(
            fps.select(
                F.col(id_col).alias("doc_id"), "fp1", "fp2",
                key.alias("bucket"), F.lit(band).alias("band"),
            )
        )
    b = chunks[0]
    for p in chunks[1:]:
        b = b.unionByName(p)
    ham = (
        F.bit_count(F.col("a.fp1").bitwiseXOR(F.col("c.fp1")))
        + F.bit_count(F.col("a.fp2").bitwiseXOR(F.col("c.fp2")))
    )
    return (
        b.alias("a")
        .join(
            b.alias("c"),
            (F.col("a.band") == F.col("c.band"))
            & (F.col("a.bucket") == F.col("c.bucket"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .where(ham <= max_hamming)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("c.doc_id").alias("id_b"),
            ham.cast("long").alias("hamming"),
        )
        .distinct()
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 4,
    prefix_len: int = 40,
    bucket_chars: int = 2,
) -> DataFrame:
    """Sorted-neighborhood dedup (Hernandez & Stolfo, SIGMOD 1995) —
    the classic record-linkage blocking alternative to hash/LSH
    blocking: sort the corpus by a discriminating key, then compare
    only records within ``window`` positions of each other.

    Key = the first ``prefix_len`` chars of the whitespace-normalized
    lower-cased text (the repo-wide normalization, so near-identical
    records sort adjacent); candidates = rank pairs with
    ``1 <= gap <= window``; verification = exact content-fingerprint
    equality (md5 of the full normalized text). Returns
    ``(doc_a, doc_b, rank_gap)`` with doc_a < doc_b — verified
    duplicate pairs only.

    Distributed global rank WITHOUT a single-partition window: records
    bucket by the key's first ``bucket_chars`` chars (a PREFIX of the
    sort key, so bucket order == key order and lexicographic bucket
    sort == UTF-8 binary sort in both Python and Spark — UTF-8 byte
    order preserves code-point order); per-bucket counts (bounded by
    charset^bucket_chars, NOT by corpus size) come to the driver for
    exclusive offsets, and rank = offset + row_number within the
    bucket. Candidate probing is an EQUI-join on rank+j (j exploded
    1..window), so no range join and no all-pairs blowup: work is
    O(n * window). The miss mode is inherent to SNM (duplicates whose
    keys sort > window apart), shared bit-for-bit by the SQL oracle's
    row_number mirror.

    100-TB shape: one narrow shuffle for the bucket window, one
    equi-join keyed on rank; skewed buckets are the sort key's own
    skew — widen ``bucket_chars`` to split hot prefixes.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.substring(norm, 1, prefix_len).alias("_key"),
        F.md5(norm).alias("_fp"),
    )
    keyed = base.withColumn("_bkt", F.substring(F.col("_key"), 1, bucket_chars))
    # bounded collect: #buckets <= charset^bucket_chars regardless of n
    counts = keyed.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_c")).collect()
    off, acc = {}, 0
    for r in sorted(counts, key=lambda r: r["_bkt"]):
        off[r["_bkt"]] = acc
        acc += int(r["_c"])
    spark = df.sparkSession
    off_df = F.broadcast(
        spark.createDataFrame(
            [(b, o) for b, o in off.items()], "_bkt string, _off long"
        )
    )
    w = Window.partitionBy("_bkt").orderBy("_key", "_id")
    ranked = (
        keyed.join(off_df, "_bkt")
        .withColumn("_rk", F.row_number().over(w) + F.col("_off"))
        .select("_id", "_key", "_fp", "_rk")
    )
    probe = ranked.select(
        F.col("_id").alias("_ida"),
        F.col("_fp").alias("_fpa"),
        F.col("_rk").alias("_rka"),
        F.explode(F.sequence(F.lit(1), F.lit(window))).alias("_j"),
    ).withColumn("_cand", F.col("_rka") + F.col("_j"))
    pairs = probe.join(ranked, probe["_cand"] == ranked["_rk"]).where(
        F.col("_fpa") == F.col("_fp")
    )
    return pairs.select(
        F.least("_ida", "_id").alias("doc_a"),
        F.greatest("_ida", "_id").alias("doc_b"),
        F.col("_j").cast("long").alias("rank_gap"),
    )

"""Inverted-index construction — the search-index build step of a
web-corpus pipeline, as pure DataFrame algebra.

Layout: doc-range-sharded posting segments, the classic distributed
index shape (every search engine shards postings by document range so
index build is one shuffle and segment merges are sequential reads).
A posting row is (term, seg, postings array<struct<doc, tf>> sorted by
doc, n_docs, sum_tf): ``seg = doc div range_size`` bounds any single
grouped row to ``range_size`` documents, so a stopword appearing in
every document of a 10^12-page crawl becomes ~n/range_size bounded
rows instead of one catastrophic reducer row — collect_list skew is
capped BY CONSTRUCTION, not by hoping the tokenizer filters stopwords.
Global posting order is reconstructed by reading a term's segments in
``seg`` order (ranges partition the doc-id axis monotonically).

The build is ONE shuffle: tokenize JVM-side (term_frequencies),
groupBy (term, seg) with map-side partial aggregation. Term-level
statistics (df, cf, doc-id extremes, checksum) aggregate over segment
summaries — rows proportional to segments, never to postings.

No reference counterpart: the C reference has no text/index layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .tfidf import term_frequencies


def build_posting_segments(
    df: DataFrame,
    text_col: str,
    id_col: str,
    range_size: int = 1 << 20,
) -> DataFrame:
    """(term, seg, postings, n_docs, sum_tf): doc-range-sharded
    posting segments; ``postings`` is array<struct<doc, tf>> sorted by
    doc id within the segment."""
    tf = term_frequencies(df, text_col, id_col)
    return (
        tf.withColumn("seg", F.expr(f"id div {int(range_size)}"))
        .groupBy("term", "seg")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("id").alias("doc"), "tf"))
            ).alias("postings"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tf").cast("long").alias("sum_tf"),
        )
    )


def term_stats(segments: DataFrame) -> DataFrame:
    """(term, df, cf, min_doc, max_doc, doc_sum) from posting
    segments — aggregates segment SUMMARIES (plus each segment's
    first/last posting and a doc-id checksum), so the stats pass
    never re-shuffles raw postings."""
    per_seg = segments.select(
        "term",
        "n_docs",
        "sum_tf",
        F.element_at("postings", 1)["doc"].alias("first_doc"),
        F.element_at("postings", -1)["doc"].alias("last_doc"),
        F.aggregate(
            "postings", F.lit(0).cast("long"), lambda acc, p: acc + p["doc"]
        ).alias("seg_doc_sum"),
    )
    return per_seg.groupBy("term").agg(
        F.sum("n_docs").cast("long").alias("df"),
        F.sum("sum_tf").cast("long").alias("cf"),
        F.min("first_doc").cast("long").alias("min_doc"),
        F.max("last_doc").cast("long").alias("max_doc"),
        F.sum("seg_doc_sum").cast("long").alias("doc_sum"),
    )


def merge_segments(a: DataFrame, b: DataFrame) -> DataFrame:
    """LSM-style index merge: two posting-segment sets (say, the
    standing index and a daily delta built with the same range_size)
    merged into one. Same-(term, seg) rows merge by re-sorting the
    concatenated postings (JVM array ops, no Python); duplicate
    (term, seg, doc) rows sum tf, which is the correct semantics when
    the inputs partition the corpus (crawl shards indexed separately)
    or carry incremental per-doc tf deltas. One shuffle on (term,
    seg), work proportional to the delta plus touched segments, never
    a corpus rebuild."""
    both = a.unionByName(b)
    exploded = both.select(
        "term", "seg", F.explode("postings").alias("p")
    ).select("term", "seg", F.col("p.doc").alias("doc"), F.col("p.tf").alias("tf"))
    return (
        exploded.groupBy("term", "seg", "doc")
        .agg(F.sum("tf").cast("long").alias("tf"))
        .groupBy("term", "seg")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("doc"), F.col("tf")))
            ).alias("postings"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tf").cast("long").alias("sum_tf"),
        )
    )


def conjunctive_query(segments: DataFrame, terms: list[str]) -> DataFrame:
    """(doc): documents containing EVERY term in ``terms``, answered
    from the index alone — raw text is never touched. Each term's
    postings are filtered segment-locally, the per-term doc arrays
    meet in an equi-join on ``seg`` (both sides shrink to the query's
    terms first — a few segment rows, broadcastable), and the
    intersection is JVM array algebra per segment. Work scales with
    the QUERY terms' posting sizes, not the corpus — the reason
    search engines build the index at all."""
    if not terms:
        raise ValueError("conjunctive_query needs at least one term")
    out = None
    for i, t in enumerate(terms):
        docs_i = segments.where(F.col("term") == t).select(
            "seg",
            F.transform("postings", lambda p: p["doc"]).alias(f"d{i}"),
        )
        out = docs_i if out is None else out.join(docs_i, "seg")
    inter = out.withColumn("__m", F.col("d0"))
    for i in range(1, len(terms)):
        inter = inter.withColumn(
            "__m", F.array_intersect("__m", F.col(f"d{i}"))
        )
    return inter.select(F.explode("__m").alias("doc"))


def bm25_topk(
    segments: DataFrame,
    doc_len: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(doc, bm25_q): top-``k`` documents for a bag-of-terms query by
    BM25 (Robertson & Zaragoza, "The Probabilistic Relevance
    Framework: BM25 and Beyond", FnTIR 2009), answered from the index
    (posting segments + the doc-length sidecar ``doc_len``(doc, dl)
    that any index build maintains) — raw text is never touched.

    Determinism across engines: each per-(term, doc) partial score is
    quantized to an int64 (round(score * 1e6)) BEFORE the per-doc sum,
    so the final ordering is integer arithmetic — summing raw doubles
    in shuffle order would let float associativity reorder ties.
    idf uses the ln(1 + (N - df + .5)/(df + .5)) form (always
    positive). Work scales with the query terms' postings: segments
    filter to the terms first, df comes from one tiny aggregate over
    those rows, and the doc-length join touches only scored docs.
    """
    import math

    if not terms:
        raise ValueError("bm25_topk needs at least one term")
    n_docs, sum_dl = doc_len.agg(F.count(F.lit(1)), F.sum("dl")).collect()[0]
    avgdl = float(sum_dl) / float(n_docs)
    hits = (
        segments.where(F.col("term").isin(list(terms)))
        .select("term", F.explode("postings").alias("p"))
        .select("term", F.col("p.doc").alias("doc"), F.col("p.tf").alias("tf"))
    )
    dfs = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = {
        r["term"]: math.log(
            1.0 + (n_docs - r["df"] + 0.5) / (r["df"] + 0.5)
        )
        for r in dfs.collect()
    }
    idf_col = F.create_map(
        *[x for t, v in sorted(idf.items()) for x in (F.lit(t), F.lit(float(v)))]
    )
    scored = hits.join(doc_len, "doc").select(
        "doc",
        F.round(
            idf_col[F.col("term")]
            * (F.col("tf") * (1.0 + k1))
            / (
                F.col("tf")
                + F.lit(k1)
                * (1.0 - b + F.lit(b) * F.col("dl") / F.lit(avgdl))
            )
            * F.lit(1e6)
        )
        .cast("long")
        .alias("sq"),
    )
    return (
        scored.groupBy("doc")
        .agg(F.sum("sq").cast("long").alias("bm25_q"))
        .orderBy(F.col("bm25_q").desc(), F.col("doc").asc())
        .limit(k)
    )


def doc_lengths(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc, dl): token count per document — the index sidecar BM25
    normalizes against; same tokenizer as the posting build."""
    tf = term_frequencies(df, text_col, id_col)
    return tf.groupBy(F.col("id").alias("doc")).agg(
        F.sum("tf").cast("long").alias("dl")
    )


def posting_gap_stats(segments: DataFrame) -> DataFrame:
    """(term, df, n_gaps, gamma_bits, min_gap, max_gap): delta-
    encoding cost accounting for each term's posting list — gamma_bits
    is the Elias-gamma budget sum(2*floor(log2(gap)) + 1) over all
    consecutive doc-id gaps (Witten, Moffat & Bell, "Managing
    Gigabytes", 1999: gap compression is why posting lists are stored
    sorted). The operator is what an index-build pipeline runs to
    budget storage and pick codecs per term (dense stopword lists ->
    tiny gaps -> cheap; rare terms -> huge gaps -> consider absolute
    ids).

    Shape: within-segment gaps are pure JVM array algebra over the
    already-sorted postings (zip_with of the array against its own
    shift, aggregate fold for the bit sum — postings never explode to
    rows); cross-segment boundary gaps come from a lead() window over
    SEGMENT rows per term (rows proportional to segments, never to
    postings). floor(log2(g)) on an int64-exact double is
    engine-stable: log2 is exact at powers of two and the nearest
    competing value is >= 2^-20/ln2 away for realistic gaps.
    """
    from pyspark.sql import Window

    n = F.size("postings")
    docs = F.transform("postings", lambda p: p["doc"])
    gaps = F.zip_with(
        F.slice(docs, 2, n - 1),
        F.slice(docs, 1, n - 1),
        lambda a, b: a - b,
    )

    def gamma(col):
        return F.lit(2) * F.floor(F.log2(col)).cast("long") + F.lit(1)

    per_seg = segments.select(
        "term",
        "seg",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.element_at("postings", 1)["doc"].alias("first_doc"),
        F.element_at("postings", -1)["doc"].alias("last_doc"),
        F.aggregate(
            gaps,
            F.lit(0).cast("long"),
            lambda acc, g: acc + F.lit(2) * F.floor(F.log2(g)).cast("long") + F.lit(1),
        ).alias("within_bits"),
        F.array_min(gaps).alias("within_min"),
        F.array_max(gaps).alias("within_max"),
    )
    w = Window.partitionBy("term").orderBy("seg")
    with_boundary = per_seg.withColumn(
        "bgap", F.lead("first_doc").over(w) - F.col("last_doc")
    )
    return with_boundary.groupBy("term").agg(
        F.sum("n_docs").cast("long").alias("df"),
        (F.sum("n_docs") - F.lit(1)).cast("long").alias("n_gaps"),
        (
            F.sum("within_bits")
            + F.coalesce(F.sum(gamma(F.col("bgap"))), F.lit(0))
        ).cast("long").alias("gamma_bits"),
        # least/greatest skip NULLs; a df=1 term has no gaps at all ->
        # sentinel -1 (NULL-free contract)
        F.coalesce(
            F.least(F.min("within_min"), F.min("bgap")), F.lit(-1)
        ).cast("long").alias("min_gap"),
        F.coalesce(
            F.greatest(F.max("within_max"), F.max("bgap")), F.lit(-1)
        ).cast("long").alias("max_gap"),
    )


def positional_postings(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(term, doc, pos): the positional index layer — what phrase and
    proximity queries need beyond (doc, tf) postings. Tokenization is
    the engine-wide whitespace normalizer (lowercased), positions are
    1-based token offsets. One narrow shuffle if the caller
    repartitions by term; at web scale this is the classic
    position-augmented posting list (each row ~16 bytes + term)."""
    from ..functions.text import norm_ws

    toks = F.split(norm_ws(text_col), " ")
    return (
        df.select(F.col(id_col).alias("doc"), F.posexplode(toks))
        .where(F.col("col") != "")
        .select(
            F.col("col").alias("term"),
            "doc",
            (F.col("pos") + 1).alias("pos"),
        )
    )


def phrase_query(postings: DataFrame, terms: list[str]) -> DataFrame:
    """(doc, n_matches): documents containing the EXACT consecutive
    phrase ``terms``, by the standard positional-index phrase join:
    the i-th term's postings shifted by i must agree on (doc,
    position). Each join is an equi-join on (doc, pos) — hash joins
    on narrow keys, never a scan of the text — and the first term's
    postings anchor the plan, so selective leading terms prune
    everything downstream (put the rarest term first when the
    optimizer lacks term statistics)."""
    if not terms:
        raise ValueError("terms must be non-empty")
    anchor = postings.where(F.col("term") == terms[0]).select(
        "doc", F.col("pos").alias("p0")
    )
    cur = anchor
    for i, t in enumerate(terms[1:], start=1):
        nxt = postings.where(F.col("term") == t).select(
            "doc", (F.col("pos") - i).alias("p0")
        )
        cur = cur.join(nxt, ["doc", "p0"])
    return cur.groupBy("doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches")
    )


def proximity_query(
    postings: DataFrame, term_a: str, term_b: str, window: int = 3
) -> DataFrame:
    """(doc, n_pairs): documents where ``term_a`` and ``term_b``
    co-occur within ``window`` token positions (|pos_a − pos_b| <=
    window), counting every qualifying position pair — the classic
    proximity operator on a positional index. One equi-join on doc
    between the two terms' postings with the band as a post-filter:
    per-doc work is tf_a·tf_b, the same cost every positional engine
    pays; the join never touches other terms' postings."""
    if term_a == term_b:
        raise ValueError("proximity terms must differ")
    pa = postings.where(F.col("term") == term_a).select(
        "doc", F.col("pos").alias("pa")
    )
    pb = postings.where(F.col("term") == term_b).select(
        "doc", F.col("pos").alias("pb")
    )
    return (
        pa.join(pb, "doc")
        .where(F.abs(F.col("pa") - F.col("pb")) <= window)
        .groupBy("doc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )

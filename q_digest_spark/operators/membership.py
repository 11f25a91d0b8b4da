"""Distributed membership probing: filter a huge table against a
Bloom filter (url blocklists, seen-before dedup, join pre-filtering).

The filter is built once (bloom_of — one pass over the small side),
then shipped to executors inside the UDF closure (a few MB; broadcast
semantics) and probed vectorized per Arrow batch. At 10^12 rows this
replaces a shuffle join against the blocklist with a map-side filter:
zero false negatives means nothing is wrongly dropped when
``keep_members=False`` (blocklist mode); false positives (rate
(1-e^(-kn/m))^k, sized by the caller) cause only over-dropping,
the safe direction for a blocklist.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..sketches import Bloom, from_bytes


def _probe_column(df: DataFrame, col, filt, flag_name: str) -> DataFrame:
    """The one probe body: hash `col` JVM-side with xxhash64 (as the
    ``*_of`` builders do), ship the filter's bytes in the closure,
    decode them once per task and add ``flag_name`` =
    ``contains_hashes`` per Arrow batch."""
    buf = filt.to_bytes()
    c = F.col(col) if isinstance(col, str) else col
    hdf = df.withColumn("__h", F.xxhash64(c))
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", `{flag_name}` boolean"

    def probe(batches: Iterable[pd.DataFrame]):
        fl = from_bytes(buf)
        for pdf in batches:
            if not len(pdf):
                continue
            h = pdf["__h"].to_numpy().astype(np.int64).view(np.uint64)
            res = pdf.drop(columns=["__h"])
            res[flag_name] = fl.contains_hashes(h)
            yield res

    return hdf.mapInPandas(probe, out_schema)


def bloom_probe_column(df: DataFrame, col, bloom: Bloom, flag_name: str = "is_member") -> DataFrame:
    """Adds a boolean column: does `col` (hashed JVM-side with
    xxhash64, matching bloom_of) hit the filter?"""
    return _probe_column(df, col, bloom, flag_name)


def bloom_filter_rows(
    df: DataFrame, col, bloom: Bloom, keep_members: bool = False
) -> DataFrame:
    """Blocklist filter: keep rows whose key is NOT in the filter
    (default), or only member rows (keep_members=True, a lossy
    semi-join prefilter — follow with an exact join when false
    positives matter)."""
    flagged = bloom_probe_column(df, col, bloom, "__member")
    cond = F.col("__member") if keep_members else ~F.col("__member")
    return flagged.where(cond).drop("__member")


def counting_bloom_probe_column(
    df: DataFrame, col, cbf, flag_name: str = "is_member"
) -> DataFrame:
    """Counting-Bloom variant of bloom_probe_column: the filter being
    probed supports deletion, so 'is_member' reflects the NET insert
    minus delete state (zero false negatives for keys still present
    under multiset discipline). Same shipping model: serialized
    filter in the closure, JVM xxhash64 prehash, vectorized probe per
    Arrow batch."""
    return _probe_column(df, col, cbf, flag_name)


def referential_orphans(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
    m_bits: int = 1 << 22,
) -> DataFrame:
    """Referential-integrity audit: count child rows whose foreign key
    has no matching parent row. One row out:
    (n_rows, n_keyed, n_orphans) — n_rows includes NULL-key rows,
    n_keyed excludes them (a NULL FK is 'not asserted', not an
    orphan, matching SQL NOT EXISTS semantics).

    Scale shape: a Bloom of the parent keys (one pass over the parent,
    a few MB shipped in the probe closure) splits the child map-side.
    Probe MISSES are definitely orphans — Bloom has no false
    negatives — and never enter a shuffle; only probe HITS (true
    matches + the small FP fraction) go through the exact anti-join
    confirm, so the join's Exchange carries ~the matched fraction of
    the child instead of the whole table, and false positives cannot
    corrupt the count. This is the same miss-skips-shuffle /
    exact-confirm contract as ``operators.dedup.incremental_dedup``."""
    from q_digest_spark.operators.quantiles import bloom_of

    ck = F.col(child_key)
    keyed = child.select(ck.alias("__ck")).where(F.col("__ck").isNotNull())
    n_rows = child.count()
    bl = bloom_of(parent.select(F.col(parent_key)), parent_key, m_bits=m_bits)
    spark = child.sparkSession
    if bl is None:  # empty parent: every keyed child row is an orphan
        n_keyed = keyed.count()
        return spark.createDataFrame(
            [(n_rows, n_keyed, n_keyed)],
            "n_rows long, n_keyed long, n_orphans long",
        )
    probed = bloom_probe_column(keyed, "__ck", bl, "hit").persist()
    try:
        agg = probed.groupBy("hit").agg(F.count(F.lit(1)).alias("c"))
        by_hit = {r["hit"]: r["c"] for r in agg.collect()}
        fp_orphans = (
            probed.where(F.col("hit"))
            .select("__ck")
            .join(
                parent.select(F.col(parent_key).alias("__ck")).distinct(),
                "__ck",
                "left_anti",
            )
            .count()
        )
    finally:
        probed.unpersist()
    n_keyed = sum(by_hit.values())
    n_orphans = by_hit.get(False, 0) + fp_orphans
    return spark.createDataFrame(
        [(int(n_rows), int(n_keyed), int(n_orphans))],
        "n_rows long, n_keyed long, n_orphans long",
    )


def cuckoo_probe_column(
    df: DataFrame, col, ck, flag_name: str = "is_member"
) -> DataFrame:
    """Adds a boolean column: does `col` (hashed JVM-side with
    xxhash64, matching cuckoo_of) hit the cuckoo filter? Same
    map-side contract as bloom_probe_column — the filter ships in the
    closure and is probed vectorized per Arrow batch."""
    return _probe_column(df, col, ck, flag_name)

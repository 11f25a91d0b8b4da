"""Deterministic sequence packing: group documents into fixed
token-budget packs (training shards) — the step between a cleaned
corpus and a tokenizer/dataloader.

True bin packing is sequential; the distributed, deterministic,
engine-portable variant used here is GREEDY CONTIGUOUS packing per
stratum: order documents by md5(id||salt) (a deterministic shuffle —
retry/re-partition stable, reproducible by any SQL engine), take the
running token total, and cut a new pack every time the running total
crosses a multiple of ``budget``:

    pack_id = floor(cum_tokens_before_this_doc / budget)

A pack may overflow by at most one document (the straddler joins the
pack it started in) — the standard streaming-packing trade; no pack
under-fills except the stratum's last.

Scale shape: ONE shuffle on the stratum column and an in-partition
sort per stratum (the same shape as sessionization) — no global
sort. The md5 ordering doubles as a shuffle of the corpus, which
training wants anyway.

No reference counterpart (qcore.c has no text layer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def pack_documents(
    df: DataFrame,
    id_col: str,
    tokens_col,
    strata_col: str,
    budget: int,
    salt: str = "pack",
) -> DataFrame:
    """Assign every row a (stratum, pack_id): deterministic greedy
    contiguous packing of ``tokens_col`` into ``budget``-token packs
    within each stratum. Returns the input columns plus ``pack_id``.
    Rows with NULL or non-positive token counts are excluded (they
    cannot contribute to a pack)."""
    c = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    idc = F.col(id_col)
    h = F.md5(F.concat(idc.cast("string"), F.lit(":" + salt)))
    w = (
        Window.partitionBy(strata_col)
        .orderBy(h.asc(), idc.asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        df.where(c.isNotNull() & (c > 0))
        .withColumn("__cum", F.sum(c).over(w))
        .withColumn(
            "pack_id",
            F.floor((F.col("__cum") - c) / F.lit(budget)).cast("long"),
        )
        .drop("__cum")
    )
    return out


def pack_summary(
    packed: DataFrame, strata_col: str, tokens_col
) -> DataFrame:
    """(stratum, pack_id, n_docs, total_tokens) per pack."""
    c = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    return packed.groupBy(strata_col, "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(c).alias("total_tokens"),
    )

"""Scalable heavy-hitter (top-k) detection: Count-Min + distributed
candidate generation.

The reference has no frequency sketch (its only query is quantile/rank,
serial-implementation/src/qcore.c:341-388); Count-Min heavy hitters are
a north_rule addition ("heavy-hitter-domain queries").

Exact top-k via groupBy().count().orderBy() shuffles one row per
DISTINCT key — at 10^12 web pages that is billions of (domain, count)
rows through one sort. The sketch path shuffles almost nothing:

1. one mapInPandas pass over ``(key, xxhash64(key))`` builds, per
   partition, a Count-Min partial AND the partition's local top-m
   candidates ``(hash, key, count)`` (pandas groupby); a partition is
   one of the input's, or of ``input.coalesce(fanout)`` when the core
   coalesces (see ``aggregate.fold_partials``);
2. the shared ungrouped core (``aggregate.fold_partials``) merges
   both: candidate counts sum to each key's lower bound;
3. the driver scores the m best lower bounds with the merged CMS and
   returns the top-k as an already-sorted local DataFrame. Keys travel
   with the candidates: no second scan, ``distinct`` or key join.

Correctness contract — this is a HEAVY-HITTER operator, not an exact
top-k: a key appears in the candidate set iff it is a local top-m key
in >= 1 partition. A key whose count in its largest partition exceeds
that partition's m-th largest count is guaranteed in (true for any key
with a partition share above ~rows_per_partition/(m+1), pigeonhole);
keys in a NEAR-UNIFORM tail (no count separation, e.g. 1500 keys with
counts 80-99 split 32 ways) have no such guarantee and the returned
tail of the top-k can differ from the exact one. When the distinct-key
count itself is small, set candidates_per_partition >= n_distinct and
the candidate set is exhaustive regardless of partitioning. Verified
against the exact group-by oracle in tests/test_heavy_hitters.py on
the Zipf-skewed domains fixture (multi-partition), and exhaustively
(m >= n_distinct) in the driver query.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from .aggregate import PARTIAL_SCHEMA, _as_col, fold_partials
from .quantiles import HashedCMS

_CAND_MAGIC = b"CND1"


class Candidates:
    """Exact counts of a candidate key set: a frame (h = the key's
    int64 hash, cnt, key). Merge sums the counts of shared hashes, so
    folding every partition's top-m gives each key's lower bound.
    Wire format: magic + the frame as an Arrow IPC stream (keys of any
    Spark type), so decoding stored bytes runs no pickle."""

    def __init__(self, table: pd.DataFrame):
        self.table = table

    def merge(self, other: "Candidates") -> "Candidates":
        both = pd.concat([self.table, other.table], ignore_index=True)
        self.table = both.groupby("h", sort=False, as_index=False).agg(
            cnt=("cnt", "sum"), key=("key", "first")
        )
        return self

    def top(self, m: int) -> pd.DataFrame:
        """The m largest counts, ties by hash."""
        return self.table.sort_values(["cnt", "h"], ascending=[False, True]).head(m)

    def to_bytes(self) -> bytes:
        # no pandas metadata: the bytes do not depend on the pandas version
        table = pa.Table.from_pandas(self.table, preserve_index=False).replace_schema_metadata()
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
        return _CAND_MAGIC + sink.getvalue().to_pybytes()

    @staticmethod
    def from_bytes(buf: bytes) -> "Candidates":
        if buf[:4] != _CAND_MAGIC:
            raise ValueError("bad Candidates buffer")
        try:
            return Candidates(pa.ipc.open_stream(buf[4:]).read_pandas())
        except (pa.ArrowException, OSError) as e:
            raise ValueError(f"bad Candidates buffer: {e}") from None


def _top_k(df: DataFrame, col, k: int, candidates_per_partition: int,
           depth: int, width: int, fanout: int) -> pd.DataFrame:
    """(key_hash, key, est_cnt) of the top k by est_cnt desc, key_hash
    asc."""
    m = max(candidates_per_partition, 4 * k)
    c = _as_col(col)

    def build(batches: Iterable[pd.DataFrame]):
        sk, cand, rows, pid = HashedCMS(depth, width), None, 0, -1
        for pdf in batches:
            if not len(pdf):
                continue
            pid = int(pdf["__pid"].iloc[0])
            sk.update_batch(pdf["h"].to_numpy(dtype=np.int64))
            rows += len(pdf)
            cur = Candidates(pdf.groupby("h", sort=False, as_index=False).agg(
                cnt=("key", "size"), key=("key", "first")
            ))
            cand = cur if cand is None else cand.merge(cur)
        if cand is not None:
            yield pd.DataFrame({
                "part_id": [pid, pid],
                "name": ["cms", "cand"],
                "sketch": [sk.to_bytes(), Candidates(cand.top(m)).to_bytes()],
                "rows": [rows, rows],
            })

    def partials(df: DataFrame) -> DataFrame:
        return df.select(
            F.spark_partition_id().alias("__pid"),
            F.xxhash64(c).alias("h"),
            c.alias("key"),
        ).mapInPandas(build, PARTIAL_SCHEMA)

    merged = fold_partials(df, partials, fanout)
    if not merged:
        return pd.DataFrame({"key_hash": [], "key": [], "est_cnt": []})
    cand = merged["cand"][0].top(m)
    est = merged["cms"][0].estimate_hashes(cand["h"].to_numpy(np.int64).view(np.uint64))
    out = cand.assign(key_hash=cand["h"], est_cnt=est.astype(np.int64))
    return out.sort_values(["est_cnt", "key_hash"], ascending=[False, True]).head(k)


def cms_topk_with_keys(
    df: DataFrame,
    col,
    k: int = 10,
    candidates_per_partition: int = 64,
    depth: int = 5,
    width: int = 16384,
    fanout: int = 32,
) -> DataFrame:
    """Top-k keys of ``col`` by Count-Min estimated frequency.

    Returns a local DataFrame (key, est_cnt) ordered by est_cnt desc,
    key asc (nulls first, as Spark orders them). One full-data pass, merged as ``aggregate.fold_partials`` chooses:
    one Spark job unless ``fanout`` is below the default parallelism
    and the input has more than ``fanout`` partitions, when the
    partials tree-merge in groups of ``fanout`` first (shuffle volume
    O(n_partitions * (candidates + sketch bytes))).
    """
    out = _top_k(df, col, k, candidates_per_partition, depth, width, fanout).sort_values(
        ["est_cnt", "key"], ascending=[False, True], na_position="first"
    )
    key_type = df.select(_as_col(col).alias("key")).schema["key"].dataType.simpleString()
    return df.sparkSession.createDataFrame(out[["key", "est_cnt"]], f"key {key_type}, est_cnt long")


def guaranteed_heavy(df: DataFrame, col, k: int) -> DataFrame:
    """Keys whose EXACT count clears the Misra-Gries guarantee
    threshold count·(k+1) > n — i.e. exactly the keys an MG(k) summary
    is guaranteed to retain. Pigeonhole bounds the survivor set to at
    most k keys, so this is the scale-safe exact side of an MG
    verification: one (key) shuffle with map-side combine for the
    counts, the grand total broadcast back as a 1-row join, the
    threshold filter evaluated in the JVM — the ONLY rows that ever
    reach the driver are the <= k survivors. Never collect the full
    per-key histogram (a web-scale vocabulary is billions of rows).

    Returns (key, exact_count) with integer-exact threshold arithmetic
    (count·(k+1) > n), reproducible verbatim in any SQL engine.
    """
    c = F.col(col) if isinstance(col, str) else col
    counts = df.select(c.alias("key")).groupBy("key").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    total = counts.agg(F.sum("exact_count").alias("__n"))
    return (
        counts.join(F.broadcast(total))
        .where(F.col("exact_count") * (k + 1) > F.col("__n"))
        .select("key", "exact_count")
    )

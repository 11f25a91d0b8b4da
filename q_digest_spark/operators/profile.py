"""One-pass table profiling: per-column statistics from fused sketches.

The data-quality sweep every ingestion pipeline runs (row counts, null
rates, distinct cardinalities, value quantiles) — expressed as ONE
fused ``aggregate_sketches`` pass, so profiling N columns of a 100 TB table
costs one scan, not N. Distinct counts come from HLL, numeric
quantiles from KLL; non-null counts are the fold's exact ``rows``
(every consumed value is counted).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from .aggregate import SketchSpec, aggregate_sketches


def profile_columns(
    df: DataFrame,
    distinct_cols: Sequence[str],
    numeric_cols: Sequence[str] = (),
    fanout: int = 32,
) -> dict:
    """Profile in ONE scan. Returns
    ``{col: {"n_nonnull": int, "distinct_est": float,
             "p50"/"p95": float (numeric only)}}``.
    Null counts derive as total_rows - n_nonnull by the caller (or
    profile a never-null key column for the total)."""
    from functools import partial

    from ..sketches import HLL, KLL

    specs = {}
    for c in distinct_cols:
        specs[f"hll::{c}"] = SketchSpec(c, partial(HLL, 14))
    for c in numeric_cols:
        specs[f"kll::{c}"] = SketchSpec(F.col(c).cast("double"), partial(KLL, 200))
    prof: dict = {}
    for name, (sk, rows) in aggregate_sketches(df, specs, fanout).items():
        kind, col = name.split("::", 1)
        entry = prof.setdefault(col, {})
        if kind == "hll":
            entry["n_nonnull"] = rows
            entry["distinct_est"] = float(sk.estimate())
        else:
            entry["p50"], entry["p95"] = (float(v) for v in sk.quantiles([0.5, 0.95]))
            entry.setdefault("n_nonnull", rows)
    return prof


def key_skew_profile(df: DataFrame, key_col: str) -> DataFrame:
    """One-row, integer-exact skew report for a join/partition key:
    how badly would a shuffle on ``key_col`` skew at scale?

        n_rows, n_keys, max_cnt, p50_cnt, p99_cnt,
        gini_ppm  (Gini coefficient of the per-key count
                   distribution, floor(G * 1e6) as BIGINT)

    This is the pre-flight check the engine's own skew machinery
    (operators/skewjoin.py salting, dedup.cap_buckets) keys off: a
    high max_cnt/p50_cnt ratio or Gini near 1 means the key needs
    salting before any groupBy/join on it.

    100-TB shape: one groupBy(key) shuffle produces per-key counts;
    everything after operates on the HISTOGRAM OF COUNTS (count value
    c -> m_c keys), whose cardinality is bounded by the distinct
    multiplicities (heavy-tailed real data: hundreds of rows even at
    billions of keys) — so the rank arithmetic never needs a global
    sort of the key table. Σ rank_i·c_i is computed analytically per
    histogram bucket: keys with count c occupy a contiguous ascending
    rank block [prev+1, prev+m_c], whose rank-sum is
    m_c·prev + m_c(m_c+1)/2; ties make the assignment within a block
    irrelevant (equal c). Gini (ascending-rank form, always >= 0):

        G = (2·Σ rank_i·c_i - (n_keys+1)·Σ c_i) / (n_keys·Σ c_i)

    emitted as floor(G·1e6) — numerator and denominator are carried
    in decimal(38,0), so the ppm value is exact for any table whose
    intermediate products fit 38 digits (n_keys·n_rows < 1e38; far
    beyond any real table). Both engines floor a NON-NEGATIVE ratio,
    so Python-vs-SQL integer-division semantics cannot diverge.
    """
    counts = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    hist = counts.groupBy("c").agg(F.count(F.lit(1)).alias("m"))
    # the histogram is tiny (distinct multiplicity values); a
    # single-task window over it is deliberate and bounded
    from pyspark.sql import Window

    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    dec = "decimal(38,0)"
    ranked = hist.select(
        F.col("c").cast(dec).alias("c"),
        F.col("m").cast(dec).alias("m"),
        F.coalesce(F.sum("m").over(w), F.lit(0)).cast(dec).alias("prev"),
    )
    terms = ranked.select(
        "c",
        "m",
        "prev",
        (
            F.col("c")
            * (F.col("m") * F.col("prev")
               + (F.col("m") * (F.col("m") + F.lit(1))) / F.lit(2))
        ).cast(dec).alias("rank_term"),
    )
    agg = terms.agg(
        F.sum(F.col("c") * F.col("m")).cast(dec).alias("n_rows"),
        F.sum("m").cast(dec).alias("n_keys"),
        F.max("c").cast("long").alias("max_cnt"),
        F.sum("rank_term").cast(dec).alias("wrs"),
    )
    # rank-based percentiles of the count distribution from the same
    # histogram: smallest c whose cumulative key count reaches
    # ceil(q * n_keys)
    cum = ranked.select("c", (F.col("prev") + F.col("m")).alias("cum"))
    n_keys_sq = agg.select(F.col("n_keys").cast("long").alias("nk"))
    pcts = (
        cum.crossJoin(F.broadcast(n_keys_sq))
        .select(
            "c",
            "cum",
            # ceil(q*n) via integer arithmetic (non-negative, so DIV
            # agrees between engines): ceil(n/2), ceil(99n/100)
            F.expr("(nk + 1) DIV 2").alias("r50"),
            F.expr("(nk * 99 + 99) DIV 100").alias("r99"),
        )
        .agg(
            F.min(F.when(F.col("cum") >= F.col("r50"), F.col("c"))).cast("long").alias("p50_cnt"),
            F.min(F.when(F.col("cum") >= F.col("r99"), F.col("c"))).cast("long").alias("p99_cnt"),
        )
    )
    return (
        agg.crossJoin(pcts)
        .select(
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_keys").cast("long").alias("n_keys"),
            "max_cnt",
            "p50_cnt",
            "p99_cnt",
            F.expr(
                "CAST((CAST(2 AS decimal(38,0)) * wrs * 1000000 "
                " - (n_keys + 1) * n_rows * 1000000) DIV (n_keys * n_rows) AS BIGINT)"
            ).alias("gini_ppm"),
        )
    )


def functional_dependency_profile(
    df: DataFrame,
    fds: Sequence[tuple[str, Sequence[str], str]],
) -> DataFrame:
    """Approximate-FD discovery metrics for candidate dependencies.

    For each candidate ``(name, lhs_cols, rhs_col)`` this measures how
    close the table comes to satisfying the functional dependency
    ``lhs -> rhs`` using the g3 error (Kivinen & Mannila 1995; the TANE
    family's standard violation measure): the minimum number of rows
    that must be REMOVED for the FD to hold exactly,

        g3 = n - sum over lhs groups of max rhs-value count.

    Returned per FD (one row each, every column BIGINT/engine-exact):
    ``fd_name, n_rows, n_lhs, n_lhs_violating, n_row_violations,
    holds (g3 == 0), g3_ppm`` — ppm via the non-negative half-up
    integer division that matches any ANSI engine bit-for-bit.

    100-TB shape, per FD: ONE row-scaled groupBy(lhs, rhs) with
    map-side combine, then a groupBy(lhs) over the (much smaller)
    value-pair table and a single-row fold — the same two-level
    contract as every sketch here. Candidate FDs are checked
    independently (a handful of candidates = a handful of scans; fuse
    upstream with .cache()/spill if the list grows). Null rows on
    either side are excluded (SQL-standard FD semantics ignore nulls).
    """
    outs = []
    for name, lhs_cols, rhs_col in fds:
        lhs = [F.col(c) for c in lhs_cols]
        cond = F.col(rhs_col).isNotNull()
        for c in lhs_cols:
            cond = cond & F.col(c).isNotNull()
        d = df.where(cond)
        pairs = d.groupBy(*lhs, F.col(rhs_col)).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        per_lhs = pairs.groupBy(*lhs).agg(
            F.sum("c").cast("long").alias("n_g"),
            F.max("c").cast("long").alias("keep"),
            F.count(F.lit(1)).cast("long").alias("n_rhs"),
        )
        row = per_lhs.agg(
            F.sum("n_g").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_lhs"),
            F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_lhs_violating"),
            F.sum(F.col("n_g") - F.col("keep")).cast("long").alias("n_row_violations"),
        )
        outs.append(
            row.select(
                F.lit(name).alias("fd_name"),
                "n_rows",
                "n_lhs",
                "n_lhs_violating",
                "n_row_violations",
                (F.col("n_row_violations") == 0).alias("holds"),
                F.expr(
                    "CAST((2 * 1000000 * n_row_violations + n_rows)"
                    " DIV (2 * n_rows) AS BIGINT)"
                ).alias("g3_ppm"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


MERSENNE61 = (1 << 61) - 1


def table_digest(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Order-independent content fingerprint of a table — the
    cross-cluster equality check a 100-TB replication/migration job
    runs WITHOUT moving data: both sides compute (n_rows, digest_a,
    digest_b) locally and compare three numbers.

    Each row's canonical string is the unit-separator (chr 31) join
    of the named columns with NULL -> chr(0) sentinel (so NULL and
    '' differ, and column boundaries cannot alias); the row hash is
    the repo's engine-portable 60-bit md5 prefix (winnowing
    convention) under two independent salts; the table digest is the
    SUM of row hashes mod 2^61-1 — commutative and associative, so
    it is invariant under partitioning, row order, and merge
    schedule (the same mergeable-state contract as every sketch
    here), and any single-row change flips both digests except with
    probability ~2^-120.

    Caller contract: pass columns whose CAST-to-string form is
    engine-portable (integers + strings; avoid floats/timestamps,
    whose text forms are dialect-specific).

    One scan, one 1-row aggregate; the mod runs on the driver over
    the exact decimal(38,0) sums (int64-safe output at any row
    count; the sum itself stays under 10^38 to ~8*10^19 rows).
    """
    canon = F.concat_ws(
        chr(31),
        *[F.coalesce(F.col(c).cast("string"), F.lit(chr(0))) for c in cols],
    )

    def h60(salt: str):
        return F.conv(
            F.substring(F.md5(F.concat(canon, F.lit(salt))), 1, 15), 16, 10
        ).cast("decimal(38,0)")

    row = df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(h60(":tda")).cast("decimal(38,0)").alias("sa"),
        F.sum(h60(":tdb")).cast("decimal(38,0)").alias("sb"),
    ).collect()[0]
    spark = df.sparkSession
    return spark.createDataFrame(
        [
            (
                int(row["n_rows"]),
                int(row["sa"] or 0) % MERSENNE61,
                int(row["sb"] or 0) % MERSENNE61,
            )
        ],
        "n_rows long, digest_a long, digest_b long",
    )

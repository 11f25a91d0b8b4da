"""Densest-subgraph approximation by parallel peeling (Charikar 2000
greedy, parallelized as Bahmani, Kumar, Vassilvitskii VLDB'12): each
round removes EVERY node whose degree is at most 2(1+eps) times the
current average density rho = |E|/|V|, tracking the best round; the
surviving round's density is within a (2+2eps) factor of the optimum,
and the number of rounds is O(log_{1+eps} |V|) — at least an
eps/(1+eps) fraction of nodes leaves every round by a pigeonhole on
the degree sum.

Everything is integer-exact and hence engine-reproducible:

* the peel threshold ``deg <= 2(1+eps) * E/V`` with rational
  eps = eps_tenths/10 is evaluated as
  ``deg * V * 10 <= 2 * (10 + eps_tenths) * E`` in int64;
* the per-round density is reported half-up in ppm,
  ``(2_000_000 * E + V) div (2 * V)``;
* the best round maximizes the exact rational E/V via cross
  multiplication (earliest round wins ties), never the quantized ppm.

Scale design (the operators/graph.py discipline): one degree
aggregate + two semi-joins per round over a strictly shrinking edge
table, re-spilled to parquet each round so lineage never accumulates;
only the three per-round integers (V, E, removed) reach the driver.
int64 domain: deg * V * 10 < 2^63 holds through V ~ 10^9 at any
realistic max degree; beyond that route the two comparison products
through DECIMAL(38,0).

Public methodology (Charikar APPROX'00; Bahmani et al. VLDB'12); no
reference counterpart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ._spill import cleanup_spill, spill_parquet


def densest_subgraph_rounds(
    edges: DataFrame,
    u: str = "u",
    v: str = "v",
    eps_tenths: int = 1,
    max_rounds: int = 64,
) -> DataFrame:
    """One row per peel round: ``(round, n_nodes, n_edges,
    density_ppm, is_best)`` — round 0 is the full graph; ``is_best``
    marks the round with the maximal exact density E/V (earliest on
    ties), whose node set is the (2+2eps)-approximate densest
    subgraph. Edges are undirected: canonicalized, self-loops and
    duplicates dropped.
    """
    if eps_tenths < 1:
        raise ValueError(f"eps_tenths must be >= 1, got {eps_tenths}")
    spark = edges.sparkSession
    e = (
        edges.select(
            F.col(u).cast("string").alias("s"),
            F.col(v).cast("string").alias("t"),
        )
        .where(
            F.col("s").isNotNull()
            & F.col("t").isNotNull()
            & (F.col("s") != F.col("t"))
        )
        .select(F.least("s", "t").alias("u"), F.greatest("s", "t").alias("v"))
        .distinct()
    )
    e = spill_parquet(e, "qds_dsg_edges_")
    rounds: list[tuple[int, int, int]] = []  # (round, V, E)
    thr = 2 * (10 + eps_tenths)
    for rnd in range(max_rounds):
        deg = spill_parquet(
            e.select(F.col("u").alias("node"))
            .union(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("deg")),
            "qds_dsg_deg_",
        )
        counts = deg.agg(
            F.count(F.lit(1)).alias("nv"), F.sum("deg").alias("degsum")
        ).collect()[0]
        n_v = int(counts["nv"] or 0)
        n_e = int(counts["degsum"] or 0) // 2
        if n_v == 0:
            cleanup_spill(deg)
            break
        rounds.append((rnd, n_v, n_e))
        # peel: deg * V * 10 <= 2 (10 + eps_tenths) E, integer-exact
        alive = deg.where(
            F.col("deg") * F.lit(n_v) * 10 > F.lit(thr) * F.lit(n_e)
        ).select("node")
        e2 = spill_parquet(
            e.join(alive.withColumnRenamed("node", "u"), "u", "leftsemi")
            .join(alive.withColumnRenamed("node", "v"), "v", "leftsemi"),
            "qds_dsg_edges_",
        )
        cleanup_spill(e)
        cleanup_spill(deg)
        e = e2
    cleanup_spill(e)
    # best round by exact rational E/V (cross multiplication), ties ->
    # earliest; density reported half-up ppm
    best = 0
    for i in range(1, len(rounds)):
        _, bv, be = rounds[best]
        _, iv, ie = rounds[i]
        if ie * bv > be * iv:
            best = i
    out = [
        (
            rnd,
            n_v,
            n_e,
            (2_000_000 * n_e + n_v) // (2 * n_v),
            i == best,
        )
        for i, (rnd, n_v, n_e) in enumerate(rounds)
    ]
    return spark.createDataFrame(
        out,
        "round long, n_nodes long, n_edges long, density_ppm long, "
        "is_best boolean",
    )

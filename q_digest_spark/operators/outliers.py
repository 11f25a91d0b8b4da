"""Moments-sketch-driven outlier flagging: per-group z-score gates
computed as EXACT integer algebra, so a SQL engine reproduces every
flag bit-for-bit.

The moments sketch (sketches/moments.py, integer mode) gives exact
arbitrary-precision Σv and Σv² per group in one scan. Broadcasting
those three numbers back turns the usual float z-score test into a
pure integer comparison:

    |v - mean| > t·std
    ⟺ (v - s1/n)² > t²·(n·s2 - s1²)/n²
    ⟺ (v·n - s1)² > t²·(n·s2 - s1²)          -- all integers

computed in decimal(38,0) JVM-side (DuckDB mirrors it with HUGEINT).
No float enters the comparison, so there is no rounding boundary to
disagree on — the graded-query contract. Bound check: the operands
stay under 10^38 as long as (v·n)² and n·s2·t² do; with cent-scale
values (v ≤ 10^8) that holds through n ≈ 10^10 rows per group.

Plan shape: one grouped-sketch pass (raw rows never shuffle), a
<= n_groups collect, then a broadcast hash join + whole-stage-codegen
decimal predicates over the full table — zero extra shuffles, no
Python in the scoring pass at all.
"""

from __future__ import annotations

from decimal import Decimal
from typing import Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DecimalType, StructField, StructType

from ..sketches import from_bytes
from ..sketches.moments import Moments
from .aggregate import grouped_sketch_rows

_DEC = DecimalType(38, 0)


def zscore_outlier_flags(
    df: DataFrame,
    group_cols: Sequence[str],
    col,
    thresholds: Sequence[int] = (2, 3),
    value_name: str = "__zv",
) -> DataFrame:
    """df + one boolean column ``z_gt_{t}`` per threshold: is the row's
    value more than t population standard deviations from its group
    mean? Exact (integer algebra throughout — see module docstring).
    Rows with NULL values get NULL flags; groups with zero variance
    flag nothing (both sides 0, strict >)."""
    group_cols = list(group_cols)
    c = F.col(col) if isinstance(col, str) else col
    rows = grouped_sketch_rows(
        df.select(*group_cols, c.cast("long").alias(value_name)),
        group_cols, value_name, Moments,
    ).collect()
    stats = []
    for r in rows:
        sk = from_bytes(bytes(r["sketch"]))
        stats.append(
            tuple(r[g] for g in group_cols)
            + (Decimal(sk.n), Decimal(int(sk.s1)), Decimal(int(sk.s2)))
        )
    spark = df.sparkSession
    key_fields = [df.schema[g] for g in group_cols]
    schema = StructType(
        key_fields
        + [StructField("__mn", _DEC), StructField("__ms1", _DEC),
           StructField("__ms2", _DEC)]
    )
    mdf = F.broadcast(spark.createDataFrame(stats, schema))
    out = df.withColumn(value_name, c.cast("long")).join(
        mdf, group_cols, "left"
    )
    v = F.col(value_name).cast(_DEC)
    lhs_root = v * F.col("__mn") - F.col("__ms1")  # v·n − s1
    var_n2 = (
        F.col("__mn") * F.col("__ms2") - F.col("__ms1") * F.col("__ms1")
    )  # n·s2 − s1² = n²·var
    for t in thresholds:
        out = out.withColumn(
            f"z_gt_{t}", lhs_root * lhs_root > F.lit(t * t).cast(_DEC) * var_n2
        )
    return out.drop(value_name, "__mn", "__ms1", "__ms2")

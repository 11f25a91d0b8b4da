"""Incremental sketch materialization: the pre-aggregated daily cube.

THE production reason sketches must be mergeable (the property the
reference's merge operator exists for, qcore.c:390-417): aggregate
each day's data ONCE into a tiny sketch row, append it to a sketch
table, and answer any date-range query forever after by merging only
the stored rows — no re-scan of the raw data. A year of "p99 over an
arbitrary window" queries costs 365 sketch-row reads instead of 365
raw-data scans; at 10^12 rows/day that is the difference between
seconds and cluster-hours.

Layout: parquet partitioned by day (`day date, sketch binary,
rows long`), so a range query's scan prunes to the requested day
directories. Appending a new day is a one-partition write; re-running
a day overwrites it idempotently (dynamic partition overwrite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .aggregate import _fold, _merge_group, grouped_sketch_rows


def write_daily_sketches(
    df: DataFrame,
    ts_col: str,
    col,
    factory,
    deserialize,
    path: str,
    mode: str = "overwrite",
) -> None:
    """One sketch row per day of ``ts_col`` (built through the
    grouped map-side-partial pipeline), written partitioned by day.
    The write sets ``partitionOverwriteMode=dynamic`` itself, so a
    rerun over one day's input replaces ONLY that day's partition —
    without it Spark's static overwrite would silently delete every
    previously stored day first, breaking the incremental contract."""
    rows = grouped_sketch_rows(
        df.withColumn("day", F.to_date(ts_col)), ["day"], col, factory, deserialize
    )
    (
        rows.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(path)
    )


def merge_sketch_range(
    spark: SparkSession,
    path: str,
    deserialize,
    day_lo: str | None = None,
    day_hi: str | None = None,
):
    """Merge the stored daily sketches for day in [day_lo, day_hi]
    (inclusive; None = unbounded). The scan prunes to the requested
    day partitions (day is the partition column); only O(days) sketch
    rows are read and folded in day order — the raw data is never
    touched. Returns the merged sketch object, or None if the range is
    empty."""
    rows = spark.read.parquet(path)
    if day_lo is not None:
        rows = rows.where(F.col("day") >= F.lit(day_lo).cast("date"))
    if day_hi is not None:
        rows = rows.where(F.col("day") <= F.lit(day_hi).cast("date"))
    pdf = rows.select("day", "sketch").toPandas().sort_values("day", kind="stable")
    return _fold(pdf["sketch"], deserialize)


def sliding_window_rows(
    spark: SparkSession,
    path: str,
    deserialize,
    window_days: int,
) -> DataFrame:
    """Trailing-window queries over the stored daily sketch table —
    ALL windows in one distributed pass: every stored day's sketch row
    is exploded to the ``window_days`` window-end days it contributes
    to (day d belongs to windows ending d .. d+W-1), restricted to end
    days that actually exist, then merged per window with
    ``applyInPandas``. Returns (win_end date, sketch binary, rows
    long), one row per stored day.

    Scale shape: the input is the O(days) sketch table, never the raw
    data; the explode carries O(days * W) sketch-sized rows through
    ONE shuffle and each window merge touches <= W sketches. A year of
    trailing-30-day distinct curves costs ~11k tiny rows. Each window
    folds its days in day order, so the compressing families give the
    same bytes on every call."""
    rows = spark.read.parquet(path).select("day", "sketch", "rows")
    contrib = rows.withColumn(
        "win_end",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), window_days - 1))
        ),
    )
    ends = rows.select(F.col("day").alias("win_end")).distinct()
    contrib = contrib.join(F.broadcast(ends), "win_end")
    return contrib.groupBy("win_end").applyInPandas(
        _merge_group(["win_end"], deserialize, ["day"]), "win_end date, sketch binary, rows long"
    )

"""Sinks: write the pages table with the Iceberg partition layout,
emulated on plain Parquet, and Z-ordered Parquet files.

BASELINE.json input_hint targets an Iceberg table; no Iceberg runtime
jar ships in this container (checked: /opt/spark/jars), so per
SURVEY.md §2.3 the same *physical layout* is produced with Parquet
directory partitioning:

- ``warc_day = days(warc_ts)``   (Iceberg day transform)
- ``url_bucket = bucket(N, url)`` (Iceberg bucket transform — Iceberg
  buckets with murmur3; here xxhash64 pmod N, same pruning behavior)

Readers get identical partition pruning: a ``warc_ts`` range predicate
prunes day directories (verified in tests via the scan's partition
count), and url-bucket equality prunes buckets. Swapping in real
Iceberg means replacing ``write_pages_partitioned`` with
``df.writeTo(...).partitionedBy(days("warc_ts"), bucket(N, "url"))``
— the engine code above this layer does not change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

DEFAULT_URL_BUCKETS = 16


def iceberg_available(spark: SparkSession) -> bool:
    """Runtime capability probe: True iff the Iceberg Spark runtime is
    on the JVM classpath. Probed in this container (r02):
    Class.forName('org.apache.iceberg.spark.SparkCatalog') fails and
    no iceberg jar exists under the pyspark jars dir — so the engine
    emulates the layout on Parquet (module docstring). On a cluster
    with iceberg-spark-runtime, write_pages_iceberg takes over."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def write_pages_iceberg(
    df: DataFrame, table: str, n_buckets: int = DEFAULT_URL_BUCKETS
) -> None:
    """The real Iceberg path (behind the capability probe): native
    day + bucket partition transforms via writeTo. Raises RuntimeError
    where the runtime jar is absent — callers fall back to
    write_pages_partitioned, which produces the identical physical
    pruning behavior on plain Parquet."""
    if not iceberg_available(df.sparkSession):
        raise RuntimeError(
            "Iceberg Spark runtime not on the classpath; use "
            "write_pages_partitioned (same layout on plain Parquet)"
        )
    df.writeTo(table).partitionedBy(
        F.days("warc_ts"), F.bucket(n_buckets, "url")
    ).createOrReplace()


def with_partition_columns(df: DataFrame, n_buckets: int = DEFAULT_URL_BUCKETS) -> DataFrame:
    return df.withColumn("warc_day", F.to_date("warc_ts")).withColumn(
        "url_bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )


def write_pages_partitioned(
    df: DataFrame, path: str, n_buckets: int = DEFAULT_URL_BUCKETS, mode: str = "overwrite"
) -> None:
    """Pages table with Iceberg-equivalent layout (day + url bucket).

    Sized for the 10^12-row design point: day x bucket cells each get
    many input partitions' worth of data. Small writers should
    ``df.repartition("warc_day", "url_bucket")`` (or cut n_buckets)
    first or they fragment into input_partitions x days x buckets
    tiny files (observed: 1030 files for 1500 fixture rows)."""
    (
        with_partition_columns(df, n_buckets)
        .write.mode(mode)
        .partitionBy("warc_day", "url_bucket")
        .parquet(path)
    )


# ----------------------------------------------------------- z-order
def zorder_value(x, y, bits: int = 16):
    """Morton (Z-order) interleave of two rank-normalized ints as a
    pure JVM column expression: bit i of x lands at position 2i, bit
    i of y at 2i+1. Inputs must already be small non-negative ints
    (use zorder_rank to bucket arbitrary numerics to 2^bits ranks).
    Public technique (Morton 1966; the layout behind
    Delta/Iceberg OPTIMIZE ZORDER BY)."""
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(xc, i).bitwiseAND(F.lit(1)), 2 * i))
            .bitwiseOR(F.shiftleft(F.shiftright(yc, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        )
    return z


def zorder_rank(col, lo, hi, bits: int = 16):
    """Scale a numeric column to [0, 2^bits) rank buckets for
    zorder_value (linear — callers with skewed domains should pass
    pre-ranked values instead)."""
    c = F.col(col) if isinstance(col, str) else col
    span = max(float(hi) - float(lo), 1e-12)
    scaled = ((c.cast("double") - F.lit(float(lo))) / F.lit(span)) * F.lit(
        float((1 << bits) - 1)
    )
    return F.least(
        F.lit((1 << bits) - 1),
        F.greatest(F.lit(0), F.round(scaled).cast("long")),
    )


def write_zordered(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int = 16,
    bits: int = 16,
) -> None:
    """Write ``df`` as parquet clustered by the Z-order curve over
    (col_x, col_y): range-partition + sort on the interleaved Morton
    value, so EVERY output file covers a small rectangle of the 2-D
    key space and its parquet footer min/max stats are tight on BOTH
    columns — selective predicates on either column (or both) skip
    most files, where a single-column sort helps only its own column.
    File-level range tightness is asserted in tests/test_zorder.py
    via DuckDB's parquet_metadata. ONE aggregate computes the min/max
    bounds of both columns."""
    x_lo, x_hi, y_lo, y_hi = df.agg(
        F.min(col_x), F.max(col_x), F.min(col_y), F.max(col_y)
    ).collect()[0]
    z = zorder_value(
        zorder_rank(col_x, x_lo, x_hi, bits=bits),
        zorder_rank(col_y, y_lo, y_hi, bits=bits),
        bits=bits,
    )
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )

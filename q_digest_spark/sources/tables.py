"""Loaders for the driver-provided parquet tables (TESTDATA.md)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(name)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

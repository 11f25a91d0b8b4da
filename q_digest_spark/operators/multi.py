"""Fused multi-sketch aggregation: N sketches in ONE data pass.

A reporting job typically wants several sketches of the same table
(text-length quantiles + distinct urls + heavy-hitter domains + ...).
Running them as separate aggregations re-scans the table once per
sketch — at the 100 TB design point that multiplies the dominant cost
(the scan) by the number of sketches. This operator fuses them into
the ungrouped core of ``aggregate.py``:

  stage 1: one ``mapInPandas`` pass; each Arrow batch updates EVERY
           sketch (each spec names its own input column, all projected
           in the same scan);
  stage 2: the driver folds the partial rows per name when the
           partition count is <= ``fanout`` (one Spark job), else
           they shuffle by (name, part_id % fanout) and merge per
           group first (``tree_merge``).

Scan cost: 1x regardless of sketch count. Column pruning still holds —
the scan reads exactly the union of the specs' columns.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame

from .aggregate import PARTIAL_SCHEMA, SketchSpec, aggregate_sketches

MULTI_PARTIAL_SCHEMA = PARTIAL_SCHEMA

__all__ = ["MULTI_PARTIAL_SCHEMA", "SketchSpec", "multi_sketch_aggregate"]


def multi_sketch_aggregate(
    df: DataFrame, specs: Mapping[str, SketchSpec], fanout: int = 32
) -> dict[str, object]:
    """Returns {name: merged sketch} from a single pass over df."""
    return {n: sk for n, (sk, _) in aggregate_sketches(df, specs, fanout).items()}

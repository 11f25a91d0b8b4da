"""Matrix-valued distributed aggregations over an embedding column:
the Frequent Directions covariance sketch and the exact Gram matrix
it is verified against.

Both run as the standard two-level contract: per-partition partials
(a few KB each — an ell x d sketch or a d x d float64 block), then a
bounded merge. Nothing row-scaled ever reaches the driver; the
driver-side fold is <= #partitions d x d blocks for the exact Gram
and <= fanout sketch rows for FD (same shape as every sketch family
in operators/aggregate.py).
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from q_digest_spark.operators.aggregate import sketch_aggregate
from q_digest_spark.sketches.fd import FrequentDirections


def fd_of(df: DataFrame, col: str, ell: int = 32, fanout: int = 32) -> FrequentDirections:
    """Frequent Directions sketch of a vector column: one scan,
    ell x d state per partition, tree merge — B^T B approximates the
    data Gram A^T A within the sketch's own delta_sum certificate."""
    from functools import partial

    res = sketch_aggregate(
        df.where(F.col(col).isNotNull()), col,
        partial(FrequentDirections, ell), fanout,
    )
    return res


def exact_gram(df: DataFrame, col: str) -> np.ndarray:
    """Exact d x d Gram matrix A^T A of a vector column, computed as
    per-partition outer-product partial sums (one mapInPandas pass,
    each partial is one d*d float64 block) folded on the driver —
    the verification target for fd_of, never a row-scaled collect."""
    sdf = df.where(F.col(col).isNotNull()).select(F.col(col).alias("v"))

    def partials(batches: Iterable[pd.DataFrame]):
        acc = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            g = rows.T @ rows
            acc = g if acc is None else acc + g
        if acc is not None:
            yield pd.DataFrame({"d": [acc.shape[0]], "block": [acc.tobytes()]})

    out = sdf.mapInPandas(partials, "d int, block binary").collect()
    if not out:
        raise ValueError("no vectors")
    d = int(out[0]["d"])
    total = np.zeros((d, d))
    for r in out:
        total += np.frombuffer(bytes(r["block"]), dtype=np.float64).reshape(d, d)
    return total

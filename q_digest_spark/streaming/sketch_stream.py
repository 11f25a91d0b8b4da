"""Structured-Streaming sketch aggregation.

The reference is batch-only (SURVEY.md §2.3: streaming absent); this
module exists because mergeable sketches make streaming aggregation
natural: each micro-batch runs the SAME ungrouped core as batch
(``aggregate.aggregate_sketches``: one Spark job per micro-batch
whenever it has <= 8 partitions), and the result folds into a running
sketch in ``foreachBatch``. Exactly-once-ish semantics come from Spark's
micro-batch replay + the merge being idempotent per batch id (we track
the last folded batch id).

At scale the same pattern runs with a real sink: per-batch partial
sketches appended to a state table (see operators/checkpoint.py), the
running merge recoverable by folding the table.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from ..operators.aggregate import SketchSpec, aggregate_sketches


class StreamingSketch:
    """Accumulates a mergeable sketch over a streaming DataFrame.

    Usage::

        acc = StreamingSketch(factory, deserialize)
        q = acc.attach(stream_df, "value")   # starts the query
        ... q.processUntilAvailable() / awaitTermination ...
        acc.sketch  # the running merged sketch
    """

    def __init__(self, factory: Callable[[], object], deserialize):
        self.factory = factory
        self.deserialize = deserialize
        self.sketch = None
        self.rows = 0
        self._last_batch = -1

    def _fold_batch(self, batch_df: DataFrame, batch_id: int, col) -> None:
        if batch_id <= self._last_batch:
            return  # replayed micro-batch: already folded (idempotence)
        spec = SketchSpec(col, self.factory, self.deserialize)
        for cur, rows in aggregate_sketches(batch_df, {"v": spec}, fanout=8).values():
            self.sketch = cur if self.sketch is None else self.sketch.merge(cur)
            self.rows += rows
        self._last_batch = batch_id

    def attach(self, stream_df: DataFrame, col, trigger_seconds: float | None = None):
        writer = stream_df.writeStream.foreachBatch(
            lambda bdf, bid: self._fold_batch(bdf, bid, col)
        ).outputMode("update")
        if trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()

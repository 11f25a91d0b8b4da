"""Event-time windowed sketch aggregation with watermark-driven
finalization.

Completes the Structured-Streaming story next to the global fold
(sketch_stream.py) and the per-key running state (stateful.py): here
each TUMBLING EVENT-TIME WINDOW owns one sketch, late rows within the
watermark still reach their window, and a window is emitted exactly
once — when the watermark passes window_end + delay (EventTimeTimeout,
append semantics), after which its state is dropped.

This is the pattern a live-crawl quantile dashboard needs at 10^12
rows/day: state size is O(open windows × sketch bytes), independent
of row count, and each finalized row carries the full sketch estimate
set. The reference is batch-only (SURVEY.md §2.3), so this is a
north_rule-side extension, built on Spark's own watermark machinery
rather than a custom clock.
"""

from __future__ import annotations

from typing import Callable, Iterable, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .stateful import STATE_SCHEMA, update_state

OUTPUT_SCHEMA = (
    "win_start timestamp, win_end timestamp, n long, p50 double, p95 double, p99 double"
)


def make_windowed_update(
    factory: Callable[[], object],
    deserialize,
    delay_ms: int,
    key_names: tuple[str, ...] = (),
):
    def update(
        key: Tuple, batches: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        win_start, win_end = key[0], key[1]
        extra = {name: [k] for name, k in zip(key_names, key[2:])}
        if state.hasTimedOut:
            # watermark passed win_end + delay: finalize exactly once
            buf, n = state.get
            state.remove()
            if n == 0:
                return  # only null values ever arrived for this window
            sk = deserialize(bytes(buf))
            est = sk.quantiles([0.5, 0.95, 0.99])
            yield pd.DataFrame(
                {
                    "win_start": [win_start],
                    "win_end": [win_end],
                    **extra,
                    "n": [int(n)],
                    "p50": [float(est[0])],
                    "p95": [float(est[1])],
                    "p99": [float(est[2])],
                }
            )
            return
        update_state(state, batches, factory, deserialize)
        # fire once the watermark clears win_end + delay; never set a
        # timeout at/behind the current watermark (Spark rejects it)
        end_ms = int(pd.Timestamp(win_end).value // 1_000_000)
        state.setTimeoutTimestamp(
            max(end_ms + delay_ms, state.getCurrentWatermarkMs() + 1)
        )
        return

    return update


def windowed_streaming_quantiles(
    stream_df: DataFrame,
    ts_col: str,
    value_col,
    factory,
    deserialize,
    window: str = "10 minutes",
    watermark: str = "5 minutes",
    key_cols: tuple[str, ...] = (),
    slide: str | None = None,
    assume_watermarked: bool = False,
) -> DataFrame:
    """stream_df -> append-mode stream of finalized per-window (or
    per-window-per-key, with ``key_cols``) quantile rows. Rows later
    than the watermark are dropped by Spark's own pre-stateful
    late-row filter; rows late-but-within the watermark reach their
    (still open) window. ``slide`` < window gives overlapping sliding
    windows — F.window assigns each row to every window covering it,
    so one input row feeds window/slide sketches, each finalized
    independently when the watermark passes its own end.

    ``assume_watermarked=True``: skip the withWatermark call — for
    composing after another stateful operator (e.g. streaming dedup)
    that already set the watermark on ``ts_col``; Spark forbids
    redefining it. The ``watermark`` string is still used to size the
    finalization delay and should match the upstream setting.

    ``value_col`` is cast to LONG — the integer-universe sketch
    domain (Q-Digest contract); fractional values must be quantized
    by the caller first (e.g. cents: ``F.round(v * 100)``), exactly
    as the batch queries do. ``watermark`` accepts
    'N second/minute/hour/day[s]' (ValueError otherwise — not every
    Spark-legal interval string, because the delay must also be
    parsed here to time window finalization)."""
    try:
        n_units, unit = watermark.split()
        unit_s = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[
            unit.rstrip("s")
        ]
        delay_ms = int(float(n_units) * unit_s * 1000)
    except (ValueError, KeyError):
        raise ValueError(
            f"unsupported watermark {watermark!r}: expected "
            "'N second[s]|minute[s]|hour[s]|day[s]'"
        ) from None
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    key_cols = tuple(key_cols)
    win_expr = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    # the watermarked ts column must remain visible to the stateful
    # operator (Spark's event-time-timeout analyzer requires it), so it
    # is carried through the projection and ignored by the update fn
    wm_df = stream_df if assume_watermarked else stream_df.withWatermark(ts_col, watermark)
    keyed = (
        wm_df
        .select(
            win_expr.alias("win"),
            v.cast("long").alias("v"),
            F.col(ts_col),
            *[F.col(k) for k in key_cols],
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "v",
            F.col(ts_col),
            *[F.col(k) for k in key_cols],
        )
    )
    key_fields = "".join(
        f", `{f.name}` {f.dataType.simpleString()}"
        for f in stream_df.schema.fields
        if f.name in key_cols
    )
    out_schema = (
        "win_start timestamp, win_end timestamp" + key_fields
        + ", n long, p50 double, p95 double, p99 double"
    )
    return keyed.groupBy("win_start", "win_end", *key_cols).applyInPandasWithState(
        make_windowed_update(factory, deserialize, delay_ms, key_cols),
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )

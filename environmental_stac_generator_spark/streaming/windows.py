"""Event-time windowing and custom stateful operators for streams.

The reference pipeline is batch (SURVEY §2.9) — these are the
engine-native streaming operators its daily-forecast workload grows
into once files become a live stream:

- watermarked tumbling/sliding aggregation: the streaming twin of the
  batch ``tumbling_window_agg``/``sliding_window_agg`` queries
  (queries/windows.py), with late data beyond the watermark dropped
  and per-window state evicted — bounded state at any scale;
- ``applyInPandasWithState`` running extent: the custom-stateful form
  of the reference's extent merge (``stac/generator.py:191-207``),
  keeping one (min, max, count) triple per collection in the state
  store instead of re-aggregating history each run.

Tests drive both with ``trigger(availableNow=True)`` memory sinks.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EXTENT_STATE_SCHEMA = "start timestamp, end timestamp, n long"
EXTENT_OUTPUT_SCHEMA = (
    "collection string, extent_start timestamp, extent_end timestamp, n_items long"
)


def windowed_event_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 day",
    slide: str | None = None,
    watermark: str = "2 days",
) -> DataFrame:
    """Watermarked event-time window aggregation. With a slide it is
    the sliding form; without, tumbling. The watermark bounds state:
    windows older than (max event time - watermark) are finalized and
    evicted, so state is O(active windows), not O(stream length)."""
    windowed = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(windowed.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def merge_extent(
    prior: tuple | None, pdfs: Iterator[pd.DataFrame]
) -> tuple:
    """The per-collection extent merge behind
    :func:`stateful_running_extent`'s ``applyInPandasWithState``
    state function.

    ``prior`` is the stored (start, end, n) or None; returns the
    merged (start, end, n) with None bounds normalized. Guards: a
    count-only prior (rows seen before any valid timestamp) carries
    null/NaT bounds, normalized back to None so a later batch can
    still establish the extent; an all-null chunk's NaT min/max are
    skipped (NaT comparisons are always False — written into state
    they would freeze the extent forever) while its rows still
    count, so n_items is arrival-order-independent."""
    if prior is not None:
        start, end, n = prior
        start = None if start is None or pd.isna(start) else start
        end = None if end is None or pd.isna(end) else end
    else:
        start, end, n = None, None, 0
    for pdf in pdfs:
        ts = pd.to_datetime(pdf["forecast_reference_time"])
        lo, hi = ts.min(), ts.max()
        if not pd.isna(lo):
            start = lo if start is None or lo < pd.Timestamp(start) else start
        if not pd.isna(hi):
            end = hi if end is None or hi > pd.Timestamp(end) else end
        n += len(pdf)
    return start, end, int(n)


def extent_output_row(key: tuple, start, end, n: int) -> pd.DataFrame:
    """The update-mode output row both stateful APIs emit."""
    return pd.DataFrame(
        {
            "collection": [key[0]],
            "extent_start": [pd.Timestamp(start) if start is not None else pd.NaT],
            "extent_end": [pd.Timestamp(end) if end is not None else pd.NaT],
            "n_items": [int(n)],
        }
    )


def _extent_state_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-collection running (min, max, count) over
    forecast_reference_time, held in the state store across batches."""
    start, end, n = merge_extent(state.get if state.exists else None, pdfs)
    if start is not None and end is not None:
        state.update((pd.Timestamp(start), pd.Timestamp(end), n))
    elif n:
        # rows seen but no valid timestamp yet: persist the COUNT with
        # null bounds so it isn't lost
        state.update((None, None, n))
    yield extent_output_row(key, start, end, n)


def stateful_running_extent(stream_df: DataFrame) -> DataFrame:
    """T2 as a custom stateful operator: one state row per collection,
    updated incrementally per micro-batch — the applyInPandasWithState
    form of the reference's extent merge. Update-mode output emits the
    refreshed extent for exactly the collections seen in the batch."""
    return stream_df.groupBy("collection").applyInPandasWithState(
        _extent_state_fn,
        outputStructType=EXTENT_OUTPUT_SCHEMA,
        stateStructType=EXTENT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(
    stream_df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 days",
) -> DataFrame:
    """Streaming exact dedup — the streaming twin of the batch
    ``dedup_exact`` query: emit the first arrival of each key, drop
    replays. ``dropDuplicatesWithinWatermark`` keeps ONE state-store
    entry per key and evicts it once the watermark passes, so state
    is bounded by the dedup horizon, not the stream length — the
    property that makes streaming ingest dedup feasible forever-on.
    Replayed batches (at-least-once sources) dedup to exactly-once
    output within the horizon."""
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )

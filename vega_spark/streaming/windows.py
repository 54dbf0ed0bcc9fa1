"""Streaming windowed aggregation & sessionization.

The reference has no streaming layer (SURVEY.md §2.11); this module
is the Structured Streaming surface the north star asks for:
readStream → event-time windows with watermarks → writeStream.

The batch/stream duality is deliberate: every function takes any
DataFrame — a ``readStream`` source in production, a bounded batch
frame in tests. A bounded stream is driven to completion into a
memory sink by ``sources.drain_to_memory``.

Scale notes: state store size is bounded by the watermark — without
it a windowed agg keys state forever. Sessionization uses
``session_window`` (state merges adjacent windows); custom stateful
logic goes through applyInPandasWithState.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_counts(events: DataFrame, ts_col: str, key_col: str,
                    window_len: str = "5 minutes",
                    slide: str | None = None,
                    watermark: str = "10 minutes") -> DataFrame:
    """Tumbling/sliding event-time window counts with a watermark.
    ``ts_col`` must be a TIMESTAMP column."""
    w = F.window(ts_col, window_len, slide) if slide else F.window(ts_col, window_len)
    return (events.withWatermark(ts_col, watermark)
            .groupBy(w.alias("win"), F.col(key_col))
            .agg(F.count(F.lit(1)).alias("n"),))


def windowed_agg(events: DataFrame, ts_col: str, key_col: str,
                 value_col: str, window_len: str = "5 minutes",
                 watermark: str = "10 minutes") -> DataFrame:
    return (events.withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, window_len).alias("win"), F.col(key_col))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(value_col).alias("total"),
                 F.avg(value_col).alias("mean")))


def sessionize(events: DataFrame, ts_col: str, key_col: str,
               gap: str = "30 minutes",
               watermark: str = "1 hour") -> DataFrame:
    """Session windows: events within ``gap`` of each other merge."""
    return (events.withWatermark(ts_col, watermark)
            .groupBy(F.session_window(ts_col, gap).alias("session"),
                     F.col(key_col))
            .agg(F.count(F.lit(1)).alias("n_events")))

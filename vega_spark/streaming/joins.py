"""Stream-stream and stream-static joins.

Capability superset (the reference has no streaming at all, and its
only batch join is inner equi, SURVEY.md §2.4/§2.11). Semantics and
scale behavior:

- A stream-stream inner join must bound BOTH buffers or state grows
  without limit: each side gets a watermark, and the join condition
  carries an explicit event-time interval so Spark can evict state
  for keys whose match window has passed. State size is then
  O(input rate x (interval + watermark delay)), independent of
  stream lifetime.
- A stream-static join needs no watermark on the static side; the
  static table is re-scanned per micro-batch (broadcast if small —
  same hint as batch).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def interval_join(left: DataFrame, right: DataFrame,
                  key: str, left_ts: str, right_ts: str,
                  lower: str = "0 seconds", upper: str = "1 hour",
                  watermark_delay: str = "10 minutes",
                  how: str = "inner") -> DataFrame:
    """Watermarked stream-stream join: rows match when keys are equal
    and ``right_ts`` is within [left_ts - lower, left_ts + upper].
    Both inputs must be streaming DataFrames; column names on the two
    sides must not collide (select/rename first)."""
    lw = left.withWatermark(left_ts, watermark_delay)
    rw = right.withWatermark(right_ts, watermark_delay)
    cond = (
        (F.col(key) == F.col(f"__r_{key}"))
        & (F.col(right_ts)
           >= F.col(left_ts) - F.expr(f"INTERVAL {lower}"))
        & (F.col(right_ts)
           <= F.col(left_ts) + F.expr(f"INTERVAL {upper}")))
    rw = rw.withColumnRenamed(key, f"__r_{key}")
    return (lw.join(rw, cond, how)
            .drop(f"__r_{key}"))


def stream_static_join(stream: DataFrame, static: DataFrame,
                       on: Column | str, how: str = "inner") -> DataFrame:
    """Enrich a stream with a batch dimension table. The static side
    re-resolves per micro-batch (picks up overwrites of the backing
    files) and is broadcast — dimension tables at 100 TB scale are
    still the small side."""
    return stream.join(F.broadcast(static), on, how)

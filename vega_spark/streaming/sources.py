"""Structured Streaming sources & sinks.

The reference has no streaming layer at all (SURVEY.md §2.11) — this
module is pure capability superset, built the idiomatic Spark way:
``readStream`` sources → (windows / stateful ops, see ``windows.py``
and ``stateful.py``) → ``writeStream`` sinks.

Scale notes (100 TB design intent):
- File streams track processed files in the checkpoint — exactly-once
  per file; ``maxFilesPerTrigger`` bounds micro-batch size so state +
  shuffle per batch stay O(batch), not O(history).
- Every sink here requires/accepts a checkpoint dir; without one a
  stateful query cannot recover and reprocessing breaks exactly-once.
- ``Trigger.AvailableNow`` drains a bounded backlog with the same
  incremental micro-batching as a live stream (unlike the deprecated
  ``once`` trigger, it respects maxFilesPerTrigger), then stops —
  the batch/stream duality our tests rely on.
"""

from __future__ import annotations

import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from vega_spark.session import cloned_session, drain_shuffle_partitions


def stream_parquet(spark: SparkSession, path: str,
                   schema: StructType | str,
                   max_files_per_trigger: int | None = None) -> DataFrame:
    """File-based streaming source over a parquet directory.

    Streaming file sources require an explicit schema (no inference
    race with concurrently arriving files).
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def to_memory(df: DataFrame, name: str, output_mode: str = "append",
              available_now: bool = False) -> StreamingQuery:
    """Memory sink (test harness): results in ``SELECT * FROM {name}``.

    With ``available_now`` the query drains the current backlog and
    stops on its own (await with ``q.awaitTermination()``); otherwise
    drive it with ``q.processAllAvailable()``.
    """
    w = (df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def drain_to_memory(spark: SparkSession,
                    build: Callable[[SparkSession], DataFrame],
                    *staged: str, output_mode: str = "append",
                    settled: Callable[[DataFrame], bool] | None = None
                    ) -> DataFrame:
    """Drain a bounded stream into a memory sink and return the sink's
    table, without touching ``spark``.

    The query runs on a ``cloned_session`` of ``spark``. On the clone
    only, the state-store partition count is sized from the ``staged``
    arrival directories (``drain_shuffle_partitions``) and no-data
    micro-batches are on (Spark's default; outer-join flushes ride on
    them).
    ``build(clone)`` returns the streaming frame: its stream sources
    must read through the clone, static frames of ``spark`` may join it.

    ``settled(table)``, when given, is checked after the drain; if it
    is false the query runs one more ``processAllAvailable()`` (a
    no-data batch that raced the first drain). The query is always
    stopped and the ``staged`` directories removed: the sink holds the
    drained rows, and its temp view lives in the clone's catalog, so
    neither outlives the returned frame. Batch work on that frame
    plans with the caller's ``spark.sql.shuffle.partitions``.
    """
    key = "spark.sql.shuffle.partitions"
    clone = cloned_session(spark, {
        key: drain_shuffle_partitions(*staged),
        "spark.sql.streaming.noDataMicroBatches.enabled": "true"})
    name = "drain_" + uuid.uuid4().hex[:8]
    try:
        q = to_memory(build(clone), name, output_mode)
        try:
            q.processAllAvailable()
            if settled is not None and not settled(clone.table(name)):
                q.processAllAvailable()
        finally:
            q.stop()
    finally:
        for p in staged:
            shutil.rmtree(p, ignore_errors=True)
    clone.conf.set(key, spark.conf.get(key))
    return clone.table(name)


def to_parquet(df: DataFrame, path: str, checkpoint: str,
               output_mode: str = "append",
               available_now: bool = True) -> StreamingQuery:
    """Parquet sink with checkpoint — exactly-once file output."""
    w = (df.writeStream.format("parquet").option("path", path)
         .option("checkpointLocation", checkpoint)
         .outputMode(output_mode))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def to_foreach_batch(df: DataFrame,
                     fn: Callable[[DataFrame, int], None],
                     checkpoint: str,
                     output_mode: str = "update",
                     available_now: bool = True) -> StreamingQuery:
    """``foreachBatch`` sink: each micro-batch arrives as a *batch*
    DataFrame + epoch id — the escape hatch for sinks Spark lacks
    (upserts, multi-table writes). ``fn`` must be idempotent per
    epoch id for exactly-once."""
    w = (df.writeStream.foreachBatch(fn)
         .option("checkpointLocation", checkpoint)
         .outputMode(output_mode))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def rocksdb_state_store_conf() -> dict[str, str]:
    """Session confs that move streaming state out of executor heap
    into RocksDB with changelog checkpointing — REQUIRED at 100 TB
    state sizes (the default HDFSBackedStateStore keeps every key in
    JVM memory; large sessionization/dedup state OOMs executors).
    Apply at session build:

        b = SparkSession.builder
        for k, v in rocksdb_state_store_conf().items():
            b = b.config(k, v)

    Not applied by default here: tests run tiny state where the
    in-memory provider is faster, and the conf must be set before any
    stateful query starts (it's pinned into the checkpoint).
    """
    return {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        # changelog checkpointing: upload deltas, not full snapshots
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing"
            ".enabled": "true",
        # bound native memory (per executor) instead of per-partition
        "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage":
            "true",
    }


def drain(q: StreamingQuery, timeout_s: float = 120.0) -> None:
    """Run a bounded (availableNow) query to completion."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"streaming query {q.name!r} did not drain "
                           f"within {timeout_s}s")

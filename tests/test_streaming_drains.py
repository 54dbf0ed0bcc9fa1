"""Streaming drains run on a clone of the caller's session: while a
drain runs, the caller's confs stay as they were, and no temp view or
staging directory outlives it. Arrivals are staged by
``stage_arrivals``."""

from __future__ import annotations

import glob
import os
import shutil
import threading

import pyarrow as pa
import pytest
from pyspark import SparkFiles
from pyspark.sql import functions as F

from vega_spark import registry
from vega_spark.session import drain_shuffle_partitions
from vega_spark.streaming import sources as S

KEY = "spark.sql.shuffle.partitions"

DRAINS = (
    "streaming_windowed_counts",
    "streaming_stream_static_join",
    "streaming_dedup_exact",
    "streaming_anomaly_flags",
    "streaming_watermark_drops",
    "streaming_session_windows",
    "streaming_interval_join_pairs",
    "streaming_left_outer_interval_join",
)


def _staging_dirs() -> set[str]:
    return set(glob.glob(os.path.join(SparkFiles.getRootDirectory(),
                                      "vega_scratch", "vega_stream*")))


def _views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables()}


@pytest.mark.parametrize("name", DRAINS)
def test_drain_leaves_caller_session_untouched(spark, sf_dir, name):
    prev = spark.conf.get(KEY)
    spark.conf.set(KEY, "7")
    views, dirs = _views(spark), _staging_dirs()
    seen: set[str] = set()
    done = threading.Event()

    def poll():
        while not done.is_set():
            seen.add(spark.conf.get(KEY))
            done.wait(0.005)
    reader = threading.Thread(target=poll)
    reader.start()
    try:
        out = registry.QUERIES[name](spark, sf_dir)
    finally:
        done.set()
        reader.join(timeout=10)
        spark.conf.set(KEY, prev)
    assert not reader.is_alive()
    out.collect()
    assert seen == {"7"}
    assert _views(spark) - views == set()
    assert _staging_dirs() - dirs == set()


def test_drain_to_memory_redrains_once_when_unsettled(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(5).write.parquet(src)
    want_parts = drain_shuffle_partitions(src)
    parts, counts = [], []

    def build(s):
        parts.append(s.conf.get(KEY))
        return s.readStream.schema("id long").parquet(src).dropDuplicates()

    def settled(sink):
        counts.append(sink.count())
        return False
    out = S.drain_to_memory(spark, build, src, settled=settled)
    assert parts == [want_parts]
    assert counts == [5]
    assert sorted(r.id for r in out.collect()) == [0, 1, 2, 3, 4]
    assert not os.path.exists(src)


def test_stage_arrivals_single_part_keeps_its_files(spark):
    stage = S.stage_arrivals(spark, spark.range(10).repartition(3))
    assert len([f for f in os.listdir(stage)
                if f.endswith(".parquet")]) == 3
    assert stage in _staging_dirs()
    shutil.rmtree(stage)


def test_stage_arrivals_parts_arrive_in_argument_order(spark):
    # one part per micro-batch, in argument order, a pyarrow part
    # included: rows of one batch share its current_timestamp()
    adv = pa.table({"id": pa.array([99], pa.int64())})
    stage = S.stage_arrivals(spark, spark.range(0, 5).repartition(2),
                             adv, spark.range(5, 7))
    assert len([f for f in os.listdir(stage)
                if not f.startswith(("_", "."))]) == 3

    def build(s):
        return (s.readStream.schema("id long")
                .option("maxFilesPerTrigger", 1).parquet(stage)
                .withColumn("bt", F.current_timestamp()))
    out = S.drain_to_memory(spark, build, stage)
    by_batch: dict = {}
    for r in out.collect():
        by_batch.setdefault(r.bt, set()).add(r.id)
    assert [by_batch[k] for k in sorted(by_batch)] == [
        {0, 1, 2, 3, 4}, {99}, {5, 6}]
    assert not os.path.exists(stage)


def test_watermark_build_runs_no_job_on_calling_thread(spark, sf_dir,
                                                       jobs_launched):
    build = registry.QUERIES["streaming_watermark_drops"]
    build(spark, sf_dir)
    _, n = jobs_launched(lambda: build(spark, sf_dir))
    assert n == 0

"""Streaming drains run on a clone of the caller's session: while a
drain runs, the caller's confs stay as they were, and no temp view or
staging directory outlives it."""

from __future__ import annotations

import glob
import os
import tempfile
import threading

import pytest

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
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "vega_stream*")))


def _views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables()}


@pytest.mark.parametrize("name", DRAINS)
def test_drain_leaves_caller_session_untouched(spark, sf_dir, name,
                                               tmp_path, monkeypatch):
    # a private temp dir: another engine process staging drains on the
    # same host must not show up in (or vanish from) this drain's view
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
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

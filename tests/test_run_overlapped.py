"""run_overlapped (r9 opt, guide §2.6): independent driver thunks —
typically eager localCheckpoints of independent contract legs — run
concurrently from a thread pool. The contract under test: results in
argument order, exceptions propagate after all threads finish, and
Spark actions submitted from the pool produce the same frames as the
serial form (the multi-leg queries rely on exactly this)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from vega_spark.session import run_overlapped


def test_results_in_argument_order():
    import time

    def slow():
        time.sleep(0.2)
        return "slow"

    assert run_overlapped(slow, lambda: "fast", lambda: 3) == \
        ("slow", "fast", 3)


def test_single_thunk_runs_inline():
    assert run_overlapped(lambda: 42) == (42,)


def test_exception_propagates_after_all_threads():
    seen = []

    def ok():
        seen.append("ok")
        return 1

    def boom():
        raise ValueError("leg failed")

    with pytest.raises(ValueError, match="leg failed"):
        run_overlapped(boom, ok)
    # the healthy leg still ran to completion (no half-started leak)
    assert seen == ["ok"]


def test_spark_actions_from_threads_match_serial(spark):
    df = spark.range(0, 1000).withColumn(
        "k", (F.col("id") % 7).cast("int"))
    evens = df.filter(F.col("id") % 2 == 0)
    odds = df.filter(F.col("id") % 2 == 1)

    e_ser = evens.localCheckpoint(eager=True)
    o_ser = odds.localCheckpoint(eager=True)
    e_par, o_par = run_overlapped(
        lambda: evens.localCheckpoint(eager=True),
        lambda: odds.localCheckpoint(eager=True))

    assert e_par.count() == e_ser.count() == 500
    assert o_par.count() == o_ser.count() == 500
    assert (e_par.exceptAll(e_ser).count() == 0
            and e_ser.exceptAll(e_par).count() == 0)
    assert (o_par.exceptAll(o_ser).count() == 0
            and o_ser.exceptAll(o_par).count() == 0)


def test_drain_shuffle_partitions_sizing(tmp_path, monkeypatch):
    # the drain partition count derives from staged arrival bytes:
    # floor binds for small staging (bench SFs; 4 since the r10
    # micro-batch-floor A/B), grows one partition per
    # DRAIN_BYTES_PER_PARTITION, caps defensively, sums multiple
    # paths, walks directories, and tolerates missing paths
    from vega_spark import session
    from vega_spark.session import drain_shuffle_partitions

    d = tmp_path / "stage"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"x" * 1024)
    assert drain_shuffle_partitions(str(d)) == "4"          # floor
    big = d / "big.parquet"
    big.touch()
    os.truncate(big, 64 << 20)                               # sparse
    assert drain_shuffle_partitions(str(d)) == "4"          # ceil(1+)<floor
    os.truncate(big, 5 * (64 << 20))
    assert drain_shuffle_partitions(str(d)) == "6"          # grows
    big.unlink()
    monkeypatch.setattr(session, "DRAIN_FLOOR", 1)
    monkeypatch.setattr(session, "DRAIN_BYTES_PER_PARTITION", 100)
    assert drain_shuffle_partitions(str(d)) == "11"         # ceil(1024/100)
    monkeypatch.setattr(session, "DRAIN_BYTES_PER_PARTITION", 1024)
    (d / "sub").mkdir()
    (d / "sub" / "b.parquet").write_bytes(b"y" * 1024)      # walked
    assert drain_shuffle_partitions(str(d)) == "2"
    two = tmp_path / "stage2"
    two.mkdir()
    (two / "c.parquet").write_bytes(b"z" * 2048)            # summed
    assert drain_shuffle_partitions(str(d), str(two)) == "4"
    monkeypatch.setattr(session, "DRAIN_BYTES_PER_PARTITION", 1)
    monkeypatch.setattr(session, "DRAIN_CAP", 16)
    assert drain_shuffle_partitions(str(d)) == "16"         # cap
    monkeypatch.setattr(session, "DRAIN_FLOOR", 8)
    assert drain_shuffle_partitions(
        str(tmp_path / "missing")) == "8"                   # tolerant

"""Schema cache of ``load_table``: a repeated load of an unchanged
table launches no Spark job, and anything that changes the inferred
schema (the file itself, inference confs) is seen on the next load."""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType

from vega_spark.tables import (
    events_max_ts_us,
    footer_col_max,
    footer_rows,
    footer_uncompressed_bytes,
    load_table,
)


def _write(tmp_path, name: str, table: pa.Table) -> str:
    pq.write_table(table, os.path.join(tmp_path, f"{name}.parquet"))
    return str(tmp_path)


def test_repeat_load_launches_no_job(spark, tmp_path, jobs_launched):
    d = _write(tmp_path, "t", pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}))
    first, _ = jobs_launched(lambda: load_table(spark, d, "t"))
    second, n = jobs_launched(lambda: load_table(spark, d, "t"))
    assert n == 0
    assert second.schema == first.schema
    assert sorted(map(tuple, second.collect())) == [(1, "a"), (2, "b"), (3, "c")]


def test_rewritten_file_is_reinferred(spark, tmp_path):
    d = _write(tmp_path, "t", pa.table({"k": [1, 2]}))
    assert load_table(spark, d, "t").columns == ["k"]
    _write(tmp_path, "t", pa.table({"k": [7, 8, 9], "name": ["x", "y", "z"]}))
    df = load_table(spark, d, "t")
    assert df.columns == ["k", "name"]
    assert sorted(map(tuple, df.collect())) == [(7, "x"), (8, "y"), (9, "z")]


def test_binary_as_string_conf_is_part_of_the_key(spark, tmp_path):
    d = _write(tmp_path, "t", pa.table({"b": pa.array([b"ab", b"cd"],
                                                      pa.binary())}))
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert isinstance(load_table(spark, d, "t").schema["b"].dataType,
                          BinaryType)
        spark.conf.set(key, "true")
        df = load_table(spark, d, "t")
        assert isinstance(df.schema["b"].dataType, StringType)
        assert sorted(r.b for r in df.collect()) == ["ab", "cd"]
        spark.conf.set(key, "false")
        assert isinstance(load_table(spark, d, "t").schema["b"].dataType,
                          BinaryType)
    finally:
        spark.conf.set(key, before)


def test_self_join_of_two_loads_resolves(spark, tmp_path):
    d = _write(tmp_path, "t", pa.table({"k": [1, 1, 2, 3], "v": [10, 11, 20, 30]}))
    a = load_table(spark, d, "t")
    b = load_table(spark, d, "t")
    j = a.join(b, a["k"] == b["k"]).select(a["v"].alias("va"), b["v"].alias("vb"))
    # key 1 has two rows per side (4 pairs); keys 2 and 3 one each
    assert j.count() == 6
    assert j.filter(F.col("va") == F.col("vb")).count() == 4


def test_concurrent_misses_store_one_schema(spark, tmp_path, jobs_launched):
    # overlapped legs may miss together; each must get the right schema
    # and the entry left behind must serve the next load without a job
    d = _write(tmp_path, "t", pa.table({"k": [1, 2], "v": [0.5, 1.5]}))
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as ex:
            futs = [ex.submit(load_table, spark, d, "t") for _ in range(8)]
            schemas = [f.result(timeout=120).schema for f in futs]
    finally:
        sys.setswitchinterval(old)
    assert all(s == schemas[0] for s in schemas)
    again, n = jobs_launched(lambda: load_table(spark, d, "t"))
    assert n == 0 and again.schema == schemas[0]


def _footers(sf_dir: str, name: str) -> tuple:
    return (footer_rows(sf_dir, name),
            footer_uncompressed_bytes(sf_dir, name),
            footer_col_max(sf_dir, name, "v"))


def _pyarrow_footers(files: list[str], with_stats: bool = True) -> tuple:
    table = pq.read_table(files)
    size = sum(md.row_group(g).total_byte_size
               for md in map(pq.read_metadata, files)
               for g in range(md.num_row_groups))
    top = pc.max(table["v"]).as_py() if with_stats else None
    return table.num_rows, size, top


def test_footer_stats_single_file(tmp_path):
    path = os.path.join(tmp_path, "t.parquet")
    pq.write_table(pa.table({"k": list(range(10)), "v": [3, 9, 1] * 3 + [4]}),
                   path, row_group_size=4)
    assert pq.read_metadata(path).num_row_groups == 3
    assert _footers(str(tmp_path), "t") == _pyarrow_footers([path])
    assert _footers(str(tmp_path), "t")[2] == 9


def test_footer_stats_two_file_directory(tmp_path):
    d = os.path.join(tmp_path, "t.parquet")
    os.makedirs(d)
    files = [os.path.join(d, f"part-{i}.parquet") for i in range(2)]
    pq.write_table(pa.table({"v": [1, 5, 2]}), files[0])
    pq.write_table(pa.table({"v": [7, 3]}), files[1])
    open(os.path.join(d, "_SUCCESS"), "w").close()
    assert _footers(str(tmp_path), "t") == _pyarrow_footers(files)
    assert _footers(str(tmp_path), "t")[0::2] == (5, 7)


def test_footer_col_max_none_without_statistics(tmp_path):
    path = os.path.join(tmp_path, "t.parquet")
    pq.write_table(pa.table({"v": [1, 5, 2]}), path, write_statistics=False)
    got = _footers(str(tmp_path), "t")
    assert got == _pyarrow_footers([path], with_stats=False)
    assert got[0] == 3 and got[2] is None


def test_footer_stats_missing_path_is_none(tmp_path):
    assert _footers(str(tmp_path), "absent") == (None, None, None)


def test_events_max_ts_us_from_footer_runs_no_job(spark, sf_dir,
                                                  jobs_launched):
    want = (load_table(spark, sf_dir, "events")
            .agg(F.max("ts")).first()[0]) // 1000
    got, n = jobs_launched(lambda: events_max_ts_us(spark, sf_dir))
    assert (got, n) == (want, 0)


def test_events_max_ts_us_falls_back_without_statistics(spark, tmp_path):
    ts = pa.array([1_700_000_000_123_456, 1_700_000_100_654_321],
                  pa.timestamp("us"))
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}),
                   os.path.join(tmp_path, "events.parquet"),
                   write_statistics=False)
    assert footer_col_max(str(tmp_path), "events", "ts") is None
    assert events_max_ts_us(spark, str(tmp_path)) == 1_700_000_100_654_321

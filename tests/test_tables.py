"""Schema cache of ``load_table``: a repeated load of an unchanged
table launches no Spark job, and anything that changes the inferred
schema (the file itself, inference confs) is seen on the next load."""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType

from vega_spark.tables import load_table


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

"""Sources (readers), and a smoke pass over the full query registry
at sf0.001 (the oracle equivalence itself is tools/check_oracle.py +
the driver's t2 gate; here we only assert every query runs and the
oracle keys stay a subset of the queries)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vega_spark import registry
from vega_spark.sources import readers as SR


def test_range_inclusive(spark):
    # reference range is end-inclusive (tests/test_rdd.rs:524-531)
    out = SR.range_inclusive(spark, 1, 12)
    assert [r.value for r in out.orderBy("value").collect()] == list(range(1, 13))


def test_parallelize_slices(spark):
    df = SR.parallelize(spark, [(v,) for v in range(10)], "value int", num_slices=3)
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == 10


def test_csv_text_roundtrip(spark, tmp_path):
    p = str(tmp_path / "c.csv")
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string") \
        .write.csv(p)
    back = SR.read_csv(spark, p, "k int, v string")
    assert sorted((r.k, r.v) for r in back.collect()) == [(1, "a"), (2, "b")]
    t = str(tmp_path / "t.txt")
    spark.createDataFrame([("line1",), ("line2",)], "value string") \
        .write.text(t)
    lines = SR.read_text_lines(spark, t)
    assert sorted(r.value for r in lines.collect()) == ["line1", "line2"]


def test_read_json_applies_schema(spark, tmp_path):
    p = tmp_path / "j.json"
    p.write_text('{"k": 1, "v": "a", "x": 9}\n{"k": 2}\n'
                 '{"k": 3, "v": "c"}\n')
    back = SR.read_json(spark, str(p), "k int, v string")
    assert back.columns == ["k", "v"]
    assert sorted((r.k, r.v) for r in back.collect()) == [
        (1, "a"), (2, None), (3, "c")]


def test_whole_files_reader(spark, tmp_path):
    # reference LocalFsReader whole-file-bytes mode (F7 shape)
    d = tmp_path / "files"
    d.mkdir()
    for i in range(3):
        (d / f"f{i}.txt").write_text("This is some textual test data.\n"
                                     "Can be converted to strings.\n")
    df = SR.read_whole_files(spark, str(d), glob="*.txt")
    rows = df.collect()
    assert len(rows) == 3
    assert all(bytes(r.content).decode().count("\n") == 2 for r in rows)
    paths = SR.read_file_paths(spark, str(d))
    assert paths.count() == 3


def test_registry_contract(spark):
    assert set(registry.ORACLES) <= set(registry.QUERIES)
    assert len(registry.QUERIES) >= 50


def test_registry_all_queries_run(spark, sf_dir):
    failures = []
    for name, spec in registry.SPECS.items():
        try:
            df = spec.fn(spark, sf_dir)
            df.limit(1).collect()
        except Exception as e:  # noqa: BLE001
            failures.append((name, str(e)[:200]))
    assert not failures, failures


_LEGS = [(n, leg) for n, s in registry.SPECS.items()
         for leg in ("op", "diag") if getattr(s, leg) is not None]


@pytest.mark.parametrize("name,leg", _LEGS,
                         ids=[f"{n}-{leg}" for n, leg in _LEGS])
def test_op_and_diag_legs_run(spark, sf_dir, name, leg):
    # the operator-only legs and scale diagnostics run only from
    # bench.py and the scale smoke; each must build and count, and a
    # diagnostic is a one-row report
    n = getattr(registry.SPECS[name], leg)(spark, sf_dir).count()
    if leg == "diag":
        assert n == 1


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-partitioned parquet write; reading back with a filter on
    the partition column must prune at planning time (PartitionFilters
    in the scan) — the 100 TB table layout story."""
    from vega_spark.plans import inspect as I
    from vega_spark.tables import load_table
    out = str(tmp_path / "events_by_type")
    ev = load_table(spark, sf_dir, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    txt = I.plan_text(back)
    assert "PartitionFilters" in txt and "event_type" in txt, txt
    n_click = ev.filter(F.col("event_type") == "click").count()
    assert back.count() == n_click


def test_csv_json_write_read_roundtrip(spark, tmp_path):
    """Writer/reader round trip for the text formats (the reference's
    save_as_text_file writes Debug-formatted rows; CSV/JSON are the
    structured equivalents)."""
    df = spark.createDataFrame(
        [(1, "a,b", 1.5), (2, None, -0.25), (3, "", 0.0)],
        "id long, s string, v double")
    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    df.write.mode("overwrite").option("header", True).csv(csv_dir)
    df.write.mode("overwrite").json(json_dir)
    back_csv = spark.read.option("header", True).schema(df.schema).csv(csv_dir)
    back_json = spark.read.schema(df.schema).json(json_dir)
    want = sorted(map(tuple, df.collect()))
    # CSV cannot distinguish null from empty string — normalize both
    norm = lambda rows: sorted((i, s or None, v) for i, s, v in rows)
    assert norm(map(tuple, back_csv.collect())) == norm(want)
    assert sorted(map(tuple, back_json.collect())) == want


def test_orc_and_json_writer_helpers(spark, tmp_path):
    from vega_spark.operators import actions
    df = spark.createDataFrame(
        [(1, "x", 2.5), (2, None, -1.0)], "id long, s string, v double")
    orc_dir, json_dir = str(tmp_path / "orc"), str(tmp_path / "json")
    actions.save_as_orc(df, orc_dir)
    actions.save_as_json(df, json_dir)
    want = sorted(map(tuple, df.collect()))
    assert sorted(map(tuple, spark.read.orc(orc_dir).collect())) == want
    assert sorted(map(tuple,
                      spark.read.schema(df.schema).json(json_dir).collect())) == want


def test_save_single_file(spark, tmp_path):
    from vega_spark.operators import actions
    df = spark.range(100).repartition(8)
    out = str(tmp_path / "single")
    actions.save_single_file(df.selectExpr("cast(id as string) id"), out)
    import glob
    parts = glob.glob(out + "/part-*")
    assert len(parts) == 1        # coalesce(1) -> exactly one part file
    back = spark.read.csv(out, schema="id string")
    assert back.count() == 100


def test_json_parse_and_extract(spark):
    from pyspark.sql import functions as F
    from vega_spark.functions.json_fns import json_get, parse_json_col
    df = spark.createDataFrame(
        [('{"k": 7, "tag": "x"}',), ('{"k": 9}',)], "props string")
    p = parse_json_col(df, "props", "k int, tag string")
    rows = p.select("props_struct.k", "props_struct.tag").collect()
    assert sorted((r.k, r.tag) for r in rows) == [(7, "x"), (9, None)]
    g = df.select(json_get("props", "$.k").cast("int").alias("k")).collect()
    assert sorted(r.k for r in g) == [7, 9]


def test_custom_datasource_partition_planning(spark):
    from vega_spark.sources.custom_source import register
    register(spark)
    df = (spark.read.format("vega_synth")
          .option("rows", 100).option("partitions", 3).load())
    assert df.count() == 100
    assert df.rdd.getNumPartitions() == 3
    # deterministic decode: same content on re-read
    a = sorted(r["event_id"] for r in df.collect())
    assert a == list(range(100))


def test_custom_datasource_kv_decoder(spark):
    from vega_spark.sources.custom_source import register
    register(spark)
    kv = (spark.read.format("vega_synth")
          .option("rows", 10).option("decoder", "kv").load())
    assert kv.columns == ["user_id", "value"]
    assert kv.count() == 10


def test_bench_and_oracle_sets_consistent(spark):
    # drift guards: the bench set is the 218 bench=True specs;
    # QUERIES and ORACLES are the specs' driver-facing views; entry-
    # module ordering returns the full registry
    import importlib.util
    import os

    from vega_spark import registry
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    specs = registry.SPECS
    assert sum(s.bench for s in specs.values()) == 218
    assert registry.QUERIES == {n: s.fn for n, s in specs.items()}
    assert list(registry.QUERIES) == list(specs)
    assert registry.ORACLES == {n: s.oracle for n, s in specs.items()
                                if s.oracle is not None}
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(root, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert set(mod.queries()) == set(registry.QUERIES)
    assert mod.oracle_sql() == registry.ORACLES


def test_custom_jsonl_sink_two_phase_commit(spark, tmp_path):
    # commit renames temp files; no .tmp- residue; abort-safe names
    import os
    from vega_spark.sources.custom_source import register
    register(spark)
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    out = str(tmp_path / "sink")
    df.write.format("vega_jsonl").option("path", out).mode("append").save()
    files = os.listdir(out)
    assert files and not any(f.startswith(".tmp-") for f in files)
    back = spark.read.schema("id long, v long").json(out)
    assert back.count() == 100
    assert back.agg({"v": "sum"}).collect()[0][0] == 9900


def test_entry_module_ships_package_to_executors(spark, tmp_path):
    # the driver may exec __spark_entry__ from ANY cwd: UDF closures
    # referencing vega_spark must unpickle on executor workers, which
    # requires the shipped package zip, not the driver's sys.path
    import importlib.util
    import os
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry___shiptest", os.path.join(root, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    qs = mod.queries()
    # a mapInPandas-backed query (real executor-side vega_spark import)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR_TEST",
                        "/root/testdata/sf0.001")
    assert qs["image_dhash_census"](spark, sf).count() > 0
    assert getattr(spark.sparkContext, "_vega_pkg_shipped", False)


def test_entry_rotation_fronts_failed_driver_rows(tmp_path, monkeypatch):
    # VERDICT r02 #2: a failed driver row (hash_match false, or a
    # no_oracle row for a query that now HAS an oracle) must re-enter
    # at the FRONT of the window; only fully-green rows rotate to the
    # tail.  Exercised against a synthetic CORRECTNESS file.
    import importlib.util
    import json
    import os
    import shutil

    from vega_spark import registry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fake_root = tmp_path / "repo"
    fake_root.mkdir()
    shutil.copy(os.path.join(root, "__spark_entry__.py"),
                fake_root / "__spark_entry__.py")
    names = list(registry.QUERIES)
    green_q = names[0]
    failed_q = names[1]
    oracled = [n for n in names if n in registry.ORACLES]
    stale_no_oracle_q = oracled[2]          # has an oracle NOW
    rows = {
        green_q: {"rows_match": True, "schema_match": True,
                  "hash_match": True, "err": None},
        failed_q: {"rows_match": True, "schema_match": True,
                   "hash_match": False, "err": None},
        stale_no_oracle_q: {"rows_match": None, "schema_match": None,
                            "hash_match": None, "err": "no_oracle"},
    }
    (fake_root / "CORRECTNESS_r01.json").write_text(json.dumps(rows))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry___rotation", fake_root / "__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    order = list(mod.queries())
    n = len(order)
    assert order.index(failed_q) < 5
    assert order.index(stale_no_oracle_q) < 5
    assert order.index(green_q) == n - 1        # only green row -> tail
    # a later green row supersedes an earlier failure
    rows2 = {failed_q: {"rows_match": True, "schema_match": True,
                        "hash_match": True, "err": None}}
    (fake_root / "CORRECTNESS_r02.json").write_text(json.dumps(rows2))
    mod2 = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod2)
    order2 = list(mod2.queries())
    assert order2.index(failed_q) > n - 5


def test_entry_priority_names_exist():
    import importlib.util
    import os

    from vega_spark import registry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry___prio", os.path.join(root, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    unknown = [k for k in mod._PRIORITY if k not in registry.QUERIES]
    assert not unknown, f"_PRIORITY names missing from registry: {unknown}"

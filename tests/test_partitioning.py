"""Partitioning / layout (FIXTURES F10) + sampling (F9) + top-k."""

from __future__ import annotations

from pyspark.sql import functions as F

from vega_spark.operators import partitioning as P
from vega_spark.operators import sampling as R
from vega_spark.operators import topk as K


def ints(spark, values, parts=2):
    return spark.createDataFrame([(v,) for v in values], "value int").repartition(parts)


def test_coalesce_reduces_without_shuffle(spark):
    df = ints(spark, list(range(101)), 8)
    out = P.coalesce(df, 5)
    assert P.num_partitions(out) == 5
    assert out.count() == 101


def test_repartition_up(spark):
    # reference tests/test_rdd.rs:365-385: repartition 20 -> 100
    df = ints(spark, list(range(100)), 20)
    out = P.repartition(df, 100)
    assert P.num_partitions(out) == 100
    assert out.count() == 100


def test_repartition_by_key_colocates(spark):
    df = spark.createDataFrame([(i % 5, i) for i in range(100)], "k int, v int")
    out = P.repartition_by_key(df, 4, ["k"])
    # every key must live in exactly one partition
    per_key = (out.withColumn("pid", F.spark_partition_id())
               .groupBy("k").agg(F.countDistinct("pid").alias("n")).collect())
    assert all(r.n == 1 for r in per_key)


def test_partition_sizes_accounts_all(spark):
    df = ints(spark, list(range(50)), 5)
    sizes = P.partition_sizes(df).collect()
    assert sum(r.rows for r in sizes) == 50


def test_sample_fraction(spark):
    df = ints(spark, list(range(1000)), 5)
    out = R.sample(df, with_replacement=False, fraction=0.1, seed=42)
    n = out.count()
    assert 50 <= n <= 200  # Bernoulli bounds
    # seed determinism within the engine
    n2 = R.sample(df, with_replacement=False, fraction=0.1, seed=42).count()
    assert n == n2


def test_take_sample_exact_size(spark):
    # reference tests/test_rdd.rs:325-351: exact num in all regimes
    df = ints(spark, list(range(100)), 5)
    for with_rep in (False, True):
        rows = R.take_sample(df, with_rep, 20, seed=7)
        assert len(rows) == 20
    assert len(R.take_sample(df, False, 150, seed=7)) == 100  # num >= total
    assert R.take_sample(df, False, 0, seed=7) == []


def test_random_split_disjoint_proportional(spark):
    # reference tests/test_rdd.rs:623-652
    df = ints(spark, list(range(1000)), 5)
    a, b = R.random_split(df, [0.7, 0.3], seed=42)
    na, nb = a.count(), b.count()
    assert na + nb == 1000
    assert abs(na - 700) < 50 and abs(nb - 300) < 50
    assert a.intersect(b).count() == 0


def test_top_and_take_ordered(spark):
    # reference tests/test_rdd.rs:655-673
    df = ints(spark, [13, 28, 3, 4, 51, 103, 12, 113, 19])
    top = [r.value for r in K.top(df, 3, ["value"]).collect()]
    assert top == [113, 103, 51]
    bottom = [r.value for r in K.take_ordered(df, 3, ["value"]).collect()]
    assert bottom == [3, 4, 12]


def test_topk_per_group(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 5), ("a", 3), ("b", 9), ("b", 2)], "k string, v int")
    out = K.topk_per_group(df, ["k"], [F.col("v").desc()], 2)
    got = sorted((r.k, r.v) for r in out.collect())
    assert got == [("a", 3), ("a", 5), ("b", 2), ("b", 9)]


def _brute_frontier(rows, dims):
    out = []
    for p in rows:
        dom = any(
            all(q[d] >= p[d] for d in dims) and any(q[d] > p[d] for d in dims)
            for q in rows)
        if not dom:
            out.append(p)
    return out


def test_pareto_frontier_matches_brute_force(spark):
    import random

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 50), rng.randint(0, 50), rng.randint(0, 50))
            for i in range(400)]
    df = spark.createDataFrame(rows, "id int, x long, y long, z long")
    got = sorted(tuple(r) for r in
                 K.pareto_frontier(df.repartition(8), ["x", "y", "z"])
                 .collect())
    exp = sorted((p["id"], p["x"], p["y"], p["z"])
                 for p in _brute_frontier([dict(id=a, x=b, y=c, z=d)
                                           for a, b, c, d in rows],
                                          ["x", "y", "z"]))
    assert got == exp


def test_pareto_frontier_keeps_exact_ties_and_2d(spark):
    rows = [(1, 5, 5), (2, 5, 5), (3, 4, 6), (4, 6, 4), (5, 3, 3),
            (6, 1, 7)]
    df = spark.createDataFrame(rows, "id int, x long, y long")
    got = sorted(r.id for r in
                 K.pareto_frontier(df.repartition(3), ["x", "y"]).collect())
    # (5,5) twice: neither dominates the other; (3,3) dominated;
    # (1,7) undominated
    assert got == [1, 2, 3, 4, 6]


# --- skew salting -------------------------------------------------------------

def test_salted_join_equals_plain_join(spark, sf_dir):
    from vega_spark.operators.skew import salted_join
    from vega_spark.tables import load_table
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus")
    plain = li.join(o, on="l_orderkey").groupBy("o_orderstatus").count()
    salted = (salted_join(li, o, ["l_orderkey"], n_salt=4)
              .groupBy("o_orderstatus").count())
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, salted.collect()))


def test_salted_agg_equals_plain_agg(spark, sf_dir):
    from vega_spark.operators.skew import salted_agg
    from vega_spark.tables import load_table
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    plain = {r.event_type: (r.n, round(r.total, 2), r.vmin, r.vmax)
             for r in ev.groupBy("event_type").agg(
                 F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"),
                 F.min("value").alias("vmin"), F.max("value").alias("vmax")
             ).collect()}
    got = {r.event_type: (r.n, round(r.total, 2), r.vmin, r.vmax)
           for r in salted_agg(ev, ["event_type"],
                               [("value", "count", "n"),
                                ("value", "sum", "total"),
                                ("value", "min", "vmin"),
                                ("value", "max", "vmax")], n_salt=4).collect()}
    assert plain == got


def test_bucketed_join_elides_exchange(spark, sf_dir, tmp_path):
    """Bucketed tables joined on the bucket key: no Exchange in the
    plan — the durable form of the reference's co-partitioned shuffle
    elision (co_grouped_rdd.rs:102-126)."""
    from vega_spark.operators.partitioning import write_bucketed
    from vega_spark.plans import inspect as I
    from vega_spark.tables import load_table
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        write_bucketed(li, "bkt_li", 4, ["l_orderkey"],
                       path=str(tmp_path / "bkt_li"))
        write_bucketed(o, "bkt_o", 4, ["o_orderkey"],
                       path=str(tmp_path / "bkt_o"))
        j = spark.table("bkt_li").join(
            spark.table("bkt_o"),
            F.col("l_orderkey") == F.col("o_orderkey"))
        txt = I.plan_text(j)
        assert "Exchange" not in txt, txt
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt_li")
        spark.sql("DROP TABLE IF EXISTS bkt_o")


def test_compact_small_files(spark, tmp_path):
    from vega_spark.operators.partitioning import compact_small_files
    p = str(tmp_path / "frag")
    # 40 fragment files
    spark.range(0, 40000).repartition(40).write.parquet(p)
    import os
    assert len([f for f in os.listdir(p) if f.endswith(".parquet")]) == 40
    n = compact_small_files(spark, p, target_file_bytes=10**9)
    assert n == 1
    assert len([f for f in os.listdir(p) if f.endswith(".parquet")]) == 1
    assert spark.read.parquet(p).count() == 40000


def test_compact_parquet_reduces_files_and_preserves_rows(spark, tmp_path):
    import os
    from vega_spark.operators.layout import compact_parquet
    p = str(tmp_path / "frag")
    # 40 tiny files
    spark.range(0, 4000).repartition(40).write.parquet(p)
    before = len([f for f in os.listdir(p) if f.endswith(".parquet")])
    assert before == 40
    stats = compact_parquet(spark, p, target_file_mb=128)
    assert stats["files_before"] == 40
    assert stats["files_after"] == 1          # tiny data: one target file
    got = spark.read.parquet(p)
    assert got.count() == 4000
    assert got.agg({"id": "sum"}).first()[0] == sum(range(4000))
    # sorted compaction keeps zone maps selective
    spark.range(0, 1000).repartition(10).write.mode("overwrite").parquet(p)
    compact_parquet(spark, p, target_file_mb=128, sort_within=["id"])
    assert spark.read.parquet(p).count() == 1000


def test_repartition_by_range_orders_keys_across_partitions(spark):
    df = ints(spark, [(v * 37) % 101 for v in range(101)], 5)
    out = P.repartition_by_range(df, 4, ["value"])
    assert P.num_partitions(out) == 4
    spans = sorted((r.pid, r.lo, r.hi, r.n) for r in
                   out.groupBy(F.spark_partition_id().alias("pid"))
                   .agg(F.min("value").alias("lo"),
                        F.max("value").alias("hi"),
                        F.count(F.lit(1)).alias("n")).collect())
    assert sum(n for *_, n in spans) == 101
    # each partition holds one key range, ascending by partition id
    assert all(a[2] < b[1] for a, b in zip(spans, spans[1:]))
    assert spans[0][1] == 0 and spans[-1][2] == 100

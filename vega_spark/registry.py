"""Query registry: one entry per implemented operator from SURVEY.md
§2 (+ the north-star extensions), each with an ANSI-SQL DuckDB oracle
where the semantics are SQL-expressible.

Contract (driver): each query is ``fn(spark, sf_dir) -> DataFrame``;
the oracle SQL runs on DuckDB views named after the tables. Column
names and types are aligned on both sides; doubles are rounded on
both sides (same decimals) so cross-engine float noise can't flip
the value hash. ``ORACLES[name]`` is the declared SQL, used verbatim:
an output column DuckDB widens past 64 bits (SUM over integers gives
HUGEINT) is cast to BIGINT in the oracle itself, at its outermost
projection (tests/test_oracle_types.py replans every oracle to hold
this). SQL that several oracles share lives in one named fragment.
Queries whose results are inherently engine-specific (seeded
sampling, xxhash64-based sketches, timeout-bounded partials) have
no oracle — the driver records a weaker rows-only check and the
unit tests pin their properties instead.

Every fact about a query is declared once, on its ``@_q`` decorator,
and lands in one ``Spec`` record in ``SPECS`` (registration order):
``fn`` the query, ``oracle`` its DuckDB SQL, ``bench`` whether
bench.py times it, ``diag`` a 1-row guard report tools/scale_bench.py
prints after timing it (for operators whose guards can bound the
output all the way to empty), ``note`` the fixed line the scale smoke
prints beside its ratio, and ``adjudicated`` the hand-reviewed
plan-advisor WARN codes (code -> rationale) that tools/scale_audit.py
reports apart from unadjudicated ones -- sides bounded by meaning but
opaque to Catalyst's maxRows. ``@_op`` placed after a contract query
fills its ``op``: the shipped operator alone, without the
verification leg that dominates the contract's time, so bench.py and
the scale smoke can grade operator cost; correctness still flows
through the contract query. ``QUERIES`` and ``ORACLES`` are the
driver-facing views of the same declarations.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from vega_spark.functions import dedup as X_dedup
from vega_spark.functions import multimodal as X_mm
from vega_spark.functions import similarity as X_sim
from vega_spark.functions import text as X_text
from vega_spark.functions import web as X_web
from vega_spark.operators import aggregations as A
from vega_spark.operators import joins as J
from vega_spark.operators import setops as S
from vega_spark.operators import topk as K
from vega_spark.operators.core import (
    filter_rows,
    flat_map,
    map_partitions,
    select_map,
)
from vega_spark.session import ensure_engine_conf
from vega_spark.session import run_overlapped as X_run_overlapped
from vega_spark.tables import (
    footer_col_max,
    footer_rows,
    footer_uncompressed_bytes,
    load_table,
    ts_date,
    ts_hour_bucket_epoch_s,
    ts_hour_of_day,
)

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Spec:
    fn: QueryFn
    oracle: str | None = None
    bench: bool = False
    op: QueryFn | None = None
    diag: QueryFn | None = None
    note: str | None = None
    adjudicated: dict[str, str] = field(default_factory=dict)


SPECS: dict[str, Spec] = {}
QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _q(name: str, oracle: str | None = None, *, bench: bool = False,
       diag: QueryFn | None = None, note: str | None = None,
       adjudicated: dict[str, str] | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        SPECS[name] = Spec(fn, oracle, bench, diag=diag, note=note,
                           adjudicated=adjudicated or {})
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def _op(name: str):
    """Attach the operator-only sub-plan to the contract query
    ``name`` registered above it."""
    def deco(fn: QueryFn) -> QueryFn:
        SPECS[name].op = fn
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_engine_conf(spark)
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship: the reference's de-facto benchmark query (weblog shape):
# avg(value) grouped by (category, hour-of-day) — examples/file_read.rs:13-29
# ---------------------------------------------------------------------------

@_q("weblog_agg", """
SELECT event_type,
       CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
       ROUND(SUM(value), 2) AS sum_value,
       COUNT(*) AS n
FROM events GROUP BY 1, 2
""", bench=True)
def weblog_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the reference computes the group mean as a (sum, count) combiner
    # pair (examples/file_read.rs:26-28) — we expose the same pair;
    # sums of 2-decimal data sit exactly on the 2-decimal grid, so the
    # cross-engine rounding is boundary-free (an avg is not).
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", ts_hour_of_day("ts").alias("hour"))
        .agg(F.round(F.sum("value"), 2).alias("sum_value"),
             F.count(F.lit(1)).alias("n"))
    )


# --- §2.1 sources -----------------------------------------------------------

@_q("scan_filter_project", """
SELECT l_orderkey, l_linenumber,
       ROUND(l_extendedprice * (1 - l_discount), 4) AS net
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_discount > 0.05
""")
def scan_filter_project(spark, sf_dir):
    # round at the product's intrinsic scale (2dec x 2dec = 4dec):
    # lossless, so both engines land on the identical double
    li = _t(spark, sf_dir, "lineitem")
    return select_map(
        filter_rows(li, (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
                    & (F.col("l_discount") > 0.05)),
        "l_orderkey", "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net"),
    )


@_q("range_inclusive", "SELECT range AS value FROM range(1, 13)")
def range_inclusive_q(spark, sf_dir):
    from vega_spark.sources.readers import range_inclusive
    return range_inclusive(spark, 1, 12)


@_q("parallelize",
    "SELECT * FROM (VALUES (1),(1),(2),(2),(3),(3),(4),(4)) AS t(value)")
def parallelize_q(spark, sf_dir):
    from vega_spark.sources.readers import parallelize
    return parallelize(spark, [(v,) for v in [1, 1, 2, 2, 3, 3, 4, 4]],
                       "value int")


# --- §2.2 actions (dataset-shaped) ------------------------------------------

@_q("count_rows", "SELECT COUNT(*) AS cnt FROM lineitem")
def count_rows(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("cnt"))


@_q("count_by_value", """
SELECT l_returnflag, l_linestatus, COUNT(*) AS count
FROM lineitem GROUP BY 1, 2
""")
def count_by_value_q(spark, sf_dir):
    from vega_spark.operators.actions import count_by_value
    return count_by_value(_t(spark, sf_dir, "lineitem"),
                          ["l_returnflag", "l_linestatus"])


@_q("max_min", """
SELECT ROUND(MAX(l_extendedprice), 2) AS max_price,
       ROUND(MIN(l_extendedprice), 2) AS min_price,
       MAX(l_quantity) AS max_qty, MIN(l_quantity) AS min_qty
FROM lineitem
""")
def max_min(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_quantity").alias("min_qty"),
    )


@_q("reduce_sum", "SELECT ROUND(SUM(l_quantity), 1) AS total_qty FROM lineitem")
def reduce_sum(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").agg(
        F.round(F.sum("l_quantity"), 1).alias("total_qty"))


@_q("fold_aggregate", """
SELECT CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
""")
def fold_aggregate(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.sum("o_orderkey").alias("sum_key"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@_q("first_ordered", """
SELECT o_orderkey, o_orderstatus FROM orders ORDER BY o_orderkey LIMIT 1
""")
def first_ordered(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return K.take_ordered(o.select("o_orderkey", "o_orderstatus"), 1, ["o_orderkey"])


@_q("take_ordered", """
SELECT o_orderkey, ROUND(o_totalprice, 2) AS price
FROM orders ORDER BY o_orderkey LIMIT 10
""")
def take_ordered_q(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price"))
    return K.take_ordered(o, 10, ["o_orderkey"])


@_q("top_k", """
SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 2) AS price
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 10
""", bench=True)
def top_k(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = li.orderBy(F.col("l_extendedprice").desc(), F.col("l_orderkey").asc(),
                     F.col("l_linenumber").asc()).limit(10)
    return out.select("l_orderkey", "l_linenumber",
                      F.round("l_extendedprice", 2).alias("price"))


# --- §2.3 narrow transforms --------------------------------------------------

@_q("map_project", """
SELECT p_partkey, UPPER(p_brand) AS brand,
       ROUND(p_retailprice * 1.1, 2) AS bumped
FROM part
""")
def map_project(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return select_map(p, "p_partkey", F.upper("p_brand").alias("brand"),
                      F.round(F.col("p_retailprice") * 1.1, 2).alias("bumped"))


@_q("filter_rows", """
SELECT c_custkey, ROUND(c_acctbal, 2) AS bal
FROM customer WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 0
""")
def filter_rows_q(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return filter_rows(c, (F.col("c_mktsegment") == "BUILDING") &
                       (F.col("c_acctbal") > 0)).select(
        "c_custkey", F.round("c_acctbal", 2).alias("bal"))


@_q("flat_map_words", """
SELECT word, COUNT(*) AS count FROM (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS word
  FROM documents
) GROUP BY word
""")
def flat_map_words(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    words = flat_map(d, X_text.tokens("text"), "word")
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("count"))


@_q("key_by", """
SELECT o_orderkey, o_orderkey % 10 AS key FROM orders
""")
def key_by_q(spark, sf_dir):
    from vega_spark.operators.core import key_by
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    return key_by(o, F.col("o_orderkey") % 10, "key")


@_q("map_values", """
SELECT o_custkey, ROUND(o_totalprice * 0.9, 3) AS value FROM orders
""")
def map_values_q(spark, sf_dir):
    from vega_spark.operators.core import map_values
    o = _t(spark, sf_dir, "orders")
    # 2dec x 1dec = 3dec intrinsic scale (lossless rounding)
    return map_values(o, ["o_custkey"], F.round(F.col("o_totalprice") * 0.9, 3))


@_q("flat_map_values", """
SELECT o_orderkey AS key, unnest([o_orderpriority, o_orderstatus]) AS value
FROM orders
""")
def flat_map_values_q(spark, sf_dir):
    from vega_spark.operators.core import flat_map_values
    o = _t(spark, sf_dir, "orders")
    return flat_map_values(
        o.select(F.col("o_orderkey").alias("key"), "o_orderpriority", "o_orderstatus"),
        ["key"], F.array("o_orderpriority", "o_orderstatus"))


@_q("map_partitions", """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 1) AS revenue,
       COUNT(*) AS n
FROM lineitem
""")
def map_partitions_q(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_extendedprice", "l_discount")

    def op(batches):
        for b in batches:
            yield pd.DataFrame({
                "net": b["l_extendedprice"] * (1 - b["l_discount"])})

    per_row = map_partitions(li, op, "net double")
    return per_row.agg(F.round(F.sum("net"), 1).alias("revenue"),
                       F.count(F.lit(1)).alias("n"))


# --- §2.4 joins & cogroup -----------------------------------------------------

@_q("join_inner", """
SELECT o_orderstatus, COUNT(*) AS n,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 1) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
""", bench=True)
def join_inner(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = J.join(li, o.select("o_orderkey", "o_orderstatus"),
               on=F.col("l_orderkey") == F.col("o_orderkey"),
               broadcast_right=True)
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 1)
        .alias("revenue"))


@_q("join_left", """
SELECT c_custkey, COUNT(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
""")
def join_left(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    j = J.join(c.select("c_custkey"), o.select("o_custkey", "o_orderkey"),
               on=F.col("c_custkey") == F.col("o_custkey"), how="left")
    return j.groupBy("c_custkey").agg(F.count("o_orderkey").alias("n_orders"))


@_q("join_anti", """
SELECT c_custkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""")
def join_anti(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return J.join(c.select("c_custkey"), o.select(F.col("o_custkey")),
                  on=F.col("c_custkey") == F.col("o_custkey"),
                  how="left_anti")


@_q("join_semi", """
SELECT p_partkey FROM part
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey
              AND l_quantity > 45)
""")
def join_semi(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return J.join(p.select("p_partkey"), li.select("l_partkey"),
                  on=F.col("p_partkey") == F.col("l_partkey"), how="left_semi")


@_q("cogroup", """
WITH l AS (
  SELECT c_nationkey AS key,
         array_to_string(list_sort(list(c_custkey)), ',') AS left_values
  FROM customer GROUP BY 1
), r AS (
  SELECT s_nationkey AS key,
         array_to_string(list_sort(list(s_suppkey)), ',') AS right_values
  FROM supplier GROUP BY 1
)
SELECT COALESCE(l.key, r.key) AS key,
       COALESCE(left_values, '') AS left_values,
       COALESCE(right_values, '') AS right_values
FROM l FULL OUTER JOIN r ON l.key = r.key
""")
def cogroup_q(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    cg = J.cogroup(c, s, "c_nationkey", "s_nationkey",
                   "c_custkey", "s_suppkey", key_name="key")
    to_str = lambda col: F.array_join(  # noqa: E731
        F.transform(F.col(col), lambda x: x.cast("string")), ",")
    return cg.select("key", to_str("left_values").alias("left_values"),
                     to_str("right_values").alias("right_values"))


@_q("cartesian", """
SELECT r_name, n_name FROM region CROSS JOIN nation
""", adjudicated={"cross-nlj": (
    "the §2 cartesian OPERATOR itself — a cross product is its "
    "contract (reference cartesian_rdd.rs materializes the right "
    "side per task); callers must keep one side small")})
def cartesian_q(spark, sf_dir):
    r = _t(spark, sf_dir, "region").select("r_name")
    n = _t(spark, sf_dir, "nation").select("n_name")
    return J.cartesian(r, n)


@_q("zip", """
WITH a AS (
  SELECT c_custkey, ROW_NUMBER() OVER (ORDER BY c_custkey) AS idx FROM customer
), b AS (
  SELECT c_name, ROW_NUMBER() OVER (ORDER BY c_acctbal DESC, c_custkey) AS idx
  FROM customer
)
SELECT a.c_custkey, b.c_name FROM a JOIN b ON a.idx = b.idx
""", bench=True)
def zip_q(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    out = J.zip_by_order(
        c.select("c_custkey"),
        c.select("c_name", "c_acctbal", "c_custkey"),
        ["c_custkey"],
        [F.col("c_acctbal").desc(), F.col("c_custkey").asc()])
    return out.select("c_custkey", "c_name")


# --- §2.5 keyed aggregation ---------------------------------------------------

@_q("reduce_by_key", """
SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY o_custkey
""")
def reduce_by_key_q(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return A.reduce_by_key(o, ["o_custkey"],
                           F.round(F.sum("o_totalprice"), 2).alias("total"))


@_q("group_by_key", """
SELECT l_orderkey,
       array_to_string(list_sort(list(l_linenumber)), ',') AS lines
FROM lineitem GROUP BY l_orderkey
""")
def group_by_key_q(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    g = A.group_by_key(li, ["l_orderkey"], "l_linenumber", sort_values=True)
    return g.select(
        "l_orderkey",
        F.array_join(F.transform("values", lambda x: x.cast("string")), ",")
        .alias("lines"))


@_q("combine_by_key", """
SELECT l_suppkey, ROUND(AVG(l_quantity), 4) AS avg_qty
FROM lineitem GROUP BY l_suppkey
""")
def combine_by_key_q(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")

    def mean_combiner(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({
            "l_suppkey": [pdf["l_suppkey"].iloc[0]],
            "avg_qty_raw": [float(pdf["l_quantity"].sum()) / len(pdf)],
        })

    out = A.combine_by_key(li, ["l_suppkey"], mean_combiner,
                           "l_suppkey long, avg_qty_raw double")
    return out.select("l_suppkey", F.round("avg_qty_raw", 4).alias("avg_qty"))


@_q("group_by_derived", """
SELECT CASE WHEN c_acctbal < 0 THEN 'neg'
            WHEN c_acctbal = 0 THEN 'zero' ELSE 'pos' END AS key,
       COUNT(*) AS n, ROUND(SUM(c_acctbal), 2) AS bal
FROM customer GROUP BY 1
""")
def group_by_derived(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    key = (F.when(F.col("c_acctbal") < 0, "neg")
           .when(F.col("c_acctbal") == 0, "zero").otherwise("pos"))
    return c.groupBy(key.alias("key")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("c_acctbal"), 2).alias("bal"))


@_q("agg_sweep", """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 1) AS sum_qty,
       ROUND(SUM(l_extendedprice), 1) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 1) AS sum_disc_price,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""", bench=True)
def agg_sweep(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <=
                      F.lit("1998-09-02").cast("timestamp_ntz"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 1).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 1).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") *
                               (1 - F.col("l_discount"))), 1).alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
                 F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                 F.count(F.lit(1)).alias("count_order")))


@_q("rollup", """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       ROUND(SUM(l_quantity), 1) AS qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def rollup_q(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return A.rollup_agg(li, ["l_returnflag", "l_linestatus"],
                        F.count(F.lit(1)).alias("n"),
                        F.round(F.sum("l_quantity"), 1).alias("qty"))


@_q("cube", """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""")
def cube_q(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return A.cube_agg(li, ["l_returnflag", "l_linestatus"],
                      F.count(F.lit(1)).alias("n"))


@_q("grouping_sets", """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
""")
def grouping_sets_q(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return A.grouping_sets_agg(li, [["l_returnflag"], ["l_linestatus"]],
                               ["l_returnflag", "l_linestatus"],
                               "count(*) AS n")


@_q("count_distinct", """
SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust
FROM orders GROUP BY o_orderstatus
""")
def count_distinct_q(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_cust"))


# --- §2.6 set ops -------------------------------------------------------------

@_q("union_bag", """
SELECT n_regionkey, COUNT(*) AS n FROM (
  SELECT n_regionkey FROM nation WHERE n_nationkey < 15
  UNION ALL
  SELECT n_regionkey FROM nation WHERE n_nationkey >= 10
) GROUP BY n_regionkey
""")
def union_bag_q(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    u = S.union_bag(n.filter(F.col("n_nationkey") < 15).select("n_regionkey"),
                    n.filter(F.col("n_nationkey") >= 10).select("n_regionkey"))
    return u.groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("n"))


@_q("distinct", "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    bench=True)
def distinct_q(spark, sf_dir):
    return S.distinct(_t(spark, sf_dir, "customer"),
                      ["c_mktsegment", "c_nationkey"])


@_q("intersection", """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
""", bench=True)
def intersection_q(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"))
    return S.intersection(c, s)


@_q("subtract", """
SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey FROM orders
""")
def subtract_q(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey"))
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"))
    return S.subtract(c, o)


# --- §2.7 partitioning --------------------------------------------------------

@_q("repartition_agg", """
SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
""")
def repartition_agg(spark, sf_dir):
    from vega_spark.operators.partitioning import repartition_by_key
    o = repartition_by_key(_t(spark, sf_dir, "orders"), 16, ["o_custkey"])
    return o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))


@_q("coalesce_agg", "SELECT COUNT(*) AS cnt FROM part")
def coalesce_agg(spark, sf_dir):
    from vega_spark.operators.partitioning import coalesce
    return coalesce(_t(spark, sf_dir, "part"), 2).agg(
        F.count(F.lit(1)).alias("cnt"))


# --- §2.8 sampling — seeded RNG is engine-specific, so the driver-
# hashable surface is the sample's INVARIANTS (size band, membership,
# no duplicates), computed engine-side as 0/1 flags the oracle pins to
# 1 (the approx_accuracy_contract pattern, driver-green r02) ------------------

@_q("sample_seeded", """
SELECT COUNT(*) AS n_source, 1 AS size_in_band,
       1 AS all_members, 1 AS no_dupes
FROM documents
""")
def sample_seeded(spark, sf_dir):
    """Bernoulli sample contract (ref src/rdd/rdd.rs sample): the
    sampled size must sit within 5 sigma of fraction*n, every sampled
    id must exist in the source, and without-replacement must yield no
    duplicate ids. All three checked engine-side; the oracle pins the
    flags — a broken sampler fails the driver hash."""
    from vega_spark.operators.sampling import sample
    d = _t(spark, sf_dir, "documents").select("doc_id")
    s = sample(d, with_replacement=False, fraction=0.1, seed=42)
    stats = s.agg(F.count(F.lit(1)).alias("k"),
                  F.count_distinct("doc_id").alias("k_distinct"))
    inside = (s.join(d, "doc_id", "left_semi")
              .agg(F.count(F.lit(1)).alias("k_inside")))
    n = d.agg(F.count(F.lit(1)).alias("n_source"))
    sigma = "sqrt(0.1 * 0.9 * n_source)"
    return (n.crossJoin(stats).crossJoin(inside).select(
        "n_source",
        F.expr(f"cast(abs(k - 0.1 * n_source) <= 5 * {sigma} + 1 as int)")
        .alias("size_in_band"),
        (F.col("k_inside") == F.col("k")).cast("int").alias("all_members"),
        (F.col("k_distinct") == F.col("k")).cast("int").alias("no_dupes")))


@_q("random_split_sizes", """
SELECT COUNT(*) AS n_source, 1 AS covers_all,
       1 AS disjoint, 1 AS left_in_band
FROM documents
""")
def random_split_sizes(spark, sf_dir):
    """random_split contract: the two halves must partition the source
    exactly (sizes sum to n, no id in both) and the left share must
    sit within 5 sigma of its 0.7 weight. Flags computed engine-side,
    pinned by the oracle (sample_seeded's pattern)."""
    from vega_spark.operators.sampling import random_split
    d = _t(spark, sf_dir, "documents").select("doc_id")
    left, right = random_split(d, [0.7, 0.3], seed=42)
    nl = left.agg(F.count(F.lit(1)).alias("n_left"))
    nr = right.agg(F.count(F.lit(1)).alias("n_right"))
    both = (left.join(right, "doc_id", "left_semi")
            .agg(F.count(F.lit(1)).alias("n_both")))
    n = d.agg(F.count(F.lit(1)).alias("n_source"))
    sigma = "sqrt(0.7 * 0.3 * n_source)"
    return (n.crossJoin(nl).crossJoin(nr).crossJoin(both).select(
        "n_source",
        (F.col("n_left") + F.col("n_right") == F.col("n_source"))
        .cast("int").alias("covers_all"),
        (F.col("n_both") == 0).cast("int").alias("disjoint"),
        F.expr(f"cast(abs(n_left - 0.7 * n_source) <= 5 * {sigma} + 1 as int)")
        .alias("left_in_band")))


# --- §2.9 approximate — same contract surface: the sketch estimate
# must land inside its advertised error band around the exact value ----------

@_q("approx_count_distinct", """
SELECT COUNT(DISTINCT l_partkey) AS exact_ndv, 1 AS ndv_within_band
FROM lineitem
""")
def approx_count_distinct_q(spark, sf_dir):
    """HLL++ accuracy contract (ref src/partial/count_evaluator.rs):
    the rsd=0.02 estimate must land within 3*rsd of the exact distinct
    count; the flag is engine-computed and oracle-pinned."""
    from vega_spark.operators.approx import approx_count_distinct
    li = _t(spark, sf_dir, "lineitem")
    approx = approx_count_distinct(li, "l_partkey", rsd=0.02)
    exact = li.agg(F.count_distinct("l_partkey").alias("exact_ndv"))
    return exact.crossJoin(approx).select(
        "exact_ndv",
        (F.abs(F.col("approx_distinct") - F.col("exact_ndv"))
         <= 0.06 * F.col("exact_ndv")).cast("int").alias("ndv_within_band"))


@_q("percentile_approx", """
SELECT COUNT(*) AS n, 1 AS p25_ok, 1 AS p50_ok, 1 AS p75_ok
FROM lineitem
""")
def percentile_approx_q(spark, sf_dir):
    """GK-sketch quantile contract: each approximate quartile of
    l_extendedprice (accuracy 10000) must land within 1% of the exact
    percentile; flags engine-computed, oracle-pinned."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))")
        .alias("__ex"),
        F.expr("percentile_approx(l_extendedprice,"
               " array(0.25, 0.5, 0.75), 10000)").alias("__ap"))
    flags = [
        (F.abs(F.col("__ap")[i] - F.col("__ex")[i])
         <= 0.01 * F.abs(F.col("__ex")[i])).cast("int").alias(name)
        for i, name in enumerate(["p25_ok", "p50_ok", "p75_ok"])]
    return agg.select("n", *flags)


# --- windows (capability superset; reference gap §2.11) ------------------------

@_q("window_topk_per_group", """
SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 2) AS price, rk
FROM (
  SELECT l_orderkey, l_linenumber, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_extendedprice DESC, l_linenumber) AS rk
  FROM lineitem
) WHERE rk <= 2
""", bench=True)
def window_topk_per_group(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = K.topk_per_group(li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
                           ["l_orderkey"],
                           [F.col("l_extendedprice").desc(),
                            F.col("l_linenumber").asc()], 2)
    return out.select("l_orderkey", "l_linenumber",
                      F.round("l_extendedprice", 2).alias("price"), "rk")


@_q("window_running_sum", """
SELECT o_orderkey,
       ROUND(SUM(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
FROM orders
""")
def window_running_sum(spark, sf_dir):
    from pyspark.sql.window import Window as W
    o = _t(spark, sf_dir, "orders")
    w = (W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return o.select("o_orderkey",
                    F.round(F.sum("o_totalprice").over(w), 2).alias("running"))


# --- events / streaming-shaped ------------------------------------------------

@_q("windowed_event_counts", """
SELECT CAST(EXTRACT(epoch FROM date_trunc('hour', ts)) AS BIGINT) AS win_start,
       event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
FROM events GROUP BY 1, 2
""")
def windowed_event_counts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(ts_hour_bucket_epoch_s("ts").alias("win_start"),
                       "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("total")))


# --- multi-join analytics (TPC-H shapes — broadcast-join planning) -------------

@_q("tpch_q3_shipping", """
SELECT l_orderkey, CAST(o_orderdate AS DATE) AS odate,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
ORDER BY revenue DESC, l_orderkey LIMIT 10
""", bench=True)
def tpch_q3_shipping(spark, sf_dir):
    # dimension sides broadcast; the only exchange is the final group
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    j = (li.join(F.broadcast(o), F.col("l_orderkey") == F.col("o_orderkey"))
         .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")))
    return (j.groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("odate"))
            .agg(F.round(F.sum(F.col("l_extendedprice") *
                               (1 - F.col("l_discount"))), 2).alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("l_orderkey")).limit(10))


@_q("tpch_q5_local_supplier", """
SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 1) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name
""", bench=True)
def tpch_q5_local_supplier(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey")
    j = (li.join(F.broadcast(o), F.col("l_orderkey") == F.col("o_orderkey"))
         .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(s), (F.col("l_suppkey") == F.col("s_suppkey")) &
               (F.col("c_nationkey") == F.col("s_nationkey")))
         .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
         .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")))
    return j.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 1)
        .alias("revenue"))


@_q("zip_with_index", """
SELECT c_custkey, ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS idx
FROM customer
""")
def zip_with_index_q(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    return J.zip_with_index(c, ["c_custkey"], "idx")


@_q("glom_sizes", """
SELECT COUNT(*) AS total_rows, 1 AS glom_covers, 1 AS pids_distinct
FROM nation
""")
def glom_sizes_q(spark, sf_dir):
    """glom contract (ref src/rdd/rdd.rs glom): partition layout is
    engine-internal, but the glommed arrays must jointly cover the
    source exactly — sizes sum to an independently-computed row count
    — with one array per partition id. Flags engine-side, pinned by
    the oracle."""
    from vega_spark.operators.core import glom
    d = _t(spark, sf_dir, "nation")
    g = glom(d).select("partition_id", F.size("items").alias("n_items"))
    gagg = g.agg(F.sum("n_items").alias("__covered"),
                 F.count(F.lit(1)).alias("__parts"),
                 F.count_distinct("partition_id").alias("__pids"))
    src = d.agg(F.count(F.lit(1)).alias("total_rows"))
    return src.crossJoin(gagg).select(
        "total_rows",
        (F.col("__covered") == F.col("total_rows")).cast("int")
        .alias("glom_covers"),
        (F.col("__pids") == F.col("__parts")).cast("int")
        .alias("pids_distinct"))


@_q("count_approx", """
SELECT COUNT(*) AS exact_n, 1 AS ci_contains
FROM lineitem
""")
def count_approx_q(spark, sf_dir):
    """count_approx contract (ref src/partial/count_evaluator.rs +
    rdd.rs:1018-1056): the BoundedDouble's CI must contain the exact
    count — an invariant that holds BOTH when every partition finishes
    inside the deadline (CI degenerates to the exact value) and on the
    partial-estimate path. The old `completed_exact` pin required
    all-partitions-inside-60s, i.e. it hashed wall-clock on a loaded
    host (r3 ADVICE) — dropped from the hashed surface."""
    from vega_spark.operators.approx import count_approx
    li = _t(spark, sf_dir, "lineitem")
    r = count_approx(li, timeout_ms=60_000)
    exact = li.count()
    return spark.createDataFrame(
        [(exact, int(r.low <= exact <= r.high))],
        "exact_n long, ci_contains int")


# --- north-star: dedup ----------------------------------------------------------

@_q("dedup_exact", """
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
FROM documents GROUP BY text
""", bench=True)
def dedup_exact_q(spark, sf_dir):
    return X_dedup.exact_dedup(_t(spark, sf_dir, "documents"), "text", "doc_id")


# Each document's lowercased whitespace tokens as a list t.
_DOC_TOKS_CTE = """toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '') AS t
  FROM documents
)"""


# Word 3-gram shingle sets per document (sh), and — over a shingle
# index idx(doc, shingle) — each doc's set size and every doc pair's
# shared-shingle count (common).
_DOC_SHINGLES_CTE = f"""{_DOC_TOKS_CTE}, sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN
           list_distinct(list_transform(generate_series(1, len(t) - 2),
                                        i -> array_to_string(t[i:i+2], ' ')))
         ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks
)"""
_SHINGLE_OVERLAP_CTE = """sizes AS (
  SELECT doc, COUNT(*) AS n FROM idx GROUP BY doc
), common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
  FROM idx a JOIN idx b USING (shingle)
  WHERE a.doc < b.doc GROUP BY 1, 2
)"""


_NGRAM_JACCARD_SQL = f"""
WITH {_DOC_SHINGLES_CTE}, idx0 AS (
  SELECT DISTINCT doc_id AS doc, unnest(shingles) AS shingle FROM sh
), hot AS (
  SELECT shingle FROM idx0 GROUP BY shingle HAVING COUNT(*) > 1000
), idx AS (
  SELECT doc, shingle FROM idx0 ANTI JOIN hot USING (shingle)
), {_SHINGLE_OVERLAP_CTE}
SELECT doc_a, doc_b,
       ROUND(common / (sa.n + sb.n - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE common / (sa.n + sb.n - common) >= 0.5
"""


@_q("dedup_ngram_jaccard", _NGRAM_JACCARD_SQL, bench=True)
def dedup_ngram_jaccard_q(spark, sf_dir):
    """max_doc_freq=1000 keeps the hot-shingle skew guard ON in the
    flagship (r3 verdict: a boilerplate shingle shared by M docs makes
    the index self-join produce M^2 rows); the oracle's `hot` CTE
    mirrors the cap exactly."""
    return X_dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"),
                                       "text", "doc_id", n=3, threshold=0.5,
                                       max_doc_freq=1000)


# Connected components of the symmetric edge list e(u, v) by
# recursive reachability (needs WITH RECURSIVE): comp labels each
# node with the smallest node of its component.  The near-dup
# flavour takes its edges from the 0.5-Jaccard doc pairs.
_COMPONENTS_CTE = """reach(u, v) AS (
  SELECT u, v FROM e
  UNION
  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
comp AS (SELECT u AS node, LEAST(u, MIN(v)) AS component
         FROM reach GROUP BY u)"""
_NGRAM_COMPONENTS_CTE = f"""pairs AS ({_NGRAM_JACCARD_SQL}),
e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
{_COMPONENTS_CTE}"""


@_q("dedup_components", f"""
WITH RECURSIVE {_NGRAM_COMPONENTS_CTE}
SELECT node AS doc_id, component FROM comp
""", bench=True)
def dedup_components_q(spark, sf_dir):
    """Near-dup clusters: deterministic jaccard pairs -> min-label
    connected components (dedup.connected_components). The oracle
    computes the same closure with a recursive CTE. Hot-shingle cap on
    (mirrored in the oracle's `hot` CTE) — the pairs feed a closure, so
    an unguarded M^2 bucket would cascade."""
    pairs = X_dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"),
                                        "text", "doc_id", n=3, threshold=0.5,
                                        max_doc_freq=1000)
    return X_dedup.connected_components(pairs)


@_q("dedup_keep_representatives", f"""
WITH RECURSIVE {_NGRAM_COMPONENTS_CTE}
SELECT d.doc_id FROM documents d
LEFT JOIN comp c ON d.doc_id = c.node
WHERE c.component IS NULL OR c.component = d.doc_id
""", bench=True)
def dedup_keep_representatives_q(spark, sf_dir):
    """Full near-dedup: collapse each cluster to its lowest-id doc,
    pass singletons through. Hot-shingle cap on (oracle `hot` CTE)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = X_dedup.ngram_jaccard_pairs(docs, "text", "doc_id",
                                        n=3, threshold=0.5,
                                        max_doc_freq=1000)
    comp = X_dedup.connected_components(pairs)
    return X_dedup.keep_representatives(docs, comp).select("doc_id")


_TRUE_PAIRS_090_SQL = f"""
WITH {_DOC_SHINGLES_CTE}, idx AS (
  SELECT DISTINCT doc_id AS doc, unnest(shingles) AS shingle FROM sh
), {_SHINGLE_OVERLAP_CTE}, truth AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_true
  FROM common
  JOIN sizes sa ON sa.doc = doc_a
  JOIN sizes sb ON sb.doc = doc_b
  WHERE common / (sa.n + sb.n - common) >= 0.9)
"""


@_q("dedup_minhash_lsh", f"""
{_TRUE_PAIRS_090_SQL}
SELECT n_true AS n_true_pairs, n_true AS n_true_found, 1 AS pairs_valid
FROM truth
""", bench=True)
def dedup_minhash_lsh_q(spark, sf_dir):
    """MinHash+LSH RECALL contract: with 16 bands of 4 rows, a pair at
    Jaccard >= 0.9 collides in at least one band with prob
    1-(1-0.9^4)^16 ~ 1-3e-8 — so the candidate set must contain EVERY
    true >= 0.9 pair, and the oracle pins n_true_found to the
    SQL-computed truth count (the exact shingle-Jaccard replay that
    dedup_ngram_jaccard hashes in full). pairs_valid pins the a < b /
    no-self-pair invariant. Candidate-set size itself is
    hash-function-specific and stays out of the hashed surface.
    max_bucket=None because this contract PINS 100% recall: the
    default hot-bucket cap (1000) could truncate a near-dup-heavy
    bucket at larger SFs and drop a true pair — behaving as designed
    yet failing the pin (r3 ADVICE). The corpus is bounded here, so
    uncapped collect_list is safe; production callers keep the cap."""
    docs = _t(spark, sf_dir, "documents")
    lsh = X_dedup.minhash_lsh_pairs(docs, "text", "doc_id",
                                    num_hashes=64, bands=16,
                                    max_bucket=None)
    true = X_dedup.ngram_jaccard_pairs(docs, "text", "doc_id",
                                       n=3, threshold=0.9) \
        .select("doc_a", "doc_b")
    n_true = true.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    n_found = (true.join(lsh, ["doc_a", "doc_b"], "left_semi")
               .agg(F.count(F.lit(1)).alias("n_true_found")))
    valid = lsh.agg(
        (F.count(F.lit(1)) ==
         F.count(F.when(F.col("doc_a") < F.col("doc_b"), 1)))
        .cast("int").alias("pairs_valid"))
    return n_true.crossJoin(n_found).crossJoin(valid)


@_op("dedup_minhash_lsh")
def dedup_minhash_lsh_op(spark, sf_dir):
    """Operator sub-plan: banded-LSH candidate pairs in the SHIPPED
    configuration (hot-bucket cap on). The contract above runs
    uncapped because it pins 100% recall; this entry is what a
    production pipeline actually executes, timed separately so the
    bench separates operator cost from exact-truth-replay cost."""
    return X_dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        num_hashes=64, bands=16, max_bucket=1000)


@_q("dedup_simhash", f"""
{_TRUE_PAIRS_090_SQL}
SELECT n_true AS n_true_pairs, 1 AS recall_ge_half, 1 AS pairs_valid
FROM truth
""", bench=True, note=(
    "Manku combinatorial block keys since r7 (~32-bit tables, "
    "C(6,3)=20 of them for h=3): chance bucket collisions fall from "
    "n^2/2^16 to n^2/2^33, removing the saturation transition the "
    "r4-r6 smokes measured (60.8x at 100x then; 4.8x at 100x now, "
    "corpus v4). r9 DECOMPOSITION of the 1000x tail (78-93s, 5M "
    "docs): fp UDF 22.5s + postings build ~15s + a 1.57e9-candidate "
    "codegen verify for 8.26M survivors (0.5%). NOT cliques (99% of "
    "fps distinct on v4), NOT the cap (binds on 262 of 45M buckets), "
    "NOT chance collisions (~3k pairs) — mid-size (10-999 doc) "
    "NEAR-fp buckets from the corpus's low token entropy. Candidate "
    "density grows linearly (0.18 -> 5.21 -> 15.7 pairs/posting at "
    "1x/300x/1000x), i.e. the exact candidate stream is QUADRATIC "
    "in corpus; two in-code escape hatches bound it: "
    "collapse_identical (boilerplate-clique corpora) and "
    "band_bucket (pair work ∝ postings, the linear asymptote — at "
    "1000x it is only 1.1x faster, recall 0.71, because the "
    "crossover is just beginning; past the cap-saturation decade it "
    "is the only linear configuration)"))
def dedup_simhash_q(spark, sf_dir):
    """SimHash near-dup contract: SimHash measures weighted-feature
    cosine, not Jaccard, so unlike MinHash (see dedup_minhash_lsh) a
    hard 100% recall pin would be dishonest — measured recall on the
    corpus's >= 0.9-Jaccard pairs is 78-84%. The contract pins the
    SQL truth count, a >= 50% recall floor, and pair validity.

    Unlike dedup_minhash_lsh (which pins 100% recall and therefore
    must run uncapped), this contract's 50% floor tolerates the
    production hot-chunk guard, so the operator leg runs with the
    DEFAULT max_bucket=1000 — the contract gates the exact
    configuration that ships (the r4 scale smoke measured the
    uncapped form at 16x wall for 10x data; the cap restores linear
    candidate generation). The truth leg stays the exact
    shingle-Jaccard replay."""
    docs = _t(spark, sf_dir, "documents")
    sim = X_dedup.simhash_near_pairs(docs, "text", "doc_id",
                                     max_hamming=3, max_bucket=1000)
    true = X_dedup.ngram_jaccard_pairs(docs, "text", "doc_id",
                                       n=3, threshold=0.9) \
        .select("doc_a", "doc_b")
    n_true = true.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    n_found = (true.join(sim.select("doc_a", "doc_b"),
                         ["doc_a", "doc_b"], "left_semi")
               .agg(F.count(F.lit(1)).alias("__found")))
    valid = sim.agg(
        (F.count(F.lit(1)) ==
         F.count(F.when(F.col("doc_a") < F.col("doc_b"), 1)))
        .cast("int").alias("pairs_valid"))
    return (n_true.crossJoin(n_found).crossJoin(valid).select(
        "n_true_pairs",
        (2 * F.col("__found") >= F.col("n_true_pairs")).cast("int")
        .alias("recall_ge_half"),
        "pairs_valid"))


@_op("dedup_simhash")
def dedup_simhash_op(spark, sf_dir):
    """Operator sub-plan: pigeonhole-blocked SimHash pairs with the
    shipped hot-chunk cap — the contract's other leg is the exact
    shingle-Jaccard truth replay, which dominates its wall time."""
    return X_dedup.simhash_near_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        max_hamming=3, max_bucket=1000)


@_q("dedup_simhash_collapsed", f"""
{_TRUE_PAIRS_090_SQL}
SELECT n_true AS n_true_pairs, 1 AS recall_ge_half,
       1 AS components_match
FROM truth
""", bench=True, note=(
    "the production simhash configuration for boilerplate-heavy "
    "corpora: identical fingerprints collapse to one blocking "
    "posting + linear star edges BEFORE Manku tables, so clique "
    "cost falls from C(g,2) to g-1 while connected components stay "
    "EXACTLY the exhaustive form's (equal fps have equal hamming "
    "to everything). On corpus v4 the pre-pass is deliberately moot "
    "(99% distinct fps — v4 restored fp diversity precisely to kill "
    "clique artifacts), so its 1000x wall tracks dedup_simhash's; "
    "the win appears exactly when a real corpus's boilerplate "
    "does. fp is checkpointed once (the UDF re-ran per consumer "
    "before r9: 141s vs 78s at 1000x)"))
def dedup_simhash_collapsed_q(spark, sf_dir):
    """SimHash near-dup with the identical-fingerprint collapse
    pre-pass (r9, VERDICT r8 #5): exact-dedup on fingerprint
    equality BEFORE Manku blocking, so boilerplate cliques cost
    g - 1 star edges instead of C(g, 2) bucket pairs and every
    blocking table holds one posting per DISTINCT fingerprint —
    the production configuration for boilerplate-heavy corpora
    (the residual hot buckets the 1000x smoke measured).

    Contract: (1) the exact-Jaccard truth count (SQL-pinned);
    (2) >= 50% of >= 0.9-Jaccard truth pairs land in the SAME
    connected component of the collapsed pair graph (dedup's actual
    question — the collapsed output is a spanning subset, so
    membership is judged on closure, not raw pairs); (3) the
    collapsed components EQUAL the exhaustive uncapped form's.
    The equality proof (r9 restructure — the first cut ran the
    iterative connected-components a SECOND time over the exhaustive
    graph) uses the partition-equality decomposition instead: with
    comp_c = components(collapsed), closure(collapsed) ==
    closure(exhaustive) iff (a) every collapsed edge is an
    exhaustive edge (so closure_c <= closure_x) AND (b) every
    exhaustive edge is INTERNAL to one comp_c class — both
    endpoints labeled, labels equal — (so closure_x <= closure_c).
    Both checks are single joins over the exhaustive pair set; a
    cap-bent hot bucket that split a component would surface as an
    exhaustive edge bridging two comp_c labels (check b), and any
    spurious collapsed edge as check-a surplus."""
    docs = _t(spark, sf_dir, "documents")

    # materialize each blocking leg ONCE (r9 opt round, guide §1.2 /
    # §5): sim_c feeds connected_components AND the closure proof's
    # exceptAll; sim_x feeds the proof's surplus AND bridge checks;
    # the exact truth leg feeds both the count and the closure-hit
    # join. Un-materialized, each consumer replays the full
    # explode x20 + self-join + distinct blocking plan (measured: the
    # collapsed leg ran 2x and the exhaustive leg 2x inside one
    # action's plan).
    #
    # r9 opt (guide §2.6): the exact-Jaccard truth leg shares NO
    # lineage with the simhash legs — its materialization (the
    # longest single leg, ~2.5s of the query at sf0.1) runs
    # CONCURRENTLY with the fp + blocking-leg pipeline instead of
    # after it; and sim_c/sim_x, which both hang off the checkpointed
    # fp frame, overlap each other. Same frames, same final action,
    # result unchanged (oracle-pinned).
    def _truth_leg():
        return (X_dedup.ngram_jaccard_pairs(docs, "text", "doc_id",
                                            n=3, threshold=0.9)
                .select("doc_a", "doc_b").localCheckpoint(eager=True))

    def _simhash_legs():
        # the simhash UDF (tokenize + hash + bit-vote every doc) is
        # the dominant linear term of both legs — compute it ONCE and
        # feed both blocking passes (r9; output-identical, the fp
        # frame is exactly what each pass would have computed itself)
        fp = X_dedup.simhash_fingerprints(docs, "text", "doc_id") \
            .localCheckpoint(eager=True)
        return X_run_overlapped(
            lambda: X_dedup.simhash_near_pairs(
                docs, "text", "doc_id", max_hamming=3, max_bucket=1000,
                collapse_identical=True, fingerprints=fp)
            .localCheckpoint(eager=True),
            lambda: X_dedup.simhash_near_pairs(
                docs, "text", "doc_id", max_hamming=3, fingerprints=fp)
            .localCheckpoint(eager=True))

    true, (sim_c, sim_x) = X_run_overlapped(_truth_leg, _simhash_legs)
    comp_c = X_dedup.connected_components(sim_c)
    diff = X_dedup.closure_equality_violations(sim_c, comp_c, sim_x)
    ca = comp_c.select(F.col("doc_id").alias("doc_a"),
                       F.col("component").alias("comp_a"))
    cb = comp_c.select(F.col("doc_id").alias("doc_b"),
                       F.col("component").alias("comp_b"))
    found = (true.join(ca, "doc_a").join(cb, "doc_b")
             .filter(F.col("comp_a") == F.col("comp_b")))
    n_true = true.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    return (n_true
            .crossJoin(found.agg(F.count(F.lit(1)).alias("__found")))
            .crossJoin(diff.agg((F.count(F.lit(1)) == 0).cast("int")
                                .alias("components_match")))
            .select(
                "n_true_pairs",
                (2 * F.col("__found") >= F.col("n_true_pairs"))
                .cast("int").alias("recall_ge_half"),
                "components_match"))


@_op("dedup_simhash_collapsed")
def dedup_simhash_collapsed_op(spark, sf_dir):
    """Operator sub-plan: the collapse pre-pass + Manku blocking +
    stars alone (shipped config) — the contract adds two connected-
    components replays and the exact truth leg."""
    return X_dedup.simhash_near_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        max_hamming=3, max_bucket=1000, collapse_identical=True)


# --- north-star: text analysis ---------------------------------------------------

# Each document's text with its token list t (base); the per-language
# stopword hit counts s_de .. s_fr over t and the language they predict
# (``und`` when no stopword hits); the text's punctuation share and t's
# English-stopword share.
_DOC_WORDS_CTE = """base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
  FROM documents
)"""
_LANG_SCORES = """len(list_filter(['der','die','das','und','ist','nicht','ein','mit','auf','zu'],
             s -> list_contains(list_distinct(t), s))) AS s_de,
         len(list_filter(['the','and','of','to','in','is','that','it','was','for'],
             s -> list_contains(list_distinct(t), s))) AS s_en,
         len(list_filter(['el','la','los','de','que','y','en','un','es','por'],
             s -> list_contains(list_distinct(t), s))) AS s_es,
         len(list_filter(['le','la','les','et','est','dans','pour','que','une','des'],
             s -> list_contains(list_distinct(t), s))) AS s_fr"""
_LANG_PRED = """CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
            WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
            WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
            WHEN s_es >= s_fr THEN 'es'
            ELSE 'fr' END AS lang_pred"""
_PUNCT_RATIO = """CASE WHEN length(text) > 0 THEN
         (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
         / length(text) ELSE 0.0 END"""
_STOPWORD_RATIO = """CASE WHEN len(t) > 0 THEN
         len(list_filter(t, x -> list_contains(
           ['the','and','of','to','in','is','that','it','was','for'], x)))
         / len(t) ELSE 0.0 END"""


@_q("text_features", f"""
WITH {_DOC_WORDS_CTE}, scored AS (
  SELECT doc_id, text, t,
         {_LANG_SCORES}
  FROM base
)
SELECT doc_id,
       len(t) AS n_tokens,
       {_LANG_PRED},
       ROUND({_PUNCT_RATIO}, 6) AS punct_ratio,
       ROUND({_STOPWORD_RATIO}, 6) AS stopword_ratio
FROM scored
""", bench=True)
def text_features_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        X_text.token_count("text").alias("n_tokens"),
        X_text.language_id("text").alias("lang_pred"),
        F.round(X_text.punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(X_text.stopword_ratio("text"), 6).alias("stopword_ratio"),
    )


@_q("doc_fingerprint", r"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x <> ''),
             t -> CAST(length(t) * 7 + ord(t) AS BIGINT))),
         (a, x) -> (a * 31 + x) % 1000000007) AS fingerprint
FROM documents
""")
def doc_fingerprint_q(spark, sf_dir):
    """Rolling-hash fingerprint per doc — engine-portable arithmetic
    (length/char-code only), so the oracle folds the identical
    polynomial in SQL."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", X_text.fingerprint("text").alias("fingerprint"))


# --- north-star: similarity search ------------------------------------------------

@_q("ann_cosine_topk", """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 3
), c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
), s AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv) /
         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos_raw
  FROM q CROSS JOIN c
), ranked AS (
  SELECT query_id, neighbor_id, cos_raw,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, neighbor_id) AS rk
  FROM s
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cos, rk
FROM ranked WHERE rk <= 5
""", bench=True, adjudicated={"cross-nlj": (
    "broadcast side is the bounded query head (vec_id < 3 "
    "filter) — an id filter on a scan has no Catalyst maxRows, "
    "but the brute-force baseline is |Q|x|n| by design")})
def ann_cosine_topk_q(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return X_sim.cosine_topk_bruteforce(emb, queries, k=5,
                                        id_col="vec_id",
                                        vec_col="embedding",
                                        query_id_col="query_id")


def _ann_recall_contract(ann_df, exact_df, n_queries_df, floor: float):
    """Shared ANN contract shape: the approximate top-k must recover
    at least ``floor`` of the exact brute-force top-k slots — the
    flag is engine-computed from both rankings; the oracle pins the
    query count and the flag. The synthetic embeddings are ISOTROPIC
    noise (max pairwise cosine ~0.5), the adversarial case for every
    ANN index, so the floors are set from measured recall with
    headroom, not from clustered-data folklore."""
    hits = (exact_df.join(ann_df, ["query_id", "neighbor_id"],
                          "left_semi")
            .agg(F.count(F.lit(1)).alias("__hits")))
    total = exact_df.agg(F.count(F.lit(1)).alias("__slots"))
    return (n_queries_df.crossJoin(hits).crossJoin(total).select(
        "n_queries",
        (F.col("__hits") >= floor * F.col("__slots")).cast("int")
        .alias("recall_ok")))


@_q("ann_lsh_topk", """
SELECT COUNT(*) AS n_queries, 1 AS recall_ok
FROM embeddings WHERE vec_id < 3
""", bench=True, adjudicated={"cross-nlj": (
    "bounded probe set + per-table hyperplane literals; LSH "
    "candidate join is bucket-keyed — the cross is the bounded "
    "query attach only")})
def ann_lsh_topk_q(spark, sf_dir):
    """Hyperplane-LSH ANN recall contract: 8 tables x 6 planes with
    10 multiprobe flips recover >= 60% of the exact cosine top-5
    (measured 87% at sf0.001 AND sf0.01 on the isotropic-noise
    embeddings; deterministic seeded planes). The exact-ranking
    baseline itself is hash-pinned by ann_cosine_topk."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    dim = len(emb.select("embedding").first()["embedding"])
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    ann = X_sim.lsh_ann_topk(emb, queries, dim=dim, k=5, num_planes=6,
                             probes=10, num_tables=8) \
        .select("query_id", "neighbor_id")
    exact = X_sim.cosine_topk_bruteforce(emb, queries, k=5) \
        .select("query_id", "neighbor_id")
    nq = queries.agg(F.count(F.lit(1)).alias("n_queries"))
    return _ann_recall_contract(ann, exact, nq, floor=0.6)


@_op("ann_lsh_topk")
def ann_lsh_topk_op(spark, sf_dir):
    """Operator sub-plan: the LSH ANN search alone — the contract
    adds an exact brute-force baseline scan for the recall check."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    dim = len(emb.select("embedding").first()["embedding"])
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return X_sim.lsh_ann_topk(emb, queries, dim=dim, k=5, num_planes=6,
                              probes=10, num_tables=8)


@_q("embedding_near_dup", """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 500),
s AS (
  SELECT a.vec_id AS qa, b.vec_id AS qb,
         list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v))
              * sqrt(list_dot_product(b.v, b.v))) AS cos,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
           list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))) DESC, b.vec_id) AS rk
  FROM q a JOIN e b ON a.vec_id != b.vec_id),
wit AS (SELECT qa, qb FROM s
        WHERE rk <= 2 AND cos >= 0.9 + 1e-9 AND qa < qb)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM wit) AS n_witness_pairs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM wit) AS n_witness_found,
       1 AS no_false_positives
""", bench=True)
def embedding_near_dup_q(spark, sf_dir):
    """Embedding near-dup contract. Recall is pinned against a
    WITNESS set the oracle can replay without trusting the blocking:
    pairs where a witness query's exact top-2 neighbor has cosine
    >= 0.9 (a subset of the truth; at this threshold LSH blocking
    collides with prob ~1, so every witness must be found). The
    witness query set is the FIRST 500 vec_ids — a fixed bound, so
    the brute-force witness scan is |Q|·n (linear in the corpus),
    honoring cosine_topk_bruteforce's bounded-query-set design; the
    corpus-as-queries variant was |n|² and took 150 s at sf0.1.
    Precision is pinned as a flag: the finder verifies true cosine on
    candidates, so any pair it reports below threshold is a bug. On
    the isotropic synthetic embeddings the witness set is EMPTY (max
    pairwise cosine ~0.5) — the pinned value is then the absence of
    invented pairs, and the blocking+verify plumbing runs either way."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    dim = len(emb.select("embedding").first()["embedding"])
    # max_bucket=None: this contract pins 100% recall over the witness
    # set, so the finder leg runs UNCAPPED (exactly dedup_minhash_lsh's
    # reasoning) — the shipped capped configuration is what the
    # op leg times and the scale smoke grades
    found = X_sim.embedding_near_dup_pairs(emb, dim=dim, threshold=0.9,
                                           num_planes=8,
                                           max_bucket=None) \
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
                "cos")
    # exclude_self BEFORE ranking + unrounded cos (r3 ADVICE): with
    # self ranked, >= 3 identical vectors tying at cos 1.0 could push
    # a true neighbor out of a k=3 window the oracle's self-excluded
    # rk <= 2 keeps; and the >= 0.9 cut must see the raw cosine the
    # oracle compares, not a 6-dp rounding of it
    qset = (emb.orderBy("vec_id").limit(500)
            .select(F.col("vec_id").alias("query_id"), "embedding"))
    # Arrow kernel, not the Column-expression bruteforce: the witness
    # scan is |Q|x|n| cosines and interpreted higher-order-function
    # lambdas made it 17s at sf0.1 where one numpy matmul per batch is
    # <1s. Both are float64 but SUMMATION ORDER differs (numpy pairwise
    # vs the expression's left fold), so a cosine at the 0.9 boundary
    # could land on different sides in witness vs finder — the witness
    # cut is therefore tightened by 1e-9 (mirrored in the oracle's wit
    # CTE), keeping witness ⊆ found immune to ulp disagreement while
    # only ever shrinking the witness set (r4 ADVICE)
    witness = X_sim.cosine_topk_arrow(emb, qset, k=2,
                                      exclude_self=True,
                                      round_dp=None) \
        .filter(F.col("cos") >= 0.9 + 1e-9) \
        .filter(F.col("query_id") < F.col("neighbor_id")) \
        .select(F.col("query_id").alias("doc_a"),
                F.col("neighbor_id").alias("doc_b"))
    n_wit = witness.agg(F.count(F.lit(1)).alias("n_witness_pairs"))
    n_found = (witness.join(found, ["doc_a", "doc_b"], "left_semi")
               .agg(F.count(F.lit(1)).alias("n_witness_found")))
    fp = found.agg(
        (F.count(F.when(F.col("cos") < 0.9, 1)) == 0).cast("int")
        .alias("no_false_positives"))
    return n_wit.crossJoin(n_found).crossJoin(fp)


@_op("embedding_near_dup")
def embedding_near_dup_op(spark, sf_dir):
    """Operator sub-plan: the LSH-blocked near-dup finder alone —
    the contract adds a |Q|x|n| brute-force witness scan."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    dim = len(emb.select("embedding").first()["embedding"])
    return X_sim.embedding_near_dup_pairs(emb, dim=dim, threshold=0.9,
                                          num_planes=None,
                                          max_bucket=1000)


# --- north-star: multimodal --------------------------------------------------------

@_q("multimodal_metadata", """
SELECT doc_id AS asset_id,
       16 + (('0x' || substr(sha256(text), 1, 2))::INT % 240) AS width,
       16 + (('0x' || substr(sha256(text), 3, 2))::INT % 240) AS height,
       3 AS channels, 'fake/raw' AS format
FROM documents
""")
def multimodal_metadata_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    with_bin = X_mm.attach_binary(d, "text")
    return X_mm.image_metadata(with_bin, id_col="doc_id")


@_q("multimodal_frames", """
WITH d AS (
  SELECT doc_id, octet_length(encode(text)) AS L FROM documents),
f AS (
  SELECT doc_id, L,
         unnest(generate_series(0, least(8, greatest(1, L // 64)) - 1))
           AS frame_idx
  FROM d)
SELECT doc_id AS asset_id, frame_idx,
       CASE WHEN L >= 64 THEN 64 ELSE L END AS frame_len
FROM f
""")
def multimodal_frames_q(spark, sf_dir):
    """Frame-sampling plumbing (1 binary row -> up to 8 frame rows,
    the flat_map shape over payloads): the fake decoder slices the
    byte stream at fixed 64-byte strides, so frame fan-out and frame
    lengths are pure functions of payload length — the oracle replays
    min(8, max(1, L//64)) frames of 64 bytes (or one short frame)
    from the UTF-8 byte length. Frame BYTES stay engine-side; the
    real-codec path is exercised by png_resize_roundtrip."""
    d = _t(spark, sf_dir, "documents")
    with_bin = X_mm.attach_binary(d, "text")
    frames = X_mm.sample_frames(with_bin, id_col="doc_id")
    return frames.select("asset_id", "frame_idx",
                         F.length("frame").alias("frame_len"))


# --- streaming (capability superset: reference has none, SURVEY §2.11) ---------

@_q("streaming_windowed_counts", """
SELECT CAST(EXTRACT(epoch FROM date_trunc('hour', ts)) AS BIGINT) AS win_start_s,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total
FROM events GROUP BY 1, 2
""", bench=True, note=(
    "drain state partitions derive from STAGED ARRIVAL BYTES since "
    "the r9 opt round (drain_shuffle_partitions: one partition per "
    "64 MB, floor 8 — stateful streaming disables AQE and pins the "
    "store count at first batch, so the initial value is the final "
    "parallelism). Floor binds through 300x (2.1-2.3x wall); at "
    "1000x the staging is 1.44 GB, the drain ran with 22 derived "
    "partitions and read 4.7x wall for 1000x data"))
def streaming_windowed_counts_q(spark, sf_dir):
    """End-to-end Structured Streaming: stage events as an arrival
    directory, run a real readStream → 1h tumbling window agg →
    memory sink with Trigger.AvailableNow, and return the drained
    result. Window starts are epoch-aligned, so the BIGINT epoch-second
    output is session-timezone independent on both engines."""
    import tempfile

    from vega_spark.streaming import sources as SS

    ev = _t(spark, sf_dir, "events")  # ts is BIGINT nanoseconds
    stage = tempfile.mkdtemp(prefix="vega_stream_stage_")
    (ev.select("event_id",
               F.timestamp_micros(F.expr("ts div 1000")).alias("ts"),
               "event_type", "value")
       .write.mode("overwrite").parquet(stage))

    def build(s):
        stream = SS.stream_parquet(
            s, stage,
            "event_id long, ts timestamp, event_type string, value double")
        return (stream.withWatermark("ts", "1 hour")
                .groupBy(F.window("ts", "1 hour").alias("win"),
                         "event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.round(F.sum("value"), 2).alias("total")))
    return (SS.drain_to_memory(spark, build, stage, output_mode="complete")
            .select(F.col("win.start").cast("long").alias("win_start_s"),
                    "event_type", "n", "total"))


# Sessionization for the session oracles: o flags each event that
# opens a session (``brk``), s numbers each user's sessions (``sess``,
# the running count of breaks); the default gap is 30 minutes.
_SESSION_NUMBER_CTE = """s AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sess
  FROM o)"""
_SESSIONS_30M_CTE = f"""o AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
  FROM events),
{_SESSION_NUMBER_CTE}"""


@_q("sessionize_gap", f"""
WITH {_SESSIONS_30M_CTE}
SELECT user_id, epoch_us(MIN(ts)) AS session_start_us,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, sess
""", bench=True)
def sessionize_gap_q(spark, sf_dir):
    """Gap-based sessions per user (30 min): ``F.session_window`` —
    the batch twin of the streaming sessionizer (streaming/stateful.py).
    Sessions merge while consecutive events are < gap apart; the
    oracle replays the same rule with LAG + running-sum break ids."""
    ev = _t(spark, sf_dir, "events")
    t = ev.select(
        "user_id",
        F.timestamp_micros(F.expr("ts div 1000")).alias("tsu"))
    return (t.groupBy(F.session_window("tsu", "30 minutes").alias("session"),
                      "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id",
                    F.unix_micros(F.col("session.start")).alias("session_start_us"),
                    "n_events"))


@_q("asof_join", """
SELECT l.event_id, l.user_id, r.value AS last_signup_value
FROM events l
ASOF JOIN (
  SELECT user_id, ts, MAX(value) AS value
  FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
) r ON l.user_id = r.user_id AND l.ts >= r.ts
""", bench=True)
def asof_join_q(spark, sf_dir):
    """Backward as-of join: each event picks the user's most recent
    signup at-or-before it (right side deduped per (user, ts) so the
    pick is well-defined on both engines)."""
    ev = _t(spark, sf_dir, "events")
    right = (ev.filter(F.col("event_type") == "signup")
             .groupBy("user_id", "ts").agg(F.max("value").alias("last_signup_value")))
    left = ev.select("event_id", "user_id", "ts")
    out = J.asof_join(left, right, ["user_id"], "ts",
                      ["last_signup_value"], how="inner")
    return out.select("event_id", "user_id", "last_signup_value")


@_q("range_join", """
SELECT l.event_id AS left_id, r.event_id AS right_id
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 5 MINUTE
""", bench=True)
def range_join_q(spark, sf_dir):
    """Interval self-join: pairs of same-user events where the right
    event lands within 5 minutes after the left. Bucketed equi-join
    plan (see joins.range_join_bucketed) instead of a theta join."""
    ev = _t(spark, sf_dir, "events")
    l = ev.select(F.col("event_id").alias("left_id"),
                  "user_id", F.col("ts").alias("l_ts"))
    r = ev.select(F.col("event_id").alias("right_id"),
                  "user_id", F.col("ts").alias("r_ts"))
    out = J.range_join_bucketed(l, r, ["user_id"], "l_ts", "r_ts",
                                max_diff=300 * 10**9)
    return out.select("left_id", "right_id")


# --- skew mitigation (salting — same results as unsalted, by construction) -----

@_q("skew_salted_join", """
SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_extendedprice), 2) AS total
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderstatus = 'F'
GROUP BY l_returnflag
""", bench=True)
def skew_salted_join_q(spark, sf_dir):
    """Salted equi-join (operators/skew.py): identical results to the
    plain join — salting is physical re-layout only, so the oracle is
    the unsalted SQL."""
    from vega_spark.operators.skew import salted_join
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderstatus")
    j = salted_join(li.withColumnRenamed("l_orderkey", "o_orderkey"), o,
                    ["o_orderkey"], n_salt=8)
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("total"))


@_q("skew_salted_agg", """
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total,
       MIN(value) AS vmin, MAX(value) AS vmax
FROM events GROUP BY event_type
""")
def skew_salted_agg_q(spark, sf_dir):
    """Two-phase salted aggregation — splits a hot grouping key across
    reducers; results equal the direct groupBy."""
    from vega_spark.operators.skew import salted_agg
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    out = salted_agg(ev, ["event_type"],
                     [("value", "count", "n"), ("value", "sum", "total"),
                      ("value", "min", "vmin"), ("value", "max", "vmax")],
                     n_salt=8)
    return out.select("event_type", "n", F.round("total", 2).alias("total"),
                      "vmin", "vmax")


@_q("percentile_exact", """
WITH c AS (SELECT l_returnflag,
                  CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
           FROM lineitem)
SELECT l_returnflag,
       CAST(ROUND(quantile_cont(cents, 0.25) * 4, 0) AS BIGINT) AS p25_qc,
       CAST(ROUND(quantile_cont(cents, 0.50) * 4, 0) AS BIGINT) AS p50_qc,
       CAST(ROUND(quantile_cont(cents, 0.75) * 4, 0) AS BIGINT) AS p75_qc
FROM c GROUP BY l_returnflag
""")
def percentile_exact_q(spark, sf_dir):
    """Exact interpolated percentiles (Spark SQL `percentile`) — the
    exact counterpart of percentile_approx; both engines use the same
    linear interpolation (position q·(n-1)). Computed over INTEGER
    cents and emitted as quarter-cent BIGINTs: the interpolation
    fractions for q ∈ {.25, .5, .75} are {0, .25, .5, .75} — exact
    binary — so cents-quantile × 4 is an exact integer in BOTH
    engines; rounding the raw double to 2 decimals instead lands on
    half-cent boundaries where the engines round apart (observed at
    sf0.001)."""
    li = _t(spark, sf_dir, "lineitem")
    c = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        .alias("cents"))
    return (c.groupBy("l_returnflag")
            .agg(*[F.round(F.percentile("cents", F.lit(q)) * 4, 0)
                   .cast("long").alias(f"p{int(q*100)}_qc")
                   for q in (0.25, 0.50, 0.75)]))


@_q("ann_ivf_topk", """
SELECT COUNT(*) AS n_queries, 1 AS recall_ok
FROM embeddings WHERE vec_id < 5
""", bench=True, adjudicated={"cross-nlj": (
    "bounded query attach + nprobe-selected centroid frame "
    "(k-means centroids, driver-bounded constant)")})
def ann_ivf_topk_q(spark, sf_dir):
    """IVF ANN recall contract (deterministic hashed-init k-means
    cells + probe join + exact rerank): probing 6/16 cells recovers
    >= 60% of the exact cosine top-3 (measured 80-87% on the
    isotropic-noise embeddings at both test SFs; see
    _ann_recall_contract on why the floors are measured, not
    folklore)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    dim = len(emb.select("embedding").first()["embedding"])
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    ann = X_sim.ivf_ann_topk(emb, queries, dim=dim, k=3,
                             n_cells=16, n_probe=6) \
        .select("query_id", "neighbor_id")
    exact = X_sim.cosine_topk_bruteforce(emb, queries, k=3) \
        .select("query_id", "neighbor_id")
    nq = queries.agg(F.count(F.lit(1)).alias("n_queries"))
    return _ann_recall_contract(ann, exact, nq, floor=0.6)


@_op("ann_ivf_topk")
def ann_ivf_topk_op(spark, sf_dir):
    """Operator sub-plan: IVF cell-probe search alone (no exact
    brute-force recall baseline)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    dim = len(emb.select("embedding").first()["embedding"])
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return X_sim.ivf_ann_topk(emb, queries, dim=dim, k=3,
                              n_cells=16, n_probe=6)


@_q("ann_pq_topk", ORACLES["ann_ivf_topk"], bench=True,
    adjudicated={"cross-nlj": (
        "bounded query attach + PQ codebook frame (k_codes x "
        "subspaces, driver-bounded constant)")})
def ann_pq_topk_q(spark, sf_dir):
    """Product-quantization ANN recall contract (codebooks trained on
    a deterministic bounded sample, vectors encoded to 8 code bytes,
    ADC table scan + exact rerank of the top-15): must recover >= 60%
    of the exact cosine top-5 (measured 84-88% at both test SFs).
    The scan reads 8 bytes/vector instead of the 256-byte embedding —
    the compressed-index scale path next to LSH and IVF; exact-rerank
    cosines are additionally pinned by tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    dim = len(emb.select("embedding").first()["embedding"])
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    cbs = X_sim.train_pq_codebooks(emb, dim=dim, m=8, nbits=5, iters=2,
                                   n_train=4000)
    enc = X_sim.pq_encode(emb, cbs)
    ann = X_sim.pq_adc_topk(enc, queries, cbs, k=5, refine=15) \
        .select("query_id", "neighbor_id")
    exact = X_sim.cosine_topk_bruteforce(emb, queries, k=5) \
        .select("query_id", "neighbor_id")
    nq = queries.agg(F.count(F.lit(1)).alias("n_queries"))
    return _ann_recall_contract(ann, exact, nq, floor=0.6)


@_op("ann_pq_topk")
def ann_pq_topk_op(spark, sf_dir):
    """Operator sub-plan: PQ train + encode + ADC scan + rerank (no
    exact brute-force recall baseline)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    dim = len(emb.select("embedding").first()["embedding"])
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    cbs = X_sim.train_pq_codebooks(emb, dim=dim, m=8, nbits=5, iters=2,
                                   n_train=4000)
    enc = X_sim.pq_encode(emb, cbs)
    return X_sim.pq_adc_topk(enc, queries, cbs, k=5, refine=15)


@_q("ann_ivfpq_topk", ORACLES["ann_ivf_topk"], bench=True,
    adjudicated={"cross-nlj": (
        "bounded query attach (recall-contract crossJoins over "
        "1-row aggregates + the probe frame, |Q| x n_probe rows); "
        "candidate generation itself is the cell equi-join")})
def ann_ivfpq_topk_q(spark, sf_dir):
    """IVF-PQ ANN recall contract (r9 — the FAISS IndexIVFPQ
    billion-scale layout): hashed-init coarse cells, PQ codes of the
    RESIDUAL v - centroid, cell-equi-join candidate generation over
    6/16 probed cells, LUT-only ADC scoring, exact rerank. Must
    recover >= 60% of the exact cosine top-5 (measured 92-100% at
    both test SFs — residual quantization error is a fraction of
    flat PQ's on these embeddings)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    dim = len(emb.select("embedding").first()["embedding"])
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    ann = X_sim.ivfpq_ann_topk(emb, queries, dim=dim, k=5,
                               n_cells=16, n_probe=8, m=8, nbits=5,
                               iters_pq=2, n_train=4000, refine=15) \
        .select("query_id", "neighbor_id")
    exact = X_sim.cosine_topk_bruteforce(emb, queries, k=5) \
        .select("query_id", "neighbor_id")
    nq = queries.agg(F.count(F.lit(1)).alias("n_queries"))
    return _ann_recall_contract(ann, exact, nq, floor=0.6)


@_op("ann_ivfpq_topk")
def ann_ivfpq_topk_op(spark, sf_dir):
    """Operator sub-plan: IVF-PQ train + encode + probe-join ADC +
    rerank (no exact brute-force recall baseline)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    dim = len(emb.select("embedding").first()["embedding"])
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return X_sim.ivfpq_ann_topk(emb, queries, dim=dim, k=5,
                                n_cells=16, n_probe=8, m=8, nbits=5,
                                iters_pq=2, n_train=4000, refine=15)


@_q("semantic_dedup_flags", """
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cluster, v AS c FROM emb WHERE vec_id < 8),
d AS (SELECT e.vec_id, c.cluster,
        list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.c)
          + list_dot_product(c.c, c.c) AS d2,
        list_dot_product(e.v, c.c)
          / (sqrt(list_dot_product(e.v, e.v))
             * sqrt(list_dot_product(c.c, c.c))) AS csim
      FROM emb e CROSS JOIN cent c),
a AS (SELECT vec_id, cluster, csim FROM (
        SELECT vec_id, cluster, csim,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cluster) AS pk
        FROM d) WHERE pk = 1),
r AS (SELECT vec_id, cluster, csim,
        ROW_NUMBER() OVER (PARTITION BY cluster
                           ORDER BY csim, vec_id) AS rk
      FROM a),
dup AS (SELECT DISTINCT x.vec_id
        FROM r x JOIN r y ON x.cluster = y.cluster AND y.rk < x.rk
        JOIN emb ex ON ex.vec_id = x.vec_id
        JOIN emb ey ON ey.vec_id = y.vec_id
        WHERE list_dot_product(ex.v, ey.v)
              / (sqrt(list_dot_product(ex.v, ex.v))
                 * sqrt(list_dot_product(ey.v, ey.v))) >= 0.40)
SELECT r.vec_id, r.cluster, ROUND(r.csim, 6) AS centroid_sim,
       (dup.vec_id IS NOT NULL) AS is_dup
FROM r LEFT JOIN dup ON r.vec_id = dup.vec_id
""", bench=True)
def semantic_dedup_flags_q(spark, sf_dir):
    """SemDeDup (arXiv:2303.09540) over the embeddings table:
    iteration-0 centroids (the 8 lowest-id vectors) keep the whole
    run — argmin assignment, centroid-sim ranking, upper-triangular
    eps-duplicate marking — SQL-replayable, so the oracle checks the
    complete dedup semantics end to end. eps=0.40 sits in this
    synthetic corpus's near-dup range (max pair cosine ~0.51; real
    text embeddings use 0.95+). Lloyd-iterated centroids are covered
    by the kmeans tests + semantic_dedup unit test instead."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    cents = [list(r["embedding"])
             for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()]
    return X_dedup.semantic_dedup_flags(emb, cents, eps=0.40)


@_q("web_url_dedup_pipeline", """
WITH d AS (
  SELECT doc_id, n_chars,
    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://' ||
    (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) ||
    source || '.com/p/' || CAST(doc_id % 5 AS VARCHAR) ||
    (CASE WHEN doc_id % 4 = 0 THEN '?ref=' || lang ELSE '' END) AS url
  FROM documents),
p AS (
  SELECT doc_id, n_chars, url,
    lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1))
      AS host,
    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
      AS path
  FROM d),
q AS (
  SELECT doc_id, n_chars, url, host,
    regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain,
    regexp_replace(host, '^www\\.', '')
      || regexp_replace(path, '/+$', '') AS norm_url
  FROM p),
f AS (SELECT * FROM q WHERE domain NOT IN ('src0.com', 'src1.com')),
r AS (SELECT doc_id, url, host, domain, norm_url,
        ROW_NUMBER() OVER (PARTITION BY norm_url
                           ORDER BY n_chars DESC, doc_id) AS rk
      FROM f)
SELECT doc_id, url, host, domain, norm_url FROM r WHERE rk = 1
""", bench=True)
def web_url_dedup_pipeline_q(spark, sf_dir):
    """C4/RefinedWeb URL-stage pipeline: parse host/path, compute the
    registered domain, drop blocklisted domains (broadcast anti-join),
    and keep the best-quality survivor per canonical URL (scheme /
    www. / query variants collapse). URLs are derived
    deterministically from the documents table so the whole stage —
    regex parsing included — replays in SQL. At scale: narrow regex
    pass + broadcast anti-join + one shuffle on the normalized key."""
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"), F.lit(".com/p/"),
        (F.col("doc_id") % 5).cast("string"),
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("?ref="), F.col("lang"))).otherwise(F.lit("")))
    d = docs.select("doc_id", "n_chars", url.alias("url"))
    filtered = X_web.filter_blocked_domains(d, ["src0.com", "src1.com"])
    best = X_web.url_dedup_keep_best(filtered, "url", score_col="n_chars",
                                     id_col="doc_id")
    return best.select(
        "doc_id", "url", X_web.url_host("url").alias("host"),
        X_web.url_registered_domain("url").alias("domain"),
        F.col("__nurl").alias("norm_url"))


@_q("web_line_filter", """
WITH d AS (SELECT doc_id, replace(text, ' the ', chr(10)) AS t
           FROM documents),
f AS (SELECT doc_id, string_split(t, chr(10)) AS lines,
        list_filter(string_split(t, chr(10)),
          x -> len(x) >= 15 AND len(string_split(x, ' ')) >= 3
               AND (len(x) - len(regexp_replace(x, '[0-9]', '', 'g')))
                   <= len(x) * 0.5) AS kept
      FROM d)
SELECT doc_id, len(lines) AS n_lines, len(kept) AS n_kept,
       array_to_string(kept, chr(10)) AS clean_text,
       ROUND(len(kept) * 1.0 / GREATEST(len(lines), 1), 4) AS kept_ratio
FROM f
""", bench=True)
def web_line_filter_q(spark, sf_dir):
    """RefinedWeb/MassiveText line-wise cleaning: drop short /
    few-word / digit-dominated lines, reassemble, report kept ratios.
    Synthetic line structure (every ' the ' becomes a newline — the
    corpus has no newlines) keeps the full rule set SQL-replayable.
    Pure array expressions: a narrow write-through pass at any SF."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace("text", " the ", "\n").alias("text"))
    out = X_web.line_filter(docs, "text", min_chars=15, min_words=3,
                            max_digit_ratio=0.5)
    return out.select("doc_id", "n_lines", "n_kept", "clean_text",
                      "kept_ratio")


@_q("web_line_dedup_corpus", """
WITH d AS (SELECT doc_id,
             string_split(replace(text, ' the ', chr(10)), chr(10))
               AS lines
           FROM documents),
x AS (SELECT doc_id,
        unnest(list_transform(lines,
               (v, i) -> {'pos': i, 'line': v}),
               recursive := true)
      FROM d),
hot AS (SELECT line FROM x GROUP BY line
        HAVING COUNT(DISTINCT doc_id) > 2),
kept AS (SELECT doc_id, pos, line FROM x
         WHERE line NOT IN (SELECT line FROM hot)),
reb AS (SELECT doc_id, COUNT(*) AS n_kept,
          string_agg(line, chr(10) ORDER BY pos) AS clean_text
        FROM kept GROUP BY doc_id),
n AS (SELECT doc_id, COUNT(*) AS n_lines FROM x GROUP BY doc_id)
SELECT n.doc_id, n.n_lines,
       COALESCE(reb.n_kept, 0) AS n_kept,
       COALESCE(reb.clean_text, '') AS clean_text,
       ROUND(COALESCE(reb.n_kept, 0) * 1.0
             / GREATEST(n.n_lines, 1), 4) AS kept_ratio
FROM n LEFT JOIN reb ON n.doc_id = reb.doc_id
""", bench=True)
def web_line_dedup_corpus_q(spark, sf_dir):
    """Corpus-level bulk line dedup (CCNet / RefinedWeb / Dolma):
    any line occurring in > 2 DISTINCT documents is boilerplate and
    is removed from every document; per-doc line order is preserved
    and docs that lose every line survive with empty text. Same
    synthetic line structure as web_line_filter (' the ' ->
    newline — the corpus has no newlines), so near-dup documents
    genuinely share lines and the rule fires. Two keyed shuffles
    (line-count, doc-rebuild); the hot-line set is the heavy-hitter
    tail and broadcasts under AQE — scales to the petabyte corpus
    this pass exists for. Oracle replays split, positional unnest,
    the distinct-doc frequency rule and the ordered reassembly
    exactly."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace("text", " the ", "\n").alias("text"))
    return X_web.line_dedup_corpus(docs, "text", "doc_id",
                                   max_doc_freq=2)


# --- the part co-purchase graph --------------------------------------------
# Parts are nodes; two parts share an edge when >= 2 orders contain
# both. The graph queries below all run on it: the Spark side builds
# it with _part_pairs, the oracles open with _PART_PAIRS_CTE.

_PART_PAIRS_CTE = """baskets AS (
  SELECT l_orderkey AS b, l_partkey AS i FROM lineitem GROUP BY 1, 2),
pairs AS (
  SELECT x.i AS u, y.i AS v, COUNT(*) AS n
  FROM baskets x JOIN baskets y ON x.b = y.b AND x.i < y.i
  GROUP BY x.i, y.i HAVING COUNT(*) >= 2)"""


def _part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges ``(u, v, n)`` of the part co-purchase graph, ``u < v``,
    ``n`` the number of shared orders: a basket self-join (distinct
    (order, part) rows joined on the order)."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.select(F.col("l_orderkey").alias("b"),
                        F.col("l_partkey").alias("i")).distinct()
    x = baskets.select("b", F.col("i").alias("u"))
    y = baskets.select("b", F.col("i").alias("v"))
    return (x.join(y, "b").filter(F.col("u") < F.col("v"))
            .groupBy("u", "v").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= 2))


# Degree-ordered triangle listing over the part graph, after
# _PART_PAIRS_CTE: edges e (a < b), node degrees deg, one tri row
# (u, v1, v2) per triangle, and tri_nodes with each triangle's corners.
_PART_TRIANGLES_CTE = """e AS (SELECT u AS a, v AS b FROM pairs),
deg AS (SELECT n, COUNT(*) AS d
        FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) t
        GROUP BY n),
wd AS (SELECT e.a, e.b, x.d AS da, y.d AS db
       FROM e JOIN deg x ON e.a = x.n JOIN deg y ON e.b = y.n),
o AS (SELECT CASE WHEN da < db OR (da = db AND a < b)
                  THEN a ELSE b END AS u,
             CASE WHEN da < db OR (da = db AND a < b)
                  THEN b ELSE a END AS w
      FROM wd),
tri AS (SELECT w1.u AS u, w1.w AS v1, w2.w AS v2
        FROM o w1 JOIN o w2 ON w1.u = w2.u AND w1.w < w2.w
        JOIN e ON e.a = w1.w AND e.b = w2.w),
tri_nodes AS (SELECT u AS node FROM tri
              UNION ALL SELECT v1 FROM tri
              UNION ALL SELECT v2 FROM tri)"""


# Node cut for broadcasting the part graph's loop state: 50M lineitem
# rows (the r10 cut) at TPC-H's 30:1 lineitem:part ratio.
_PART_GRAPH_BROADCAST_NODES = 50_000_000 // 30


def _part_graph_broadcastable(sf_dir: str) -> bool:
    """Whether the graph loops may broadcast their node-sized state
    (``broadcast_state``): every node is a part key, so the part
    table's footer row count bounds the node count."""
    parts = footer_rows(sf_dir, "part")
    return parts is not None and parts <= _PART_GRAPH_BROADCAST_NODES


@_q("triangle_count_parts", f"""
WITH {_PART_PAIRS_CTE},
{_PART_TRIANGLES_CTE}
SELECT node, COUNT(*) AS triangles FROM tri_nodes GROUP BY node
""", bench=True)
def triangle_count_parts_q(spark, sf_dir):
    """Triangle counting on the part co-purchase graph (same edge
    derivation as pagerank_part_affinity), degree-oriented so wedge
    generation is skew-immune (Suri-Vassilvitskii). The oracle
    replays orientation, wedge join and closure exactly."""
    from vega_spark.functions.graph import triangle_count
    pairs = _part_pairs(spark, sf_dir)
    return triangle_count(pairs, "u", "v")


@_q("bpe_encode_docs", """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents)
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
       1 AS tokens_ge_words, 1 AS tokens_le_chars
FROM t
""", bench=True)
def bpe_encode_docs_q(spark, sf_dir):
    """BPE tokenizer contract: train 200 merges from the corpus
    word-count table (one keyed shuffle + bounded TakeOrdered head —
    the merge loop never sees the corpus), then subword-encode every
    document in a narrow memoized Arrow pass. The merge loop is not
    SQL-expressible, but the encoding obeys hard per-doc bounds the
    oracle pins: every word is >= 1 subword (token count >= word
    count) and merging never splits below characters (token count <=
    non-space character count). Merge order, encode roundtrip and id
    mapping stay pinned by tests/test_bpe.py."""
    from vega_spark.functions import bpe as B
    docs = _t(spark, sf_dir, "documents")
    merges = B.bpe_train(docs, num_merges=200, max_words=20_000)
    enc = B.bpe_encode_ids(docs, merges)
    n_words = X_text.token_count(F.col("text"))
    n_chars = F.length(F.regexp_replace(F.lower(F.col("text")),
                                        r"\s+", ""))
    return enc.select(
        "doc_id", n_words.cast("long").alias("n_words"),
        (F.size("token_ids") >= n_words).cast("int")
        .alias("tokens_ge_words"),
        (F.size("token_ids") <= n_chars).cast("int")
        .alias("tokens_le_chars"))


@_q("ewma_user_values", """
WITH h AS (
  SELECT user_id, event_id, value,
         list(CAST(value AS DOUBLE))
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS l
  FROM events)
SELECT user_id, event_id, value,
       list_reduce(l, (a, b) -> a * 0.7::DOUBLE + b * 0.3::DOUBLE)
         AS ewma
FROM h
""", bench=True)
def ewma_user_values_q(spark, sf_dir):
    """Per-user EWMA over the trailing 8 events (alpha=0.3): single
    hash exchange + per-key sorted window; deterministic fold order,
    replayed term-for-term by DuckDB's ordered window list +
    list_reduce. Ordering is µs-truncated (ts div 1000) to match the
    oracle's µs timestamps, event_id tie-break."""
    from vega_spark.functions.analytics import ewma_by_key
    ev = _t(spark, sf_dir, "events")
    out = ewma_by_key(ev, "user_id",
                      [F.expr("ts div 1000"), F.col("event_id")],
                      "value", alpha=0.3, window_rows=8)
    return out.select("user_id", "event_id", "value", "ewma")


@_q("key_skew_report_parts", """
WITH c AS (SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
t AS (SELECT SUM(cnt) AS total, COUNT(*) AS groups FROM c)
SELECT l_partkey, cnt, ROUND(cnt * 1.0 / total, 6) AS share,
       ROUND(cnt * groups * 1.0 / total, 4) AS x_mean
FROM c, t ORDER BY cnt DESC, l_partkey LIMIT 20
""", bench=True)
def key_skew_report_parts_q(spark, sf_dir):
    """Shuffle-skew diagnostic for a join/agg key: the 20 heaviest
    l_partkey groups with row share and ratio to the mean group size
    (the straggler predictor that decides salting / AQE skew-join).
    One keyed aggregate + broadcast 1-row summary + TakeOrdered."""
    from vega_spark.operators.stats import key_skew_report
    return key_skew_report(_t(spark, sf_dir, "lineitem"),
                           ["l_partkey"], top_n=20)


# Supplier-name trigram blocking for the fuzzy-match oracles: n (id,
# lowercased name), g (one row per distinct 3-gram of a name), the
# candidate pairs cand that share a gram held by <= 50 names, and the
# tail that keeps pairs at edit distance 1-2 and counts them per id.
_SUPPLIER_GRAMS_CTE = """n AS (
  SELECT s_suppkey AS id, lower(s_name) AS s FROM supplier),
g0 AS (SELECT id, s,
        list_distinct(list_transform(
          generate_series(1, greatest(len(s) - 2, 1)),
          i -> substr(s, i, 3))) AS grams FROM n),
g AS (SELECT id, s, unnest(grams) AS gram FROM g0)"""
_SUPPLIER_RARE_CANDS_CTE = """rare AS (
  SELECT gram FROM (SELECT gram, COUNT(*) AS c FROM g GROUP BY 1)
  WHERE c <= 50),
gg AS (SELECT g.id, g.s, g.gram FROM g JOIN rare USING (gram)),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                a.s AS s_a, b.s AS s_b
         FROM gg a JOIN gg b ON a.gram = b.gram AND a.id < b.id)"""
_SUPPLIER_FUZZY_TAIL = """v AS (
  SELECT id_a, id_b, levenshtein(s_a, s_b) AS dist
  FROM cand WHERE abs(len(s_a) - len(s_b)) <= 2),
p AS (SELECT id_a, id_b, dist FROM v WHERE dist BETWEEN 1 AND 2),
sym AS (SELECT id_a AS id, dist FROM p
        UNION ALL SELECT id_b AS id, dist FROM p)
SELECT id AS s_suppkey, COUNT(*) AS n_fuzzy, MIN(dist) AS min_dist
FROM sym GROUP BY id"""


def _fuzzy_gram_guard_diag(spark, sf_dir):
    """Gram-cap visibility for the smoke: the 10x replica corpus
    clones supplier names, pushing every q-gram over the cap — the
    operator is then bounded but EMPTY, and this row says why."""
    from vega_spark.operators.fuzzy import gram_guard_report
    return gram_guard_report(_t(spark, sf_dir, "supplier"), "s_name",
                             q=3, max_gram_freq=50)


@_q("fuzzy_match_suppliers", f"""
WITH {_SUPPLIER_GRAMS_CTE},
{_SUPPLIER_RARE_CANDS_CTE},
{_SUPPLIER_FUZZY_TAIL}
""", bench=True, diag=_fuzzy_gram_guard_diag, note=(
    "ADJUDICATED quadratic band (r8): per-gram candidates grow as "
    "sum C(df,2) and gram df grows ~linearly with rows on a short "
    "fixed-alphabet key population (36^3 gram space saturates — v4 "
    "diagnostic: avg df ~34 at 300x, 40.3x wall). The EXACT mode "
    "keeps the q-gram lemma's recall guarantee, and both classical "
    "tighteners degenerate here — length filtering (all keys same "
    "length) and Ed-Join prefix filtering (7-char strings have ~5 "
    "grams < the kq+1=7 prefix); raising q to 4 breaks the lemma "
    "for len-7/dist-2 pairs. The max_gram_freq=1000 cap is the "
    "asymptotic bound and exact-dedup of identical keys upstream is "
    "one production answer; the OTHER, in code since r9, is "
    "fuzzy_match_suppliers_banded (band_gram_df sub-bucket budget, "
    "pair work ∝ postings) for pipelines that accept measured "
    "recall in exchange for linear scaling"))
def fuzzy_match_suppliers_q(spark, sf_dir):
    """Record linkage: q-gram blocked fuzzy self-match of supplier
    names (edit distance 1-2), rolled up per supplier. The oracle
    replays blocking, the gram-frequency stop cap, the length
    prefilter and the levenshtein verify exactly. The fixed-prefix
    pathology of these names is the cap's showcase: at real scale
    'sup'/'ppl' grams exceed the frequency cap (50) and drop,
    leaving the discriminative digit tails to generate candidates —
    without the cap the shared 9-char prefix regenerates all-pairs
    (measured 57 s vs ~2 s at sf0.1)."""
    from vega_spark.operators.fuzzy import fuzzy_self_pairs
    sup = _t(spark, sf_dir, "supplier")
    pairs = fuzzy_self_pairs(sup, "s_name", "s_suppkey",
                             max_dist=2, min_dist=1, q=3,
                             max_gram_freq=50)
    sym = (pairs.select(F.col("id_a").alias("id"), "dist")
           .unionAll(pairs.select(F.col("id_b").alias("id"), "dist")))
    return (sym.groupBy(F.col("id").alias("s_suppkey"))
            .agg(F.count(F.lit(1)).alias("n_fuzzy"),
                 F.min("dist").alias("min_dist")))


def _fuzzy_banded_recall_diag(spark, sf_dir):
    """Measured recall of the banded escape hatch against the exact
    mode on the SAME corpus (r9, VERDICT r8 #4) — the number the
    banded trade is priced in. banded ⊆ exact structurally (the
    sub-bucket join only removes candidates; the verify is
    identical), so banded_hits == banded_pairs doubles as an
    invariant check."""
    from vega_spark.operators.fuzzy import fuzzy_self_pairs
    sup = _t(spark, sf_dir, "supplier")
    kw = dict(max_dist=2, min_dist=1, q=3, max_gram_freq=50)
    exact = fuzzy_self_pairs(sup, "s_name", "s_suppkey",
                             **kw).select("id_a", "id_b")
    banded = fuzzy_self_pairs(sup, "s_name", "s_suppkey",
                              band_gram_df=16,
                              **kw).select("id_a", "id_b")
    hits = banded.join(exact, ["id_a", "id_b"], "semi")
    return (exact.agg(F.count(F.lit(1)).alias("exact_pairs"))
            .crossJoin(banded.agg(F.count(F.lit(1))
                                  .alias("banded_pairs")))
            .crossJoin(hits.agg(F.count(F.lit(1)).alias("banded_hits")))
            .select("exact_pairs", "banded_pairs", "banded_hits",
                    F.round(F.col("banded_hits")
                            / F.greatest(F.col("exact_pairs"),
                                         F.lit(1)), 4).alias("recall")))


@_q("fuzzy_match_suppliers_banded", f"""
WITH {_SUPPLIER_GRAMS_CTE},
freq AS (SELECT gram, COUNT(*) AS df_ FROM g GROUP BY 1),
gg AS (SELECT g.id, g.s, g.gram, freq.df_
       FROM g JOIN freq USING (gram) WHERE df_ <= 50),
gs AS (SELECT id, s, gram,
        CASE WHEN df_ <= 16 THEN 0
             ELSE ('0x' || substr(md5(gram || ':'
                                      || CAST(id AS VARCHAR)), 1, 8))
                  ::BIGINT
                  % CAST(CEIL(CAST(df_ AS DOUBLE) / 16) AS BIGINT)
        END AS sub
       FROM gg),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                a.s AS s_a, b.s AS s_b
         FROM gs a JOIN gs b
           ON a.gram = b.gram AND a.sub = b.sub AND a.id < b.id),
{_SUPPLIER_FUZZY_TAIL}
""", bench=True, diag=_fuzzy_banded_recall_diag, note=(
    "the scale path for the fuzzy-match quadratic band: per-gram "
    "pair work budgeted at df*band/2 via md5 sub-buckets (mirrors "
    "sparse_cosine band_df), so candidates are linear in postings "
    "at ANY factor. Recall vs exact mode is measured, not assumed — "
    "the smoke prints matched-pair recall alongside wall ratio"))
def fuzzy_match_suppliers_banded_q(spark, sf_dir):
    """The scale-safe fuzzy-match escape hatch (r9, VERDICT r8 #4):
    same blocked fuzzy self-match as ``fuzzy_match_suppliers`` but
    with ``band_gram_df=16`` — every gram's candidate fan-out is
    budgeted to ~df·8 pairs via md5 sub-buckets (see
    fuzzy_self_pairs), making total candidate work linear in
    postings where the exact mode's Σ C(df, 2) band runs quadratic
    on saturated gram alphabets (the adjudicated 40.3x at the 300x
    smoke). Trades the q-gram lemma's exact recall for the budget;
    recall vs the exact mode is measured in
    tests/test_fuzzy.py::test_banded_recall and the scale smoke.
    The oracle replays the gram cap AND the 32-bit-md5 sub-bucket
    assignment bit for bit. At the driver compare SFs the rule is
    INACTIVE (sf0.1 surviving gram dfs are all <= 16 — measured r9 —
    so sub = 0 everywhere and the output is bit-identical to the
    exact mode); it fires on the 300x smoke corpus (avg gram df ~34),
    where wall ratio and recall vs the exact mode are measured —
    the same two-regime verification sparse_cosine's band_df uses."""
    from vega_spark.operators.fuzzy import fuzzy_self_pairs
    sup = _t(spark, sf_dir, "supplier")
    pairs = fuzzy_self_pairs(sup, "s_name", "s_suppkey",
                             max_dist=2, min_dist=1, q=3,
                             max_gram_freq=50, band_gram_df=16)
    sym = (pairs.select(F.col("id_a").alias("id"), "dist")
           .unionAll(pairs.select(F.col("id_b").alias("id"), "dist")))
    return (sym.groupBy(F.col("id").alias("s_suppkey"))
            .agg(F.count(F.lit(1)).alias("n_fuzzy"),
                 F.min("dist").alias("min_dist")))


@_q("pivot_unpivot_roundtrip", """
WITH agg AS (
  SELECT l_returnflag,
         ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 1)
           AS qty_O,
         ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 1)
           AS qty_F
  FROM lineitem GROUP BY 1)
SELECT l_returnflag, 'O' AS status, qty_O AS qty FROM agg
  WHERE qty_O IS NOT NULL
UNION ALL
SELECT l_returnflag, 'F' AS status, qty_F AS qty FROM agg
  WHERE qty_F IS NOT NULL
""", bench=True)
def pivot_unpivot_roundtrip_q(spark, sf_dir):
    """Pivot (long->wide conditional aggregation with a FIXED value
    list — never the two-pass value discovery) then unpivot back to
    long: the reshaping surface the reference lacks. Fixed pivot
    values keep the plan a single partial+final aggregate; unpivot is
    a narrow expression (Spark melt)."""
    li = _t(spark, sf_dir, "lineitem")
    wide = (li.groupBy("l_returnflag")
            .pivot("l_linestatus", ["O", "F"])
            .agg(F.round(F.sum("l_quantity"), 1))
            .withColumnRenamed("O", "qty_O")
            .withColumnRenamed("F", "qty_F"))
    long = wide.unpivot("l_returnflag", ["qty_O", "qty_F"],
                        "status", "qty")
    return (long.filter(F.col("qty").isNotNull())
            .select("l_returnflag",
                    F.replace(F.col("status"), F.lit("qty_"), F.lit(""))
                    .alias("status"), "qty"))


@_q("array_hof_sweep", """
WITH a AS (
  SELECT l_orderkey,
         list(l_quantity ORDER BY l_quantity, l_linenumber) AS qs
  FROM lineitem GROUP BY 1)
SELECT l_orderkey,
       len(qs) AS n_items,
       list_reduce(qs, (x, y) -> x + y) AS total_qty,
       len(list_filter(qs, x -> x > 25)) AS n_big,
       list_max(list_transform(generate_series(1, len(qs)),
                               i -> qs[i] + qs[len(qs) + 1 - i]))
         AS max_pal_sum,
       len(list_filter(qs, x -> x = 40)) > 0 AS has_forty
FROM a
""", bench=True)
def array_hof_sweep_q(spark, sf_dir):
    """Higher-order array-function sweep (transform / filter /
    aggregate / zip_with / exists) over per-order quantity arrays —
    the scalar-fn surface (§2.10) stress test, all JVM-side lambda
    expressions inside one keyed aggregate. Sums are deliberately
    unrounded: both engines fold the SORTED array left-to-right, so
    the doubles match bit-for-bit (rounding is where engines
    diverge, not arithmetic)."""
    li = _t(spark, sf_dir, "lineitem")
    a = (li.groupBy("l_orderkey")
         .agg(F.transform(
             F.array_sort(F.collect_list(
                 F.struct("l_quantity", "l_linenumber"))),
             lambda s: s["l_quantity"]).alias("qs")))
    qs = F.col("qs")
    return a.select(
        "l_orderkey",
        F.size(qs).alias("n_items"),
        F.aggregate(F.slice(qs, 2, F.greatest(F.size(qs) - 1, F.lit(0))),
                    F.element_at(qs, 1),
                    lambda acc, x: acc + x).alias("total_qty"),
        F.size(F.filter(qs, lambda x: x > 25)).alias("n_big"),
        F.array_max(F.zip_with(qs, F.reverse(qs),
                               lambda x, y: x + y)).alias("max_pal_sum"),
        F.exists(qs, lambda x: x == 40).alias("has_forty"))


@_q("attribution_first_last_touch", """
WITH e AS (SELECT user_id AS u, event_type AS t, epoch_us(ts) AS ts,
                  event_id AS id FROM events),
tagged AS (
  SELECT u, t, ts, id,
    MIN(CASE WHEN t IN ('view','click')
             THEN {'ts': ts, 'id': id, 't': t} END)
      OVER (PARTITION BY u ORDER BY ts, id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS f,
    LAST_VALUE(CASE WHEN t IN ('view','click')
                    THEN {'ts': ts, 'id': id, 't': t} END IGNORE NULLS)
      OVER (PARTITION BY u ORDER BY ts, id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS l
  FROM e)
SELECT u AS user_id, id AS conversion_id, ts AS conversion_ts,
       f.t AS first_touch_type, f.ts AS first_touch_ts,
       l.t AS last_touch_type, l.ts AS last_touch_ts
FROM tagged WHERE t = 'purchase'
""", bench=True)
def attribution_first_last_touch_q(spark, sf_dir):
    """Marketing attribution: first- and last-touch view/click before
    each purchase, one hash exchange (both touches are windows over
    the same user partitioning; the chosen touch rides a struct so
    its fields stay atomic). Timestamps are pre-truncated to µs so
    ordering and output match the oracle's µs timestamps exactly."""
    from vega_spark.functions.analytics import attribution_touch
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts div 1000").alias("ts"),
        "event_id")
    return attribution_touch(ev)


@_q("label_propagation_parts", f"""
WITH {_PART_PAIRS_CTE},
sym AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
n1 AS (SELECT s.v AS node, l.label, COUNT(*) AS c
       FROM sym s JOIN l0 l ON s.u = l.node GROUP BY 1, 2),
l1 AS (SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, label) AS rk
        FROM n1) WHERE rk = 1),
n2 AS (SELECT s.v AS node, l.label, COUNT(*) AS c
       FROM sym s JOIN l1 l ON s.u = l.node GROUP BY 1, 2),
l2 AS (SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, label) AS rk
        FROM n2) WHERE rk = 1)
SELECT node, label AS community FROM l2
""", bench=True)
def label_propagation_parts_q(spark, sf_dir):
    """Label-propagation communities on the part co-purchase graph
    (same edges as pagerank/triangles), 2 deterministic supersteps —
    the oracle unrolls them as CTEs. Each superstep: one keyed join
    + one (node,label) count + one per-node rank window."""
    from vega_spark.functions.graph import label_propagation
    pairs = _part_pairs(spark, sf_dir)
    return label_propagation(pairs, "u", "v", iters=2)


@_q("compact_small_files", """
SELECT 32 AS files_before, 1 AS files_reduced,
       COUNT(*) AS n_rows, ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
""", bench=True)
def compact_small_files_q(spark, sf_dir):
    """Small-file compaction contract (lakehouse OPTIMIZE primitive):
    a deliberately fragmented copy of orders (exactly 32 tiny files —
    pinned) must compact to FEWER files with rows and revenue
    bit-preserved; the content columns are SQL-pinned against the
    source table, the layout flag is engine-computed."""
    import hashlib
    import os
    import shutil
    import tempfile

    from vega_spark.operators.layout import compact_parquet
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    p = os.path.join(tempfile.gettempdir(), f"vega_compact_{tag}")
    shutil.rmtree(p, ignore_errors=True)
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    o.repartition(32).write.mode("overwrite").parquet(p)
    stats = compact_parquet(spark, p, target_file_mb=128)
    back = spark.read.parquet(p)
    return (back.agg(F.count(F.lit(1)).alias("n_rows"),
                     F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
            .select(F.lit(stats["files_before"]).alias("files_before"),
                    F.lit(int(stats["files_after"]
                              < stats["files_before"])).cast("int")
                    .alias("files_reduced"),
                    "n_rows", "sum_price"))


@_q("stratified_sample_langs", """
SELECT lang, COUNT(*) AS n_kept, MIN(doc_id) AS min_id,
       MAX(doc_id) AS max_id
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
      / 281474976710656.0
      < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.1 END
GROUP BY lang
""", bench=True)
def stratified_sample_langs_q(spark, sf_dir):
    """Deterministic stratified sampling (hash-fraction Bernoulli per
    language): rerun- and engine-stable row selection, the property a
    seeded sampleBy cannot give. The oracle replays the exact hash
    threshold per stratum."""
    from vega_spark.operators.sampling import stratified_sample_deterministic
    docs = _t(spark, sf_dir, "documents")
    kept = stratified_sample_deterministic(
        docs, "lang", {"en": 0.5, "de": 0.25}, "doc_id",
        default_fraction=0.1)
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.min("doc_id").alias("min_id"),
                 F.max("doc_id").alias("max_id")))


@_q("streaming_kmv_rollup", """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS ndv_est
FROM events GROUP BY 1
""", bench=True)
def streaming_kmv_rollup_q(spark, sf_dir):
    """Incremental sketch maintenance on a stream: each micro-batch
    writes its per-group KMV partial (≤ k rows per group) to a
    rollup table via foreachBatch; the final distinct-user estimate
    per event type is a MERGE of those partials — the base events
    are never rescanned. k=2048 > the corpus cardinality, so the
    bottom-k sketch IS the exact hash set and the estimate equals
    COUNT(DISTINCT): the oracle checks the whole incremental path
    end-to-end with no approximation slack. At real scale the same
    rollup answers with (k-1)/h_k error ~1/sqrt(k)."""
    import os
    import shutil
    import tempfile
    import uuid

    from vega_spark.operators.sketches import (kmv_estimate_by,
                                               kmv_merge_by,
                                               kmv_sketch_by)
    from vega_spark.streaming import sources as SS

    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    stage = tempfile.mkdtemp(prefix="vega_stream_kmv_")
    rollup = os.path.join(stage, "rollup")
    ev.coalesce(4).write.mode("overwrite") \
        .parquet(os.path.join(stage, "arrivals"))

    stream = SS.stream_parquet(
        spark, os.path.join(stage, "arrivals"),
        "event_type string, user_id long", max_files_per_trigger=1)

    def write_partial(batch_df, batch_id):
        (kmv_sketch_by(batch_df, ["event_type"], "user_id", k=2048)
         .write.mode("append").parquet(rollup))

    SS.to_foreach_batch(
        stream, write_partial,
        os.path.join(stage, "ckpt_" + uuid.uuid4().hex[:8]),
        output_mode="append").awaitTermination()
    partials = spark.read.parquet(rollup)
    merged = kmv_merge_by(partials, ["event_type"], k=2048)
    out = kmv_estimate_by(merged, ["event_type"], k=2048)
    shutil.rmtree(os.path.join(stage, "arrivals"), ignore_errors=True)
    return out


@_q("window_function_sweep", """
WITH e AS (SELECT user_id AS u, event_id AS id, epoch_us(ts) AS ts,
                  value FROM events)
SELECT u, id,
       LAG(value) OVER w AS prev_value,
       LEAD(value) OVER w AS next_value,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       NTILE(4) OVER w AS quartile,
       CUME_DIST() OVER w AS cdist,
       PERCENT_RANK() OVER w AS prank
FROM e
WINDOW w AS (PARTITION BY u ORDER BY ts, id)
""", bench=True)
def window_function_sweep_q(spark, sf_dir):
    """Full ranking/navigation window surface (lag, lead, rank,
    dense_rank, ntile, cume_dist, percent_rank) over ONE per-user
    ordered partitioning — a single hash exchange serves all seven
    (no reference equivalent: the RDD algebra has no windows at all).
    cume_dist/percent_rank are exact integer ratios, so doubles match
    the oracle bit-for-bit."""
    from pyspark.sql.window import Window
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("id"),
        F.expr("ts div 1000").alias("ts"), "value")
    w = Window.partitionBy("u").orderBy("ts", "id")
    return ev.select(
        "u", "id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.cume_dist().over(w).alias("cdist"),
        F.percent_rank().over(w).alias("prank"))


@_q("null_safe_join_custkeys", """
WITH o AS (SELECT o_orderkey, NULLIF(o_custkey % 7, 0) AS k FROM orders),
c AS (SELECT NULLIF(c_custkey % 7, 0) AS k, COUNT(*) AS n_cust
      FROM customer GROUP BY 1)
SELECT o.k AS join_key, COUNT(*) AS n_orders, MAX(c.n_cust) AS n_cust
FROM o JOIN c ON o.k IS NOT DISTINCT FROM c.k
GROUP BY o.k
""", bench=True)
def null_safe_join_custkeys_q(spark, sf_dir):
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of dropping — the semantic fork every
    SQL engine must pick on nullable keys. Still a hash-partitionable
    equi-join (null-safe equality is a valid shuffle key), not a
    theta join."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.nullif(F.col("o_custkey") % 7, F.lit(0)).alias("k"))
    c = (_t(spark, sf_dir, "customer")
         .select(F.nullif(F.col("c_custkey") % 7, F.lit(0)).alias("k"))
         .groupBy("k").agg(F.count(F.lit(1)).alias("n_cust")))
    j = o.join(c, o["k"].eqNullSafe(c["k"]), "inner")
    return (j.groupBy(o["k"].alias("join_key"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.max("n_cust").alias("n_cust")))


@_q("audio_frame_energy_vad", """
WITH f AS (
  SELECT doc_id, g.i AS frame_idx, g.i * 64 AS start,
         list_reduce(list_transform(generate_series(1, 32),
             j -> CAST(ascii(substr(text, g.i * 64 + j, 1)) AS DOUBLE)),
             (a, b) -> a + b) / 32.0 AS energy
  FROM documents CROSS JOIN
       (SELECT unnest(generate_series(0, 7)) AS i) g
  WHERE g.i * 64 + 32 <= len(text)
)
SELECT doc_id AS asset_id, COUNT(*) AS n_frames,
       CAST(SUM(CASE WHEN energy > 100.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_active,
       ROUND(SUM(CASE WHEN energy > 100.0 THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*), 4) AS active_ratio
FROM f GROUP BY doc_id
""", bench=True)
def audio_frame_energy_vad_q(spark, sf_dir):
    """Audio curation plumbing end-to-end: binary payloads → framed
    energy features (1 asset → ≤8 frame rows, the flat_map shape) →
    energy-gate VAD ratio per asset. The fake decode's energy is the
    mean byte value of each frame window BY DESIGN, so the oracle
    recomputes the entire path from raw ASCII codes in SQL. The
    decode='real' WAV path (stdlib wave + numpy RMS — no external
    codec) is pinned by tests with synthesized PCM."""
    from vega_spark.functions.multimodal import (attach_binary,
                                                 audio_frame_energy,
                                                 speech_activity_ratio)
    docs = _t(spark, sf_dir, "documents")
    assets = attach_binary(docs, "text")
    frames = audio_frame_energy(assets, window=32, stride=64,
                                max_frames=8)
    return speech_activity_ratio(frames, threshold=100.0)


@_q("cdc_apply_changes_orders", """
WITH ch AS (
  SELECT o_orderkey AS k, 'upsert' AS op, 1 AS seq,
         o_totalprice + 10.0 AS price
  FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, 'delete', 2, NULL FROM orders
  WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, 'upsert', 1, 500.0 FROM orders
  WHERE o_orderkey % 1000 = 0),
latest AS (
  SELECT k, op, price FROM (
    SELECT k, op, price,
           ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
    FROM ch) WHERE rn = 1),
applied AS (
  SELECT o.o_orderkey,
         CASE WHEN l.op = 'upsert' THEN l.price
              ELSE o.o_totalprice END AS price
  FROM orders o LEFT JOIN latest l ON o.o_orderkey = l.k
  WHERE l.op IS DISTINCT FROM 'delete'),
ins AS (
  SELECT k AS o_orderkey, price FROM latest
  WHERE op = 'upsert'
    AND k NOT IN (SELECT o_orderkey FROM orders)),
allr AS (SELECT * FROM applied UNION ALL SELECT * FROM ins)
SELECT COUNT(*) AS n_rows, ROUND(SUM(price), 2) AS total,
       CAST(SUM(CASE WHEN o_orderkey >= 10000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_inserted
FROM allr
""", bench=True)
def cdc_apply_changes_orders_q(spark, sf_dir):
    """CDC APPLY CHANGES: a synthetic ordered changefeed (price
    upserts, later deletes that supersede them, inserts of new keys)
    collapses to the latest change per key and folds into the orders
    snapshot — deletes anti-join, upserts/inserts via the broadcast
    merge path (the snapshot never shuffles). Price deltas stay on
    the 2-decimal grid so the rounded sum is boundary-free."""
    from vega_spark.operators.merge import apply_changes
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    up = o.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey", F.lit("upsert").alias("op"), F.lit(1).alias("seq"),
        (F.col("o_totalprice") + 10.0).alias("o_totalprice"))
    de = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", F.lit("delete").alias("op"), F.lit(2).alias("seq"),
        F.lit(None).cast("double").alias("o_totalprice"))
    ins = o.filter(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        F.lit("upsert").alias("op"), F.lit(1).alias("seq"),
        F.lit(500.0).alias("o_totalprice"))
    changes = up.unionByName(de).unionByName(ins)
    merged = apply_changes(o, changes, ["o_orderkey"], ["seq"])
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.sum(F.when(F.col("o_orderkey") >= 10000000, 1).otherwise(0))
        .alias("n_inserted"))


@_q("mv_incremental_refresh", """
WITH eff AS (
  SELECT o_orderpriority, o_totalprice FROM orders
  WHERE (o_orderkey % 4 != 0 AND o_orderkey % 6 != 0)
     OR o_orderkey % 4 = 0)
SELECT o_orderpriority, ROUND(SUM(o_totalprice), 2) AS total, COUNT(*) AS n
FROM eff GROUP BY 1
""", bench=True)
def mv_incremental_refresh_q(spark, sf_dir):
    """Incremental materialized-view maintenance: a per-priority
    revenue view built from the base snapshot is refreshed with a
    changelog delta (inserts of the %4 keys, retractions of the %6
    keys as sign=-1 rows) by combining partial aggregates — the base
    is never re-scanned. The oracle recomputes the post-refresh
    state directly from the effective row set; the incremental
    result must match it exactly. Sums stay on the 2-decimal grid so
    the round is boundary-free."""
    from vega_spark.operators.incremental import (aggregate_view,
                                                  refresh_aggregate_view)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    base = o.filter(F.col("o_orderkey") % 4 != 0)
    view = aggregate_view(base, ["o_orderpriority"], ["o_totalprice"])
    inserts = (o.filter(F.col("o_orderkey") % 4 == 0)
               .select("o_orderpriority", "o_totalprice",
                       F.lit(1).alias("sign")))
    retract = (base.filter(F.col("o_orderkey") % 6 == 0)
               .select("o_orderpriority", "o_totalprice",
                       F.lit(-1).alias("sign")))
    refreshed = refresh_aggregate_view(
        view, inserts.unionByName(retract), ["o_orderpriority"],
        ["o_totalprice"], sign_col="sign")
    return refreshed.select(
        "o_orderpriority",
        F.round("o_totalprice", 2).alias("total"), "n")


@_q("inverted_index_search", """
WITH post AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x != '')) AS term
    FROM documents) GROUP BY term, doc_id),
hits AS (SELECT * FROM post WHERE term IN ('agg', 'scan')),
m AS (SELECT doc_id, COUNT(DISTINCT term) AS n_matched,
             SUM(tf) AS total_tf
      FROM hits GROUP BY doc_id)
SELECT doc_id, n_matched, CAST(total_tf AS BIGINT) AS total_tf
FROM m WHERE n_matched = 2
""", bench=True)
def inverted_index_search_q(spark, sf_dir):
    """Inverted-index AND-search: build the (term, doc, tf) posting
    table once, answer 'docs containing ALL of {agg, scan}' with
    a pruned-postings aggregate. The corpus is only touched at index
    build; the oracle replays tokenize/postings/match."""
    from vega_spark.functions.search import (build_inverted_index,
                                             search_terms)
    docs = _t(spark, sf_dir, "documents")
    idx = build_inverted_index(docs)
    return search_terms(idx, ["agg", "scan"], mode="and")


@_q("bitmap_distinct_rollup", """
WITH d AS (SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INTEGER) % 4
                    AS hour_bucket, user_id FROM events)
SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
FROM d GROUP BY 1
""", bench=True)
def bitmap_distinct_rollup_q(spark, sf_dir):
    """Exact mergeable distinct via integer bitmaps: per
    (event_type, hour-bucket) bitmap partials roll up to per-type
    distinct users by OR + popcount — the zero-error sibling of the
    HLL/KMV rollups, same write-partials/merge-later shape. The
    oracle is plain COUNT(DISTINCT): bitmaps are exact at any merge
    depth, so the check has no approximation slack."""
    from vega_spark.operators.sketches import (bitmap_merge_count,
                                               bitmap_partial)
    ev = _t(spark, sf_dir, "events").select(
        "event_type", (ts_hour_of_day("ts") % 4).alias("hour_bucket"),
        "user_id")
    partials = bitmap_partial(ev, ["event_type", "hour_bucket"], "user_id")
    return bitmap_merge_count(partials, ["event_type"])


@_q("ab_test_event_values", """
WITH a AS (
  SELECT event_type,
    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_c,
    ROUND(SUM(CASE WHEN user_id % 2 = 0 THEN value END), 2) AS s_c,
    ROUND(SUM(CASE WHEN user_id % 2 = 0 THEN value * value END), 4) AS q_c,
    SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n_t,
    ROUND(SUM(CASE WHEN user_id % 2 = 1 THEN value END), 2) AS s_t,
    ROUND(SUM(CASE WHEN user_id % 2 = 1 THEN value * value END), 4) AS q_t
  FROM events GROUP BY 1)
SELECT event_type, CAST(n_c AS BIGINT) AS n_c, CAST(n_t AS BIGINT) AS n_t,
       s_c / n_c AS mean_control,
       s_t / n_t AS mean_treatment,
       (s_t / n_t - s_c / n_c)
       / sqrt(((q_c - s_c * s_c / n_c) / (n_c - 1)) / n_c
              + ((q_t - s_t * s_t / n_t) / (n_t - 1)) / n_t) AS z_score
FROM a
""", bench=True)
def ab_test_event_values_q(spark, sf_dir):
    """A/B experiment readout: Welch z per event type (variant =
    user-id parity). Sums round at their decimal grid, then the
    mean/variance/z chain runs in identical operation order on both
    engines — z compares bit-for-bit unrounded."""
    from vega_spark.operators.stats import ab_test_zscores
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "value",
        F.when(F.col("user_id") % 2 == 0, F.lit("control"))
        .otherwise(F.lit("treatment")).alias("variant"))
    return ab_test_zscores(ev, ["event_type"], "variant", "value",
                           "control", "treatment")


@_q("hist_quantile_rollup", """
WITH part AS (
  SELECT event_type,
         CAST(EXTRACT(hour FROM ts) AS INTEGER) % 4 AS hb,
         LEAST(63, GREATEST(0,
           CAST(FLOOR((value - 0.0) / 1.5625) AS INTEGER))) AS bin,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2, 3),
m AS (SELECT event_type, bin, SUM(cnt) AS cnt
      FROM part GROUP BY 1, 2),
cum AS (SELECT event_type, bin, cnt,
          SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cum,
          SUM(cnt) OVER (PARTITION BY event_type) AS n
        FROM m),
probe AS (SELECT c.*, q FROM cum c
          CROSS JOIN (SELECT unnest([0.5::DOUBLE, 0.95::DOUBLE,
                                     0.99::DOUBLE]) AS q) qq),
hit AS (SELECT * FROM probe
        WHERE (q * n <= cum AND q * n > cum - cnt)
           OR (q = 0 AND cum = cnt))
SELECT event_type, q,
       MIN(0.0 + (bin + (q * n - (cum - cnt)) / cnt) * 1.5625)
         AS quantile_est
FROM hit GROUP BY 1, 2
""", bench=True)
def hist_quantile_rollup_q(spark, sf_dir):
    """Mergeable quantiles: per (event_type, hour-bucket) fixed-bin
    histogram partials merge up to per-type p50/p95/p99 — the
    quantile member of the rollup family; finer summaries are
    written once and every coarser percentile question is count
    addition + deterministic interpolation. Bin width 1.5625 is
    exact binary, and the whole estimate chain is fixed-order
    arithmetic on exact integer counts, so estimates compare
    bit-for-bit unrounded."""
    from vega_spark.operators.stats import (hist_merge_quantiles,
                                            hist_partial)
    ev = _t(spark, sf_dir, "events").select(
        "event_type", (ts_hour_of_day("ts") % 4).alias("hb"), "value")
    partials = hist_partial(ev, ["event_type", "hb"], "value",
                            0.0, 100.0, 64)
    return hist_merge_quantiles(partials.drop("hb"), ["event_type"],
                                [0.5, 0.95, 0.99], 0.0, 100.0, 64)


@_q("retention_cohorts_daily", """
WITH e AS (SELECT user_id AS u, epoch_us(ts) // 86400000000 AS p
           FROM events),
cohort AS (SELECT u, MIN(p) AS cohort FROM e GROUP BY u),
active AS (SELECT DISTINCT u, p FROM e)
SELECT cohort, p - cohort AS "offset",
       COUNT(DISTINCT u) AS n_active
FROM active JOIN cohort USING (u) GROUP BY 1, 2
""", bench=True)
def retention_cohorts_daily_q(spark, sf_dir):
    """Daily retention cohorts: users bucketed by first-active day,
    counted per day-offset they return — two keyed shuffles on the
    user id. Day buckets come from exact INTEGER division of the ns
    epoch (double division of 1e18-scale epochs loses sub-day
    precision past 2^53)."""
    from vega_spark.functions.analytics import retention_cohorts
    ev = _t(spark, sf_dir, "events")
    return retention_cohorts(
        ev, bucket_expr=lambda c: F.expr("ts div 86400000000000"))


@_q("top_event_paths", """
WITH seq AS (
  SELECT user_id AS u,
         list(event_type ORDER BY epoch_us(ts), event_id) AS s
  FROM events GROUP BY user_id),
grams AS (
  SELECT unnest(list_transform(
           generate_series(1, greatest(len(s) - 2, 0)),
           i -> array_to_string(s[i:i+2], '>'))) AS path
  FROM seq)
SELECT path, COUNT(*) AS n FROM grams
GROUP BY path ORDER BY n DESC, path LIMIT 20
""", bench=True)
def top_event_paths_q(spark, sf_dir):
    """Most common 3-event user paths ('what happens next'): ordered
    per-user sequences (one user-keyed exchange), narrow in-row
    n-gram fan-out, keyed count, bounded TakeOrdered head. Ordering
    is µs-truncated + event-id to match the oracle exactly."""
    from vega_spark.functions.analytics import top_event_paths
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts div 1000").alias("ts"),
        "event_id")
    return top_event_paths(ev, path_len=3, top_n=20)


@_q("resolve_supplier_entities", f"""
WITH RECURSIVE {_SUPPLIER_GRAMS_CTE},
{_SUPPLIER_RARE_CANDS_CTE},
p AS (SELECT id_a AS a, id_b AS b FROM cand
      WHERE abs(len(s_a) - len(s_b)) <= 2
        AND levenshtein(s_a, s_b) BETWEEN 1 AND 2),
e AS (SELECT a AS u, b AS v FROM p UNION SELECT b, a FROM p),
{_COMPONENTS_CTE},
lab AS (SELECT s.s_suppkey, s.s_name, s.s_nationkey, s.s_acctbal,
               COALESCE(c.component, s.s_suppkey) AS entity
        FROM supplier s LEFT JOIN comp c ON s.s_suppkey = c.node),
base AS (SELECT entity, COUNT(*) AS n_members,
                MIN(s_suppkey) AS rep_id,
                MAX(s_acctbal) AS max_s_acctbal
         FROM lab GROUP BY 1),
rep AS (SELECT l.entity, l.s_name FROM lab l
        JOIN base b ON l.entity = b.entity AND l.s_suppkey = b.rep_id),
votes AS (SELECT entity, s_nationkey, COUNT(*) AS c
          FROM lab GROUP BY 1, 2),
pick AS (SELECT entity, s_nationkey FROM (
          SELECT entity, s_nationkey,
                 ROW_NUMBER() OVER (PARTITION BY entity
                                    ORDER BY c DESC, s_nationkey) AS rn
          FROM votes) WHERE rn = 1)
SELECT b.entity, b.n_members, rep.s_name AS canonical_name,
       b.max_s_acctbal, pick.s_nationkey AS voted_s_nationkey
FROM base b JOIN rep ON b.entity = rep.entity
JOIN pick ON b.entity = pick.entity
""", bench=True)
def resolve_supplier_entities_q(spark, sf_dir):
    """Entity-resolution capstone: fuzzy-name blocking + transitive
    closure + survivorship (smallest-id canonical name, majority-vote
    nation, max balance) collapse linked supplier records into one
    canonical row each. The oracle replays the ENTIRE pipeline —
    blocking, edit-distance verify, recursive-CTE closure, votes —
    which is the strongest per-query check in the registry."""
    from vega_spark.operators.fuzzy import resolve_entities
    sup = _t(spark, sf_dir, "supplier")
    out = resolve_entities(sup, "s_suppkey", "s_name",
                           vote_cols=["s_nationkey"],
                           max_cols=["s_acctbal"],
                           max_dist=2, q=3, max_gram_freq=50)
    return out.select("entity", "n_members", "canonical_name",
                      "max_s_acctbal", "voted_s_nationkey")


@_q("tpch_q18_large_orders", """
SELECT c_custkey, o_orderkey, ROUND(SUM(l_quantity), 1) AS total_qty
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_custkey, o_orderkey
HAVING SUM(l_quantity) > 250
""", bench=True)
def tpch_q18_large_orders_q(spark, sf_dir):
    """TPC-H Q18 shape: big-big join then grouped HAVING filter. The
    lineitem-orders join shuffles on orderkey; customer broadcasts."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    j = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
         .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")))
    return (j.groupBy("c_custkey", "o_orderkey")
            .agg(F.round(F.sum("l_quantity"), 1).alias("total_qty"))
            .filter(F.col("total_qty") > 250))


@_q("count_by_value_approx", """
SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
""")
def count_by_value_approx_q(spark, sf_dir):
    """Deadline-bounded grouped count (reference rdd.rs:461-499 +
    grouped_count_evaluator.rs): with an ample deadline every
    partition reports, so the result is exact and oracle-checkable;
    the timeout path is pinned by unit tests instead."""
    from vega_spark.operators.approx import count_by_value_approx
    m = count_by_value_approx(
        _t(spark, sf_dir, "events").select("event_type"),
        ["event_type"], timeout_ms=120_000, chunk=32)
    rows = sorted((k[0], int(v.mean)) for k, v in m.items())
    return spark.createDataFrame(rows, "event_type string, n bigint")


@_q("sql_exists_subquery", """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
  AND c_acctbal > 0
""", bench=True)
def sql_exists_subquery_q(spark, sf_dir):
    """Full SQL surface (reference has no SQL layer at all, SURVEY
    §2.11): the identical SQL text runs on Spark (registered temp
    views) and DuckDB. EXISTS decorrelates to a left-semi join in
    Catalyst — same plan family as join_semi."""
    from vega_spark.tables import register_views
    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
          AND c_acctbal > 0""")


@_q("sum_approx", """
SELECT ROUND(SUM(value), 2) AS total FROM events
""")
def sum_approx_q(spark, sf_dir):
    """Deadline-bounded sum (same partial mechanism as count_approx,
    reference context.rs:508-524 generic evaluator): exact when every
    partition reports within the deadline, hence oracle-checkable."""
    from vega_spark.operators.approx import sum_approx
    r = sum_approx(_t(spark, sf_dir, "events").select("value"), "value",
                   timeout_ms=120_000, chunk=32)
    return spark.createDataFrame([(round(r.mean, 2),)], "total double")


@_q("mean_approx", """
SELECT CAST(COUNT(value) AS BIGINT) AS n_vals, 1 AS ci_contains
FROM events
""")
def mean_approx_q(spark, sf_dir):
    """mean_approx contract — the NEW action written against the
    reference's generic evaluator framework (context.rs:508-524;
    operators/approx.py:226). Pins only deadline-independent facts
    (count_approx r3 ADVICE lesson): the non-null count, and that the
    BoundedDouble CI contains the exact mean — true on BOTH the
    converged path (CI degenerates to the mean, compared with a
    float-summation-order tolerance) and the partial path (interval
    widens around the seen-rows mean)."""
    from vega_spark.operators.approx import mean_approx
    ev = _t(spark, sf_dir, "events")
    r = mean_approx(ev, "value", timeout_ms=120_000, chunk=32)
    exact = ev.agg(F.avg("value").alias("m")).first()["m"]
    n = ev.filter(F.col("value").isNotNull()).count()
    tol = 1e-9 * max(1.0, abs(exact))
    return spark.createDataFrame(
        [(n, int(r.low - tol <= exact <= r.high + tol))],
        "n_vals long, ci_contains int")


@_q("window_lead_lag", """
SELECT o_orderkey,
       LAG(o_orderkey) OVER w AS prev_key,
       LEAD(o_orderkey) OVER w AS next_key,
       NTILE(4) OVER w AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
""")
def window_lead_lag_q(spark, sf_dir):
    """lead/lag/ntile analytics — window-function family the
    reference lacks entirely (SURVEY §2.11)."""
    from pyspark.sql.window import Window
    w = Window.partitionBy("o_orderstatus").orderBy("o_orderkey")
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_key"),
        F.lead("o_orderkey").over(w).alias("next_key"),
        F.ntile(4).over(w).alias("quartile"))


# --- north-star: end-to-end training-data pipeline -----------------------------

_PIPELINE_CLEAN_SQL = f"""
WITH {_DOC_WORDS_CTE}, feats AS (
  SELECT doc_id, text, len(t) AS n_tokens,
         {_PUNCT_RATIO} AS praw,
         {_STOPWORD_RATIO} AS sraw,
         {_LANG_SCORES}
  FROM base
), scored AS (
  SELECT doc_id, text, n_tokens,
         {_LANG_PRED},
         CAST(ROUND((CASE WHEN n_tokens BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END)
             + (CASE WHEN praw < 0.2 THEN 0.3 ELSE 0.0 END)
             + (CASE WHEN sraw > 0.05 THEN 0.3 ELSE 0.0 END), 2) AS DOUBLE) AS quality
  FROM feats
), deduped AS (
  SELECT doc_id, n_tokens, lang_pred, quality,
         ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rk
  FROM scored WHERE quality >= 0.7
)
SELECT doc_id, n_tokens, lang_pred, quality FROM deduped WHERE rk = 1
"""


@_q("pipeline_clean_corpus", _PIPELINE_CLEAN_SQL, bench=True)
def pipeline_clean_corpus_q(spark, sf_dir):
    """Full training-data pipeline (functions/pipeline.py): feature
    pass (narrow) -> quality gate -> one-shuffle exact dedup. The
    oracle replays every heuristic in SQL."""
    from vega_spark.functions.pipeline import clean_corpus
    return clean_corpus(_t(spark, sf_dir, "documents"))


@_q("pipeline_corpus_stats", f"""
WITH clean AS ({_PIPELINE_CLEAN_SQL})
SELECT lang_pred, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(AVG(quality), 4) AS avg_quality
FROM clean GROUP BY lang_pred
""", bench=True)
def pipeline_corpus_stats_q(spark, sf_dir):
    from vega_spark.functions.pipeline import clean_corpus, corpus_stats
    return corpus_stats(clean_corpus(_t(spark, sf_dir, "documents")))


@_q("tpch_q1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,4)))
            AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                     AS DECIMAL(20,6))) AS DOUBLE) AS sum_charge,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""", bench=True)
def tpch_q1_pricing_summary_q(spark, sf_dir):
    """TPC-H Q1: the canonical scan-heavy partial+final aggregate.
    One scan (shipdate filter pushed to parquet, 4-column ReadSchema),
    whole-stage-codegen'd projections, 4-group final agg — the shuffle
    carries only |groups| x partial rows. Money sums go through
    per-row DECIMAL casts so both engines sum exactly (double
    accumulation order would otherwise diverge in the last bits at
    100 TB row counts)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp_ntz"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("bigint").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(20,2)"))
         .cast("double").alias("sum_base_price"),
        F.sum(disc.cast("decimal(20,4)")).cast("double").alias("sum_disc_price"),
        F.sum((disc * (1 + F.col("l_tax"))).cast("decimal(20,6)"))
         .cast("double").alias("sum_charge"),
        F.count(F.lit(1)).alias("count_order")))


@_q("tpch_q9_profit_by_nation", """
SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS INT) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,4)))
            AS DOUBLE) AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, YEAR(o_orderdate)
""", bench=True)
def tpch_q9_profit_by_nation_q(spark, sf_dir):
    """TPC-H Q9 shape (no partsupp table in the test schema, so the
    supplycost term drops out): profit per nation-year. part is
    filtered BEFORE its broadcast (the LIKE prunes ~87% of rows, and
    the part join then prunes most lineitem rows before anything
    shuffles); supplier+nation broadcast; lineitem-orders is the one
    big shuffle join on orderkey."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")).select("p_partkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = (li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
         .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
         .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
         .join(o, F.col("l_orderkey") == F.col("o_orderkey")))
    return (j.groupBy(F.col("n_name").alias("nation"),
                      F.year("o_orderdate").alias("o_year"))
            .agg(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                       .cast("decimal(20,4)"))
                 .cast("double").alias("profit")))


@_q("hll_rollup_distinct_users", """
SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct,
       1 AS hll_in_band
FROM events GROUP BY event_type
""")
def hll_rollup_distinct_users_q(spark, sf_dir):
    """Mergeable-sketch rollup (operators/sketches.py): daily per-type
    HLL partials, then union-merged to per-type distinct users — the
    merge never rescans the base table. Accuracy-band contract (SF-
    robust): the oracle pins the exact distinct per type plus a 2%-
    band flag on the merged HLL estimate — exact in the sketch's
    sparse (coupon-list) regime at the sf0.01 gate, and still pinned
    (0.8% measured at sf0.1) once the estimator leaves it; the error
    bound at large cardinality is additionally pinned in test_approx."""
    from vega_spark.operators import sketches as SK
    from vega_spark.tables import ts_date
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "user_id", ts_date("ts").alias("day"))
    partials = SK.hll_partial(ev, ["event_type", "day"], "user_id")
    est = SK.hll_merge(partials, ["event_type"])
    exact = (_t(spark, sf_dir, "events")
             .groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("exact_distinct")))
    return (exact.join(est, "event_type")
            .select("event_type", "exact_distinct",
                    (F.abs(F.col("approx_distinct")
                           - F.col("exact_distinct"))
                     <= 0.02 * F.col("exact_distinct"))
                    .cast("int").alias("hll_in_band")))


@_q("corr_matrix", """
SELECT * FROM (
  SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
         ROUND(corr(l_quantity, l_extendedprice), 6) AS corr FROM lineitem
  UNION ALL
  SELECT 'l_quantity', 'l_discount',
         ROUND(corr(l_quantity, l_discount), 6) FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', 'l_discount',
         ROUND(corr(l_extendedprice, l_discount), 6) FROM lineitem) t
""", bench=True)
def corr_matrix_q(spark, sf_dir):
    """All pairwise correlations in ONE aggregate pass (stats.py) —
    the oracle needs three scans to say the same thing."""
    from vega_spark.operators import stats as ST
    li = _t(spark, sf_dir, "lineitem")
    out = ST.corr_matrix(li, ["l_quantity", "l_extendedprice", "l_discount"])
    return out.select("col_x", "col_y", F.round("corr", 6).alias("corr"))


@_q("crosstab_counts", """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders GROUP BY o_orderstatus, o_orderpriority
""")
def crosstab_counts_q(spark, sf_dir):
    """Tidy (long) contingency table — one shuffle; deliberately not
    the pivoted stat.crosstab (column-explosion at scale)."""
    from vega_spark.operators import stats as ST
    o = _t(spark, sf_dir, "orders")
    return ST.crosstab(o, "o_orderstatus", "o_orderpriority")


@_q("heavy_hitters", """
SELECT l_partkey, COUNT(*) AS n
FROM lineitem GROUP BY l_partkey HAVING COUNT(*) >= 40
""")
def heavy_hitters_q(spark, sf_dir):
    from vega_spark.operators import stats as ST
    li = _t(spark, sf_dir, "lineitem")
    return ST.heavy_hitters_exact(li, "l_partkey", 40)


@_q("kmeans_clusters", """
SELECT COUNT(*) AS n_points, 1 AS coverage, 1 AS k_bounded
FROM embeddings
""", bench=True)
def kmeans_clusters_q(spark, sf_dir):
    """Iterative Lloyd's k-means contract (functions/clustering.py):
    the broadcast-iterate loop SQL can't express and cluster geometry
    is init-dependent, but the ASSIGNMENT must partition the corpus —
    cluster sizes sum to the point count, with 1..k clusters. Flags
    engine-side, pinned by the oracle; geometry semantics stay pinned
    in test_clustering."""
    from vega_spark.functions.clustering import cluster_sizes, kmeans
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding").cache()
    try:
        assigned, _ = kmeans(emb, "embedding", k=10, max_iter=8)
        sizes = cluster_sizes(assigned)
        sagg = sizes.agg(F.sum("n").alias("__covered"),
                         F.count(F.lit(1)).alias("__k"))
        src = emb.agg(F.count(F.lit(1)).alias("n_points"))
        return src.crossJoin(sagg).select(
            "n_points",
            (F.col("__covered") == F.col("n_points")).cast("int")
            .alias("coverage"),
            ((F.col("__k") >= 1) & (F.col("__k") <= 10)).cast("int")
            .alias("k_bounded"))
    finally:
        emb.unpersist()


@_q("kmeans_silhouette", """
SELECT COUNT(*) AS n_points, 1 AS coverage, 1 AS sil_in_range
FROM embeddings
""", bench=True)
def kmeans_silhouette_q(spark, sf_dir):
    """Cluster-quality contract for the k-means family: rank-k
    clustering followed by the simplified (centroid-based) silhouette
    — the O(k)-per-point evaluator that replaces the O(n²) exact
    silhouette at scale. Geometry is float-iterative, so the pinned
    surface is the invariants: per-cluster counts cover the corpus
    and every mean silhouette lies in [-1, 1]. Separation ordering
    and exact-vs-simplified agreement stay pinned in
    test_clustering."""
    from vega_spark.functions.clustering import (
        kmeans, silhouette_simplified)
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding").cache()
    try:
        assigned, cents = kmeans(emb, "embedding", k=5, max_iter=8)
        sil = silhouette_simplified(assigned, "embedding", cents)
        sagg = sil.agg(
            F.sum("n").alias("__covered"),
            F.count(F.when((F.col("mean_silhouette") < -1)
                           | (F.col("mean_silhouette") > 1), 1))
            .alias("__oob"))
        src = emb.agg(F.count(F.lit(1)).alias("n_points"))
        return src.crossJoin(sagg).select(
            "n_points",
            (F.col("__covered") == F.col("n_points")).cast("int")
            .alias("coverage"),
            (F.col("__oob") == 0).cast("int").alias("sil_in_range"))
    finally:
        emb.unpersist()


@_q("pivot_event_values", """
SELECT CAST(ts AS DATE) AS day,
       ROUND(SUM(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
       ROUND(SUM(CASE WHEN event_type = 'view' THEN value END), 2) AS view,
       ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase
FROM events GROUP BY 1
""")
def pivot_event_values_q(spark, sf_dir):
    """Explicit-width pivot (aggregations.pivot_agg): one shuffle on
    the group key; the pivot list is declared, never inferred."""
    from vega_spark.operators.aggregations import pivot_agg
    from vega_spark.tables import ts_date
    ev = _t(spark, sf_dir, "events").select(
        ts_date("ts").alias("day"), "event_type", "value")
    return pivot_agg(ev, ["day"], "event_type",
                     ["click", "view", "purchase"],
                     F.round(F.sum("value"), 2))


@_q("unpivot_lineitem_measures", """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS var, l_quantity AS value
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
FROM lineitem
""", bench=True)
def unpivot_lineitem_measures_q(spark, sf_dir):
    """Wide -> long melt (aggregations.unpivot): narrow per-task
    fan-out, no shuffle — the oracle needs three scans."""
    from vega_spark.operators.aggregations import unpivot
    li = _t(spark, sf_dir, "lineitem")
    return unpivot(li, ["l_orderkey", "l_linenumber"],
                   ["l_quantity", "l_extendedprice", "l_discount"])


@_q("text_normalize_mask", r"""
SELECT doc_id,
       trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text,
       regexp_replace(
         regexp_replace(
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           'https?://[^\s]+', '<URL>', 'g'),
         '\+?\d[\d\s().-]{7,}\d', '<PHONE>', 'g') AS masked_text
FROM documents
""")
def text_normalize_mask_q(spark, sf_dir):
    """Normalization + PII redaction (functions/text.py) — stacked
    regexp_replace in one codegen stage; oracle replays the identical
    regexes in DuckDB."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        X_text.normalize_text("text").alias("norm_text"),
        X_text.mask_pii("text").alias("masked_text"))


@_q("chunk_documents", r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
  FROM documents
), sized AS (
  SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
), starts AS (
  SELECT doc_id, t, n,
         unnest(generate_series(0,
           CASE WHEN n > 32
                THEN CAST(FLOOR((n - 9) / 24.0) AS BIGINT) * 24
                ELSE 0 END, 24)) AS start
  FROM sized
)
SELECT doc_id, CAST(start / 24 AS INT) AS chunk_idx,
       array_to_string(t[start + 1 : start + 32], ' ') AS chunk_text,
       CAST(LEAST(32, n - start) AS INT) AS n_tokens
FROM starts
""")
def chunk_documents_q(spark, sf_dir):
    """Overlapping token-window chunking (text.chunk_tokens,
    size=32/overlap=8) — narrow explode, no shuffle; the oracle
    replays the window arithmetic with generate_series."""
    return X_text.chunk_tokens(_t(spark, sf_dir, "documents"),
                               "text", "doc_id",
                               chunk_size=32, overlap=8)


@_q("sample_stratified", """
SELECT event_type, COUNT(*) AS n_stratum, 1 AS in_band
FROM events
WHERE event_type IN ('click', 'view', 'purchase')
GROUP BY 1
""")
def sample_stratified_q(spark, sf_dir):
    """Per-stratum Bernoulli sample contract (sample_seeded's
    pattern): each stratum's sampled size must sit within 5 sigma of
    fraction * |stratum| — and the 1.0-fraction stratum (purchase)
    must be taken WHOLE, which the zero-variance band enforces
    exactly. Stratum totals are SQL-pinned; the band flag is
    engine-computed."""
    from vega_spark.operators.sampling import sample_stratified
    fracs = {"click": 0.5, "view": 0.1, "purchase": 1.0}
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    base = ev.filter(F.col("event_type").isin(*fracs))
    out = sample_stratified(ev, "event_type", fracs, seed=7)
    sampled = out.groupBy("event_type").agg(F.count(F.lit(1)).alias("__k"))
    totals = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_stratum"))
    frac = F.when(F.col("event_type") == "click", 0.5) \
        .when(F.col("event_type") == "view", 0.1).otherwise(1.0)
    sigma = F.sqrt(frac * (1 - frac) * F.col("n_stratum"))
    # zero-variance strata (fraction 1.0) get a zero-width band: the
    # whole stratum or a failed hash
    band = F.when(sigma > 0, 5 * sigma + 1).otherwise(F.lit(0.0))
    return (totals.join(sampled, "event_type", "left").select(
        "event_type", "n_stratum",
        (F.abs(F.coalesce("__k", F.lit(0)) - frac * F.col("n_stratum"))
         <= band).cast("int").alias("in_band")))


# --- bag-semantics set ops + keyed subtract (§2.6 superset) ----------------

@_q("except_all_keys", """
SELECT l_partkey AS key FROM lineitem
EXCEPT ALL
SELECT p_partkey AS key FROM part WHERE p_size < 25
""")
def except_all_keys_q(spark, sf_dir):
    """EXCEPT ALL — multiplicity-aware difference (bag superset of
    the reference's deduplicating subtract)."""
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("key"))
    pt = (_t(spark, sf_dir, "part").filter(F.col("p_size") < 25)
          .select(F.col("p_partkey").alias("key")))
    return S.except_all(li, pt)


@_q("intersect_all_keys", """
SELECT l_suppkey AS key FROM lineitem WHERE l_quantity > 25
INTERSECT ALL
SELECT l_suppkey AS key FROM lineitem WHERE l_discount > 0.05
""")
def intersect_all_keys_q(spark, sf_dir):
    """INTERSECT ALL — each key survives min(n_left, n_right) times."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 25).select(F.col("l_suppkey").alias("key"))
    b = li.filter(F.col("l_discount") > 0.05).select(F.col("l_suppkey").alias("key"))
    return S.intersect_all(a, b)


@_q("subtract_by_key", """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders
                         WHERE o_orderstatus = 'F')
""")
def subtract_by_key_q(spark, sf_dir):
    """subtractByKey: left rows whose KEY is absent from right;
    payload multiplicity preserved (LEFT ANTI on a keys-only right)."""
    from vega_spark.operators.setops import subtract_by_key
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity")
    od = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F") \
        .select(F.col("o_orderkey").alias("l_orderkey"))
    return subtract_by_key(li, od, "l_orderkey")


@_q("histogram_price", """
SELECT LEAST(CAST(FLOOR(l_extendedprice / 5000.0) AS INTEGER), 11) AS bucket,
       COUNT(*) AS n
FROM lineitem WHERE l_extendedprice BETWEEN 0 AND 60000
GROUP BY 1
""")
def histogram_price_q(spark, sf_dir):
    """Fixed-width histogram (RDD histogram equivalent): constant-size
    exchange (n_buckets rows) at any SF."""
    from vega_spark.operators.stats import histogram_fixed
    return histogram_fixed(_t(spark, sf_dir, "lineitem"),
                           "l_extendedprice", 0.0, 60000.0, 12)


# --- north-star: LM-quality scoring, repetition filters, incremental dedup --

_TOKS_SQL = """
  SELECT doc_id AS doc,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS term
  FROM documents
"""


@_q("unigram_lm_score", f"""
WITH toks AS ({_TOKS_SQL}),
counts AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
total AS (SELECT SUM(cnt) AS total FROM counts),
logp AS (SELECT term, LN(cnt / total) AS logp FROM counts, total)
SELECT doc, COUNT(*) AS n_tokens, ROUND(AVG(logp), 6) AS avg_logprob
FROM toks JOIN logp USING (term)
GROUP BY doc
""")
def unigram_lm_score_q(spark, sf_dir):
    """Corpus-unigram LM quality score (perplexity stand-in): mean
    token log-probability under the corpus's own unigram MLE."""
    return X_text.unigram_logprob_score(
        _t(spark, sf_dir, "documents"), "text", "doc_id")


@_q("repetition_stats", f"""
WITH toks AS ({_TOKS_SQL}),
pt AS (SELECT doc, term, COUNT(*) AS cnt FROM toks GROUP BY 1, 2)
SELECT doc, CAST(SUM(cnt) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
       ROUND(MAX(cnt) / SUM(cnt), 6) AS top_term_frac,
       ROUND(COUNT(*) / SUM(cnt), 6) AS distinct_frac
FROM pt GROUP BY doc
""")
def repetition_stats_q(spark, sf_dir):
    """Gopher-style repetition diagnostics (boilerplate/spam filter
    inputs): top-term fraction + distinct-token fraction per doc."""
    return X_text.repetition_stats(
        _t(spark, sf_dir, "documents"), "text", "doc_id")


def _incremental_dedup_sql(mod: int) -> str:
    """Oracle of an incremental exact dedup: the documents with
    ``doc_id % mod == 0`` arrive as a batch against the rest, and each
    text new to the corpus is kept once, at its smallest doc_id."""
    return f"""
WITH corpus AS (SELECT * FROM documents WHERE doc_id % {mod} <> 0),
batch AS (SELECT * FROM documents WHERE doc_id % {mod} = 0),
firsts AS (SELECT text, MIN(doc_id) AS doc_id FROM batch GROUP BY text)
SELECT b.* FROM batch b
JOIN firsts f ON b.doc_id = f.doc_id AND b.text = f.text
WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text)
"""


@_q("dedup_incremental", _incremental_dedup_sql(3))
def dedup_incremental_q(spark, sf_dir):
    """Incremental ingestion dedup: new-batch docs not already in the
    corpus, keep-first within the batch. Digest-only anti-join — the
    exchange never carries document payloads."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    return X_dedup.incremental_new_docs(corpus, batch, "text", "doc_id")


# --- north-star: embedding storage transforms ------------------------------

@_q("embed_l2_normalize", """
WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
norm AS (SELECT vec_id, v,
         SQRT(list_reduce(list_transform(v, x -> x * x),
                          (a, b) -> a + b)) AS nn FROM n),
idx AS (SELECT vec_id, v, nn,
        unnest(generate_series(1, len(v))) AS i FROM norm)
SELECT vec_id, CAST(i - 1 AS INTEGER) AS idx,
       CAST(FLOOR(CASE WHEN nn > 0 THEN v[i] / nn ELSE v[i] END
                  * 1000000 + 0.5) AS BIGINT) AS q
FROM idx
""")
def embed_l2_normalize_q(spark, sf_dir):
    """Unit-normalization of the embedding column (narrow, fuses into
    the scan). Compared element-wise at fixed point 1e-6: the fold
    order of the norm is part of the operator contract, so the oracle
    reproduces the doubles exactly (see similarity.l2_normalize)."""
    emb = _t(spark, sf_dir, "embeddings")
    normed = emb.select("vec_id",
                        X_sim.l2_normalize(F.col("embedding")).alias("v"))
    return normed.select(
        "vec_id", F.posexplode("v").alias("idx", "__val")).select(
        "vec_id", "idx",
        F.floor(F.col("__val") * 1000000 + 0.5).cast("long").alias("q"))


@_q("embed_quantize_int8", """
WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (SELECT vec_id, v,
      list_max(list_transform(v, x -> abs(x))) AS amax FROM n),
idx AS (SELECT vec_id, v, amax, amax / 127.0 AS scale,
        unnest(generate_series(1, len(v))) AS i FROM s)
SELECT vec_id, CAST(i - 1 AS INTEGER) AS idx,
       CAST(CASE WHEN amax > 0 THEN FLOOR(v[i] / scale + 0.5)
                 ELSE 0 END AS INTEGER) AS q,
       CAST(FLOOR(scale * 1000000 + 0.5) AS BIGINT) AS scale_q
FROM idx
""")
def embed_quantize_int8_q(spark, sf_dir):
    """Symmetric per-vector int8 quantization (4x ANN index shrink);
    round-half-up via floor(x+0.5) so the oracle replays it exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    qz = emb.select("vec_id",
                    X_sim.quantize_int8(F.col("embedding")).alias("s"))
    return qz.select(
        "vec_id",
        F.floor(F.col("s.scale") * 1000000 + 0.5).cast("long")
        .alias("scale_q"),
        F.posexplode("s.q").alias("idx", "q"))


# --- north-star: corpus statistics + passage dedup + capped sampling -------

@_q("zipf_rank_frequency", f"""
WITH toks AS ({_TOKS_SQL}),
counts AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
ranked AS (SELECT term, cnt,
           ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rank FROM counts)
SELECT term, cnt, rank FROM ranked WHERE rank <= 50
""")
def zipf_rank_frequency_q(spark, sf_dir):
    """Rank-frequency (Zipf) table, top 50 terms; top-n runs as
    per-partition heaps (TakeOrderedAndProject), not a global sort."""
    return X_text.zipf_rank_frequency(
        _t(spark, sf_dir, "documents"), "text", top_n=50)


@_q("vocab_stats", f"""
WITH toks AS ({_TOKS_SQL}),
counts AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term)
SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens, COUNT(*) AS vocab_size,
       CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS hapax_terms,
       ROUND(COUNT(*) / SUM(cnt), 6) AS type_token_ratio
FROM counts
""")
def vocab_stats_q(spark, sf_dir):
    """One-row vocabulary summary of the documents corpus."""
    return X_text.vocab_stats(_t(spark, sf_dir, "documents"), "text")


@_q("dedup_spans", f"""
WITH {_DOC_TOKS_CTE},
starts AS (
  SELECT doc_id, t,
         unnest(generate_series(
            0, CAST(FLOOR((len(t) - 1) / 16) AS INTEGER) * 16, 16)) AS s
  FROM toks WHERE len(t) > 0
),
spans AS (
  SELECT doc_id, s // 16 AS pos,
         array_to_string(list_slice(t, s + 1, s + 16), ' ') AS span
  FROM starts
),
kept AS (
  SELECT doc_id, pos, span,
         ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
  FROM spans
)
SELECT doc_id, string_agg(span, ' ' ORDER BY pos) AS text
FROM kept WHERE rn = 1 GROUP BY doc_id
""")
def dedup_spans_q(spark, sf_dir):
    """C4-style passage dedup: 16-token spans, global keep-first by
    (doc_id, position), documents reassembled from survivors."""
    return X_dedup.span_dedup(
        _t(spark, sf_dir, "documents"), "text", "doc_id", span_tokens=16)


@_q("sample_per_source_capped", """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rn
  FROM documents) WHERE rn <= 5
""")
def sample_per_source_capped_q(spark, sf_dir):
    """Deterministic per-source document cap (5 docs/source by md5
    order): reproducible domain balancing with no RNG state. Rank
    filter rewrites to WindowGroupLimit — map-side top-k heaps, so a
    skewed source never concentrates on one reducer."""
    from vega_spark.operators.sampling import sample_deterministic_per_key
    docs = _t(spark, sf_dir, "documents")
    return sample_deterministic_per_key(
        docs, "source", 5, "doc_id").select("doc_id", "source")


# --- pandas-cogroup, secondary-sort gaps, CMS heavy hitters ----------------

@_q("cogroup_reconcile_orders", """
SELECT o.o_orderkey,
       COUNT(l.l_orderkey) AS n_lines,
       COALESCE(SUM(l.l_quantity), 0) AS sum_qty
FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey % 7 = 0
GROUP BY o.o_orderkey
""")
def cogroup_reconcile_orders_q(spark, sf_dir):
    """Black-box cogroup (groupby().cogroup().applyInPandas): orders
    and their lineitems materialized as pandas frames, the
    reference's cogroup-then-compute pattern with arbitrary logic.
    The %7 filter keeps both scans pruned (predicate pushdown on the
    key survives the cogroup).

    Cogrouped on a BOUNDED bucket key (orderkey % 128), with the
    per-order reconcile done by a vectorized pandas groupby inside
    each bucket frame — the scale shape for per-key Python logic:
    cogrouping directly on the natural key costs one interpreter
    call + frame construction PER KEY (measured 45 s at sf0.1 for
    ~8.6k keys, and growing linearly with keys); 128 bucket calls
    amortize that to milliseconds regardless of key count."""
    import pandas as pd

    def reconcile(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty:          # bucket whose orders are all filtered
            return pd.DataFrame(
                {"o_orderkey": pd.Series(dtype="int64"),
                 "n_lines": pd.Series(dtype="int64"),
                 "sum_qty": pd.Series(dtype="float64")})
        out = lpdf[["o_orderkey"]].drop_duplicates()
        if len(rpdf):
            per = (rpdf.groupby("l_orderkey")["l_quantity"]
                   .agg(n_lines="size", sum_qty="sum").reset_index())
            out = out.merge(per, left_on="o_orderkey",
                            right_on="l_orderkey", how="left")
        else:
            out = out.assign(n_lines=pd.NA, sum_qty=pd.NA)
        return pd.DataFrame({
            "o_orderkey": out["o_orderkey"].astype("int64"),
            "n_lines": out["n_lines"].fillna(0).astype("int64"),
            "sum_qty": out["sum_qty"].fillna(0.0).astype("float64"),
        })

    od = (_t(spark, sf_dir, "orders")
          .filter(F.col("o_orderkey") % 7 == 0)
          .select("o_orderkey",
                  (F.col("o_orderkey") % 128).alias("bucket")))
    li = (_t(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey") % 7 == 0)
          .select("l_orderkey", "l_quantity",
                  (F.col("l_orderkey") % 128).alias("bucket")))
    return J.cogroup_apply(
        od, li, "bucket", "bucket", reconcile,
        "o_orderkey long, n_lines long, sum_qty double")


@_q("user_event_gaps", """
WITH g AS (
  SELECT user_id, event_id,
         epoch_us(ts) - LAG(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
  FROM events
)
SELECT user_id, COUNT(*) AS n_events,
       COUNT(gap) AS n_gaps,
       CAST(COALESCE(SUM(gap), 0) AS BIGINT) AS sum_gap,
       MAX(gap) AS max_gap
FROM g GROUP BY user_id
""")
def user_event_gaps_q(spark, sf_dir):
    """Per-user inter-event gaps via grouped secondary sort
    (applyInPandas), exact integer math with event_id tie-break.
    Compared at µs: DuckDB reads the parquet ns timestamps as
    truncated-to-µs TIMESTAMP, so our ns epochs are integer-divided
    by 1000 (ns div 1000 == the same truncation)."""
    from vega_spark.functions.analytics import user_event_gaps
    return user_event_gaps(_t(spark, sf_dir, "events"), ts_div=1000)


@_q("cms_heavy_hitters", """
WITH tok AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS term
  FROM documents),
cnt AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY 1),
top AS (SELECT term, c FROM cnt ORDER BY c DESC, term LIMIT 20)
SELECT term, CAST(c AS BIGINT) AS exact_cnt,
       1 AS est_ge_exact, 1 AS est_within_bound
FROM top
""")
def cms_heavy_hitters_q(spark, sf_dir):
    """Count-min-sketch accuracy contract for the 20 most frequent
    terms: the CMS estimate NEVER under-counts (min-of-rows
    guarantee) and over-counts only by collision mass — bounded here
    at 8·N/width, four times the expected single-row collision mass,
    far above what a min over depth=4 rows can reach. Exact counts
    are SQL-replayed (same tokenizer convention as text_features);
    the flags are engine-computed from sketch vs exact. The sketch
    is ≤ depth*width rows — broadcast probe join, constant exchange
    at any SF; merge algebra stays unit-tested."""
    from vega_spark.operators.sketches import cms_build, cms_estimate
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(X_text.tokens(F.col("text"))).alias("term"))
    sketch = cms_build(toks, "term")
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    top = (counts.orderBy(F.desc("c"), F.asc("term")).limit(20))
    est = cms_estimate(sketch, top.select("term"), "term")
    total = toks.agg(F.count(F.lit(1)).alias("__n"))
    return (top.join(est, "term").crossJoin(total).select(
        "term", F.col("c").alias("exact_cnt"),
        (F.col("est_count") >= F.col("c")).cast("int")
        .alias("est_ge_exact"),
        (F.col("est_count") - F.col("c")
         <= 8.0 * F.col("__n") / 2048).cast("int")
        .alias("est_within_bound")))


@_q("kmv_distinct_jaccard", """
WITH ah AS (
  SELECT DISTINCT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12))::BIGINT
         / 281474976710656.0 AS h FROM orders
), bh AS (
  SELECT DISTINCT ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12))::BIGINT
         / 281474976710656.0 AS h FROM customer
), a AS (SELECT h FROM ah ORDER BY h LIMIT 256),
   b AS (SELECT h FROM bh ORDER BY h LIMIT 256),
   u AS (SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b) ORDER BY h
         LIMIT 256),
   sa AS (SELECT COUNT(*) AS n, MAX(h) AS hk FROM a),
   sb AS (SELECT COUNT(*) AS n, MAX(h) AS hk FROM b),
   su AS (SELECT COUNT(*) AS n, MAX(h) AS hk FROM u),
   nb AS (SELECT COUNT(*) AS n FROM u
          WHERE h IN (SELECT h FROM a) AND h IN (SELECT h FROM b)),
   est AS (SELECT
     CASE WHEN sa.n < 256 THEN sa.n * 1.0 ELSE 255.0 / sa.hk END AS ea,
     CASE WHEN sb.n < 256 THEN sb.n * 1.0 ELSE 255.0 / sb.hk END AS eb,
     CASE WHEN su.n < 256 THEN su.n * 1.0 ELSE 255.0 / su.hk END AS eu,
     CASE WHEN su.n > 0 THEN nb.n * 1.0 / su.n ELSE 0.0 END AS jac
   FROM sa, sb, su, nb)
SELECT ROUND(ea, 4) AS ndv_a_est, ROUND(eb, 4) AS ndv_b_est,
       ROUND(eu, 4) AS ndv_union_est, ROUND(jac, 4) AS jaccard_est,
       ROUND(jac * eu, 4) AS intersection_est
FROM est
""", bench=True)
def kmv_distinct_jaccard_q(spark, sf_dir):
    """KMV bottom-k sketch (k=256): distinct-count, Jaccard and
    intersection-size estimates between the order-placing customer
    set and the full customer set. The third mergeable-sketch family
    (HLL=distincts, CMS=frequencies, KMV=set relations); hash is the
    repo's cross-engine md5 fraction so the oracle replays the whole
    estimator. The per-partition bottom-k prune bounds the exchange
    at partitions x k rows at any SF."""
    from vega_spark.operators.sketches import kmv_set_relations, kmv_sketch
    a = kmv_sketch(_t(spark, sf_dir, "orders"), "o_custkey", k=256)
    b = kmv_sketch(_t(spark, sf_dir, "customer"), "c_custkey", k=256)
    return kmv_set_relations(a, b, k=256)


# --- JSON surface + exact group percentiles --------------------------------

@_q("json_props_agg", """
SELECT event_type,
       CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
       COUNT(CASE WHEN CAST(props->>'k' AS INTEGER) >= 50 THEN 1 END)
         AS n_high
FROM events GROUP BY event_type
""")
def json_props_agg_q(spark, sf_dir):
    """Semi-structured column surface: decode the props JSON once
    (from_json, JVM-side, fused into the scan) and aggregate typed
    fields — no reference equivalent (closures would hand-parse)."""
    from vega_spark.functions.json_fns import parse_json_col
    ev = parse_json_col(_t(spark, sf_dir, "events"), "props",
                        "k int")
    k = F.col("props_struct.k")
    return (ev.groupBy("event_type")
            .agg(F.sum(k).alias("sum_k"),
                 F.count(F.when(k >= 50, 1)).alias("n_high")))


@_q("percentile_by_group", """
SELECT l_returnflag,
       ROUND(quantile_cont(l_quantity, 0.5), 4) AS p0_5,
       ROUND(quantile_cont(l_quantity, 0.95), 4) AS p0_95
FROM lineitem GROUP BY l_returnflag
""")
def percentile_by_group_q(spark, sf_dir):
    """Exact interpolated percentiles per group (quantile_cont
    semantics on both engines)."""
    from vega_spark.operators.stats import percentile_by_group
    return percentile_by_group(_t(spark, sf_dir, "lineitem"),
                               ["l_returnflag"], "l_quantity",
                               [0.5, 0.95])


# --- embedding centroids / curation distance -------------------------------

@_q("embed_label_centroids", """
WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
idx AS (SELECT label, v, unnest(generate_series(1, len(v))) AS i FROM e)
SELECT label, CAST(i - 1 AS INTEGER) AS idx,
       ROUND(AVG(v[i]), 6) AS mean
FROM idx GROUP BY label, i
""")
def embed_label_centroids_q(spark, sf_dir):
    """Per-label mean embedding, long form — one (label, idx)-keyed
    partial-agg shuffle whose cardinality is labels × dim, never the
    row count. Compared at 6 decimals (float sum order differs across
    engines)."""
    from vega_spark.functions.embeddings import label_centroids
    out = label_centroids(_t(spark, sf_dir, "embeddings"))
    return out.select("label", "idx", F.round("mean", 6).alias("mean"))


@_q("embed_centroid_outliers", """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
idx AS (SELECT vec_id, label, v,
        unnest(generate_series(1, len(v))) AS i FROM e),
cent AS (SELECT label, i, AVG(v[i]) AS mean FROM idx GROUP BY label, i),
d AS (SELECT vec_id, e.label,
             SQRT(SUM((v[i] - mean) * (v[i] - mean))) AS dist
      FROM idx e JOIN cent USING (label, i) GROUP BY vec_id, e.label)
SELECT vec_id, label, ROUND(dist, 4) AS dist
FROM d ORDER BY dist DESC, vec_id LIMIT 25
""")
def embed_centroid_outliers_q(spark, sf_dir):
    """Curation outlier score: distance of each vector to its label
    centroid, top 25 farthest. The centroid table (labels × dim) is
    broadcast, so the scoring pass over the big table is narrow."""
    from vega_spark.functions.embeddings import (
        centroid_distance,
        label_centroids,
    )
    emb = _t(spark, sf_dir, "embeddings")
    cent = label_centroids(emb)
    d = centroid_distance(emb, cent)
    return (d.select("vec_id", "label", F.round("dist", 4).alias("dist"))
            .orderBy(F.desc("dist"), "vec_id").limit(25))


# --- market-basket co-occurrence -------------------------------------------

@_q("cooccurrence_parts", """
WITH baskets AS (
  SELECT l_orderkey AS b, l_partkey AS i FROM lineitem GROUP BY 1, 2
),
pairs AS (
  SELECT x.b, x.i AS item_a, y.i AS item_b
  FROM baskets x JOIN baskets y ON x.b = y.b AND x.i < y.i
)
SELECT item_a, item_b, COUNT(*) AS n_baskets
FROM pairs GROUP BY item_a, item_b HAVING COUNT(*) >= 2
""")
def cooccurrence_parts_q(spark, sf_dir):
    """Parts co-ordered in the same order, >= 2 shared baskets.
    The oracle uses the textbook self-join; our plan contains the
    pair fan-out inside each basket row (no second scan/shuffle of
    the base table, skew capped by max_basket)."""
    from vega_spark.functions.analytics import cooccurrence_pairs
    li = _t(spark, sf_dir, "lineitem")
    return cooccurrence_pairs(li, "l_orderkey", "l_partkey", min_count=2)


# --- TPC-H query-shape coverage (registers on import; see module docs) -----
from vega_spark import registry_tpch  # noqa: E402,F401  (adapted Q2-Q22)


# --- training-pipeline: benchmark decontamination ---------------------------

@_q("decontaminate_against_eval", rf"""
WITH {_DOC_TOKS_CTE},
base AS (
  SELECT doc_id, GREATEST(len(t) - 4, 0) AS n_ngrams
  FROM toks WHERE doc_id % 50 <> 0
),
train_g AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS ngram
  FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)
  WHERE doc_id % 50 <> 0
),
eval_g AS (
  SELECT DISTINCT array_to_string(t[i:i+4], ' ') AS ngram
  FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)
  WHERE doc_id % 50 = 0
),
hits AS (
  SELECT doc_id, COUNT(*) AS n_matched
  FROM train_g JOIN eval_g USING (ngram) GROUP BY doc_id
)
SELECT b.doc_id, b.n_ngrams,
       COALESCE(h.n_matched, 0) AS n_matched,
       COALESCE(h.n_matched, 0) >= 1 AS contaminated
FROM base b LEFT JOIN hits h USING (doc_id)
""", bench=True)
def decontaminate_against_eval_q(spark, sf_dir):
    """Benchmark decontamination: docs with doc_id % 50 == 0 play the
    held-out eval set; every other doc is checked for shared word
    5-grams. Eval n-grams broadcast; one keyed shuffle (per-doc hit
    count)."""
    from vega_spark.functions.decontam import contamination_report
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return contamination_report(train, ev, "text", "doc_id", n=5, threshold=1)


# --- CDC / warehouse: SCD2 dimension build ---------------------------------

# The events c at which a user's event type (their state) changes.
_STATE_CHANGES_CTE = """e AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events),
c AS (
  SELECT user_id, event_type, ts_us, event_id FROM e
  WHERE prev IS NULL OR prev <> event_type)"""


@_q("scd2_user_state", f"""
WITH {_STATE_CHANGES_CTE}
SELECT user_id, event_type AS state, ts_us AS valid_from_us,
       LEAD(ts_us) OVER (PARTITION BY user_id
                         ORDER BY ts_us, event_id) AS valid_to_us,
       LEAD(ts_us) OVER (PARTITION BY user_id
                         ORDER BY ts_us, event_id) IS NULL AS is_current
FROM c
""", bench=True)
def scd2_user_state_q(spark, sf_dir):
    """Type-2 SCD build from the event stream: effective-dated
    event_type runs per user (µs-exact integer validity bounds)."""
    from vega_spark.functions.analytics import scd2_from_events
    ev = _t(spark, sf_dir, "events")
    out = scd2_from_events(ev, "user_id", "event_type", "ts", "event_id")
    return out.select(
        "user_id", "state",
        F.expr("valid_from div 1000").alias("valid_from_us"),
        F.expr("valid_to div 1000").alias("valid_to_us"),
        "is_current")


# --- rolling trailing-interval window (RANGE frame) ------------------------

@_q("rolling_hour_value", """
SELECT event_id,
       ROUND(SUM(value) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 2) AS rolling,
       COUNT(*) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_in_window
FROM events
""", bench=True)
def rolling_hour_value_q(spark, sf_dir):
    """Per-user trailing-1-hour rolling sum/count at every event —
    ANSI RANGE frame over integer microseconds (peer rows included
    identically on both engines)."""
    from vega_spark.functions.analytics import rolling_time_sum
    ev = _t(spark, sf_dir, "events")
    out = rolling_time_sum(ev, "user_id", F.expr("ts div 1000"), "value",
                           3_600_000_000)
    return out.select("event_id", F.round("rolling", 2).alias("rolling"),
                      "n_in_window")


# --- hopping (sliding) event-time windows ----------------------------------

@_q("hopping_window_counts", """
SELECT (CAST(FLOOR(epoch(ts) / 600) AS BIGINT) - k) * 600 AS win_start,
       COUNT(*) AS n, ROUND(SUM(value), 2) AS total
FROM events, unnest([0, 1, 2]) AS t(k)
GROUP BY 1
""")
def hopping_window_counts_q(spark, sf_dir):
    """30-minute windows hopping every 10 minutes (each event lands
    in 3 windows) — F.window with a slide; the oracle replays the
    hop arithmetic. One partial+final agg; fan-out is in-row."""
    ev = _t(spark, sf_dir, "events")
    tsmp = F.timestamp_micros(F.expr("ts div 1000"))
    win = F.window(tsmp, "30 minutes", "10 minutes")
    return (ev.groupBy(win.alias("w"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("total"))
            .select((F.unix_micros(F.col("w.start")) / 1_000_000)
                    .cast("bigint").alias("win_start"), "n", "total"))


# --- data-quality expectations audit ---------------------------------------

@_q("dq_expectations_lineitem", """
WITH n AS (SELECT COUNT(*) AS n_rows FROM lineitem),
v AS (
  SELECT 'quantity_in_1_50' AS check_name,
         SUM(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END)
           AS n_violations FROM lineitem
  UNION ALL
  SELECT 'discount_in_0_0p1',
         SUM(CASE WHEN NOT (l_discount BETWEEN 0 AND 0.1) THEN 1 ELSE 0 END)
    FROM lineitem
  UNION ALL
  SELECT 'shipdate_not_null',
         SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) FROM lineitem
  UNION ALL
  SELECT 'price_positive',
         SUM(CASE WHEN NOT (l_extendedprice > 0) THEN 1 ELSE 0 END)
    FROM lineitem
  UNION ALL
  SELECT 'returnflag_domain',
         SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END)
    FROM lineitem
)
SELECT check_name, n_rows, CAST(n_violations AS BIGINT) AS n_violations,
       ROUND(1 - n_violations / CAST(n_rows AS DOUBLE), 6) AS pass_rate,
       n_violations = 0 AS passed
FROM v, n
""")
def dq_expectations_lineitem_q(spark, sf_dir):
    """Declarative data-quality audit over lineitem: five constraints
    checked in ONE aggregate scan (the oracle's five scans replay the
    same counts)."""
    from vega_spark.operators.stats import expectations_audit
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return expectations_audit(li, [
        ("quantity_in_1_50", q.between(1, 50)),
        ("discount_in_0_0p1", F.col("l_discount").between(0, 0.1)),
        ("shipdate_not_null", F.col("l_shipdate").isNotNull()),
        ("price_positive", F.col("l_extendedprice") > 0),
        ("returnflag_domain", F.col("l_returnflag").isin("A", "N", "R")),
    ])


# --- deterministic train/val/test split ------------------------------------

# A document's split by the first byte of md5(doc_id): train below
# 0xcd, val below 0xe6, test above.
_DOC_SPLIT = """CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
                THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                THEN 'val'
              ELSE 'test' END AS split"""


@_q("split_assign_counts", f"""
WITH s AS (
  SELECT source,
         {_DOC_SPLIT}
  FROM documents
)
SELECT split, source, COUNT(*) AS n FROM s GROUP BY 1, 2
""")
def split_assign_counts_q(spark, sf_dir):
    """Deterministic 80/10/10 hash split (first md5 byte against the
    256-grid thresholds 0xcd/0xe6): same doc → same split on every
    run, engine, and partitioning. Narrow assignment + one tiny
    agg."""
    from vega_spark.operators.sampling import hash_split
    docs = _t(spark, sf_dir, "documents")
    out = hash_split(docs, "doc_id",
                     [("train", 0.8), ("val", 0.1), ("test", 0.1)])
    return out.groupBy("split", "source").agg(F.count(F.lit(1)).alias("n"))


# --- temperature-based mixture rebalancing ---------------------------------

@_q("temperature_resample_langs", """
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
z AS (SELECT SUM(POW(n, 0.5)) AS z FROM c),
q AS (SELECT lang, LEAST(n, CAST(FLOOR(100 * POW(n, 0.5) / z) AS BIGINT) + 1)
               AS quota
      FROM c, z),
r AS (SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
      FROM documents)
SELECT r.lang, COUNT(*) AS n_kept
FROM r JOIN q ON r.lang = q.lang AND r.rn <= q.quota
GROUP BY r.lang
""")
def temperature_resample_langs_q(spark, sf_dir):
    """alpha=0.5 temperature rebalancing across languages (quota ∝
    sqrt(n), the multilingual-LLM mixture scheme), deterministic md5
    pick — output: kept docs per language."""
    from vega_spark.operators.sampling import temperature_resample
    docs = _t(spark, sf_dir, "documents")
    out = temperature_resample(docs, "lang", "doc_id", total=100, alpha=0.5)
    return out.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


# --- per-source distinctive vocabulary (log-odds keyness) ------------------

@_q("keyness_terms_by_lang", r"""
WITH tf AS (
  SELECT lang AS grp, t.term, COUNT(*) AS k_g
  FROM documents,
       unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                          x -> x <> '')) AS t(term)
  GROUP BY 1, 2
),
gt AS (SELECT grp, SUM(k_g) AS n_g FROM tf GROUP BY grp),
ct AS (SELECT term, SUM(k_g) AS k_all FROM tf GROUP BY term),
at_ AS (SELECT SUM(n_g) AS n_all FROM gt),
scored AS (
  SELECT tf.grp, tf.term, tf.k_g,
         ROUND(LN((tf.k_g + 0.5) / (gt.n_g - tf.k_g + 0.5))
               - LN((ct.k_all - tf.k_g + 0.5)
                    / (at_.n_all - gt.n_g - (ct.k_all - tf.k_g) + 0.5)), 6)
           AS keyness
  FROM tf JOIN gt USING (grp) JOIN ct USING (term) CROSS JOIN at_
  WHERE tf.k_g >= 3
),
ranked AS (
  SELECT grp AS lang, term, k_g, keyness,
         ROW_NUMBER() OVER (PARTITION BY grp
                            ORDER BY keyness DESC, term) AS rank
  FROM scored
)
SELECT lang, term, k_g, keyness, rank FROM ranked WHERE rank <= 5
""")
def keyness_terms_by_lang_q(spark, sf_dir):
    """Top-5 distinctive terms per language by smoothed log-odds
    keyness (the templated-content / domain-signature detector)."""
    from vega_spark.functions.analytics import keyness_terms
    docs = _t(spark, sf_dir, "documents")
    return keyness_terms(docs, "text", "lang", top=5, min_count=3)


# --- length-curriculum bucketing -------------------------------------------

@_q("curriculum_length_deciles", """
WITH b AS (
  SELECT lang, n_chars,
         NTILE(10) OVER (PARTITION BY lang
                         ORDER BY n_chars, doc_id) AS bucket
  FROM documents
)
SELECT lang, bucket, COUNT(*) AS n,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM b GROUP BY 1, 2
""")
def curriculum_length_deciles_q(spark, sf_dir):
    """Per-language NTILE(10) length-curriculum buckets with their
    char-length ranges (deterministic tie-break by doc_id)."""
    from vega_spark.functions.pipeline import curriculum_deciles
    docs = _t(spark, sf_dir, "documents")
    out = curriculum_deciles(docs, "n_chars", "lang", "doc_id", 10)
    return (out.groupBy("lang", "bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars")))


# --- bucketed (co-located) join: durable shuffle elision --------------------

@_q("bucketed_join_priority_revenue", """
SELECT o_orderpriority,
       COUNT(*) AS n_lines,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
""", bench=True)
def bucketed_join_priority_revenue_q(spark, sf_dir):
    """Join over BUCKETED tables: both sides are persisted bucketed
    by the join key (8 buckets, sorted), so the sort-merge join needs
    NO Exchange and NO per-query Sort — the reference's co-partitioned
    cogroup elision (co_grouped_rdd.rs:102-126) made durable. The
    bucketing write happens once per (session, sf) and amortizes;
    the .hint("merge") pins SMJ so the bucket layout (not a broadcast)
    is what the plan exercises."""
    import hashlib
    import tempfile

    from vega_spark.operators.layout import write_bucketed_at

    ensure_engine_conf(spark)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    t_o, t_l = f"vega_bkt_orders_{tag}", f"vega_bkt_lineitem_{tag}"
    if not spark.catalog.tableExists(t_o):
        write_bucketed_at(
            _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
            t_o, tempfile.mkdtemp(prefix="vega_bkt_o_"),
            "o_orderkey", 8, sort_col="o_orderkey")
    if not spark.catalog.tableExists(t_l):
        write_bucketed_at(
            _t(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"),
            t_l, tempfile.mkdtemp(prefix="vega_bkt_l_"),
            "l_orderkey", 8, sort_col="l_orderkey")
    o, li = spark.table(t_o), spark.table(t_l)
    j = o.hint("merge").join(
        li, F.col("o_orderkey") == F.col("l_orderkey"))
    return (j.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


# --- Python UDTF surface (Spark 4 table functions) -------------------------

@_q("udtf_sentences", r"""
WITH s AS (
  SELECT doc_id,
         list_filter(
           list_transform(regexp_extract_all(text, '[^.!?]+[.!?]*'),
                          x -> trim(x)),
           x -> x <> '') AS sents
  FROM documents
)
SELECT doc_id, CAST(i - 1 AS INTEGER) AS idx, sents[i] AS sentence,
       CAST(len(list_filter(regexp_split_to_array(sents[i], '\s+'),
                            x -> x <> '')) AS INTEGER) AS n_words
FROM s, unnest(generate_series(1, len(sents))) AS u(i)
""", bench=True, adjudicated={"row-python-udf": (
    "Spark UDTFs are row-based by API design (BatchEvalPythonUDTF "
    "has no Arrow variant for lateral joins in 4.1); the "
    "vectorized alternative (explode over a pandas-UDF split) is "
    "documented next to the operator")})
def udtf_sentences_q(spark, sf_dir):
    """LATERAL Python UDTF: one row per sentence per document (the
    reference's flat_map-closure shape as a Spark 4 table function;
    the oracle replays the same RE2-safe segmentation in SQL)."""
    from vega_spark.functions.udtfs import sentences_table
    docs = _t(spark, sf_dir, "documents")
    return sentences_table(spark, docs, "text", "doc_id")


# --- sequence packing (token-budget training bins) -------------------------

@_q("pack_sequences_manifest", r"""
WITH t AS (
  SELECT lang, doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x <> '')) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
b AS (
  SELECT lang, n_tokens,
         CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / 512.0) AS INTEGER) AS bin
  FROM t
)
SELECT lang, bin, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_in_bin
FROM b GROUP BY 1, 2
""", bench=True)
def pack_sequences_manifest_q(spark, sf_dir):
    """Streaming sequence packing into 512-token bins per language
    (deterministic md5 order, exclusive-cumsum boundary rule) —
    manifest of docs/tokens per bin."""
    from vega_spark.functions.pipeline import pack_sequences
    docs = _t(spark, sf_dir, "documents")
    out = pack_sequences(docs, 512, "lang", "doc_id", "text")
    return (out.groupBy("lang", "bin")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("tokens_in_bin")))


# --- end-to-end: training shard manifest -----------------------------------

@_q("training_shard_manifest", f"""
WITH s AS (
  SELECT doc_id,
         {_DOC_SPLIT}
  FROM documents
),
r AS (
  SELECT split,
         ROW_NUMBER() OVER (PARTITION BY split
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rn
  FROM s
)
SELECT split, CAST(FLOOR((rn - 1) / 50) AS INTEGER) AS shard,
       COUNT(*) AS n_docs
FROM r GROUP BY 1, 2
""")
def training_shard_manifest_q(spark, sf_dir):
    """Compose the deterministic split with 50-doc shard assignment
    (md5 order within split) — the manifest a training dataloader
    consumes. Rank → WindowGroupLimit-free full pass; one exchange
    per split window + tiny agg."""
    from pyspark.sql import Window

    from vega_spark.operators.sampling import hash_split
    docs = _t(spark, sf_dir, "documents")
    s = hash_split(docs.select("doc_id"), "doc_id")
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = Window.partitionBy("split").orderBy(h.asc(), F.col("doc_id").asc())
    return (s.withColumn("rn", F.row_number().over(w))
            .withColumn("shard", F.floor((F.col("rn") - 1) / 50).cast("int"))
            .groupBy("split", "shard")
            .agg(F.count(F.lit(1)).alias("n_docs")))


# --- iterative graph: PageRank with an unrolled-superstep oracle -----------

@_q("pagerank_part_affinity", f"""
WITH {_PART_PAIRS_CTE},
sym AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
r0 AS (SELECT u, CAST(1000000000 AS BIGINT) AS m FROM deg),
r1 AS (SELECT s.v AS u,
              CAST(150000000 + (17 * SUM(r.m // d.deg)) // 20 AS BIGINT) AS m
       FROM sym s JOIN r0 r ON s.u = r.u JOIN deg d ON s.u = d.u
       GROUP BY s.v),
r2 AS (SELECT s.v AS u,
              CAST(150000000 + (17 * SUM(r.m // d.deg)) // 20 AS BIGINT) AS m
       FROM sym s JOIN r1 r ON s.u = r.u JOIN deg d ON s.u = d.u
       GROUP BY s.v),
r3 AS (SELECT s.v AS u,
              CAST(150000000 + (17 * SUM(r.m // d.deg)) // 20 AS BIGINT) AS m
       FROM sym s JOIN r2 r ON s.u = r.u JOIN deg d ON s.u = d.u
       GROUP BY s.v)
SELECT u AS node, m AS microrank FROM r3
""", bench=True)
def pagerank_part_affinity_q(spark, sf_dir):
    """PageRank (3 supersteps, d=0.85) over the part-co-order affinity
    graph — an ITERATIVE algorithm whose oracle unrolls the identical
    supersteps as chained CTEs (k-means is rows-only; this one is
    value-checked). Each superstep: edges ⋈ ranks keyed shuffle +
    one aggregate.

    Fixed-point BIGINT micro-ranks (scale 1e9, damping 17/20 via
    integer DIV — graph.pagerank(fixed_point=True)): the double
    chain's rational ranks (degree-1/2 chains) land within an ulp of
    decimal half-way points where the engines round apart (observed
    at sf0.1: 1.3708125 rounded 1370813 vs 1370812); integer
    recurrence replays bit-exactly in ANY engine at ANY scale."""
    from vega_spark.functions.analytics import cooccurrence_pairs
    from vega_spark.functions.graph import pagerank
    li = _t(spark, sf_dir, "lineitem")
    edges = cooccurrence_pairs(li, "l_orderkey", "l_partkey", min_count=2,
                               max_basket=200)
    out = pagerank(edges, "item_a", "item_b", iters=3, damping=0.85,
                   fixed_point=True)
    return out.select("node", "microrank")


@_q("window_rank_stats", """
SELECT o_orderkey,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
       ROUND(CUME_DIST() OVER w, 6) AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey)
""")
def window_rank_stats_q(spark, sf_dir):
    """Full ranking-function sweep (rank / dense_rank / percent_rank
    / cume_dist) in ONE window pass — four functions share one
    exchange + sort."""
    from pyspark.sql.window import Window as W
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return o.select(
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cume"))


# --- table-version diff (anti-entropy reconcile) ---------------------------

@_q("table_diff_orders", """
WITH newt AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 101 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_totalprice
  FROM orders WHERE o_orderkey % 103 = 0
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
            WHEN n.o_orderkey IS NULL THEN 'deleted'
            WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
              THEN 'changed'
            ELSE 'unchanged' END AS change_type
FROM orders o FULL JOIN newt n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
   OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
""", bench=True)
def table_diff_orders_q(spark, sf_dir):
    """Diff two synthetic versions of orders (deterministic deletes
    %101, price bumps %97, key-shifted inserts %103): digest-reduced
    full-outer join, classified per key."""
    from vega_spark.operators.merge import table_diff
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    new = (o.filter(k % 101 != 0)
           .withColumn("o_totalprice",
                       F.when(k % 97 == 0, F.col("o_totalprice") + 1)
                       .otherwise(F.col("o_totalprice"))))
    ins = (o.filter(k % 103 == 0)
           .withColumn("o_orderkey", k + 10_000_000))
    new = new.unionByName(ins)
    return table_diff(o, new, ["o_orderkey"], ["o_totalprice"])


# --- bloom-gated incremental dedup (runtime-filter pattern) ----------------

@_q("dedup_incremental_bloom", _incremental_dedup_sql(5), bench=True)
def dedup_incremental_bloom_q(spark, sf_dir):
    """Incremental dedup gated by a hand-built distributed Bloom
    filter: the corpus digest set compresses to a ~16 KB bit array
    broadcast to every probe task; only bloom HITS (tiny fraction)
    reach the exact verification anti-join, so the join's build side
    at 100 TB is the corpus but its PROBE side shrinks from the whole
    batch to candidate dups. No false negatives → result is exactly
    the plain anti-join (same oracle shape as dedup_incremental)."""
    from pyspark.sql.window import Window as W

    from vega_spark.functions.dedup import content_digest
    from vega_spark.operators.sketches import bloom_build, bloom_probe

    docs = _t(spark, sf_dir, "documents")
    cols = docs.columns
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corp_d = corpus.select(content_digest("text").alias("d"))
    bf = bloom_build(corp_d, "d")
    probed = bloom_probe(
        batch.withColumn("d", content_digest("text")), bf, "d")
    definitely_new = probed.filter(~F.col("bloom_hit"))
    verified_new = (probed.filter(F.col("bloom_hit"))
                    .join(corp_d, "d", "left_anti"))
    new = definitely_new.unionByName(verified_new)
    w = W.partitionBy("d").orderBy("doc_id")
    return (new.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select(*cols))


# --- custom Python DataSource (reference read_source mapping) --------------

@_q("near_dup_incremental_lsh", """
SELECT (SELECT COUNT(*) FROM documents WHERE doc_id % 4 = 0)
       + (SELECT COUNT(*) FROM documents WHERE doc_id % 8 = 1)
         AS n_batch,
       (SELECT COUNT(*) FROM documents WHERE doc_id % 8 = 1)
         AS n_recrawled,
       1 AS batch_covered, 1 AS recrawled_matched
""", bench=True)
def near_dup_incremental_lsh_q(spark, sf_dir):
    """Incremental NEAR-dup against a persisted MinHash-LSH index —
    the continuous-crawl companion to dedup_incremental (which is
    exact-hash only): the historical corpus is reduced once to
    (signatures, banded buckets); each new batch computes signatures,
    probes the bucket table with ONE equi-join, and lane-verifies
    candidates against stored signatures. Corpus text is never
    rescanned. Re-crawled copies (identical text under fresh ids,
    the dominant real-world dup class) match on all lanes and are
    flagged; fresh text passes.

    Contract surface (MinHash lanes are not SQL-expressible, but
    their guarantees are): every re-crawled doc — an exact text copy
    — must be flagged with an ALL-LANE match (identical text gives
    identical signatures, est_jaccard 1.0; the matched doc may be any
    signature-identical cluster member, e.g. a word-reordered planted
    near-dup whose distinct-shingle set coincides — observed at
    sf0.001), and every batch row must appear exactly once. Batch
    composition counts are SQL-pinned; the flags are engine-computed.
    Per-lane determinism stays pinned by unit tests."""
    from vega_spark.functions.dedup import (lsh_index,
                                            near_dup_against_index)

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    recrawled = (corpus.filter(F.col("doc_id") % 8 == 1)
                 .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000)))
    batch = docs.filter(F.col("doc_id") % 4 == 0).unionByName(recrawled)
    sigs, buckets = lsh_index(corpus, "text", "doc_id")
    # NOT materialized (r9 opt round, measured): the two downstream
    # aggregates share the probe pipeline's internal exchanges via
    # runtime exchange reuse, so one action computes it once; an
    # eager localCheckpoint here read 1.3s -> 2.3s (A/B'd in-session).
    flags = near_dup_against_index(batch, sigs, buckets, "text", "doc_id",
                                   threshold=0.7)
    rec = flags.filter(F.col("doc") >= 10_000_000)
    rec_agg = rec.agg(
        F.count(F.lit(1)).alias("n_recrawled"),
        (F.count(F.lit(1)) ==
         F.count(F.when(F.col("is_near_dup")
                        & (F.col("est_jaccard") >= 1.0), 1)))
        .cast("int").alias("recrawled_matched"))
    cover = (flags.agg(F.count(F.lit(1)).alias("__rows"),
                       F.count_distinct("doc").alias("__docs"))
             .crossJoin(batch.agg(F.count(F.lit(1)).alias("n_batch"))))
    return (cover.crossJoin(rec_agg).select(
        "n_batch", "n_recrawled",
        ((F.col("__rows") == F.col("n_batch"))
         & (F.col("__docs") == F.col("n_batch"))).cast("int")
        .alias("batch_covered"),
        "recrawled_matched"))


@_q("custom_source_events", """
WITH g AS (
  SELECT range AS i,
         (range * 2654435761) % 97 AS user_id,
         CASE range % 3 WHEN 0 THEN 'view' WHEN 1 THEN 'click'
              ELSE 'purchase' END AS event_type,
         ROUND(CAST((range % 1000) * 0.25 AS DOUBLE), 2) AS value
  FROM range(0, 5000)
)
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total,
       COUNT(DISTINCT user_id) AS n_users
FROM g GROUP BY event_type
""", bench=True)
def custom_source_events_q(spark, sf_dir):
    """Read through the registered Python DataSource ("vega_synth"):
    partition planning on the driver, per-partition decode on
    executors — the reference's read_source(config, decoder) shape on
    Spark 4's connector API. Generation is pure index arithmetic, so
    the oracle replays it from range()."""
    from vega_spark.sources.custom_source import register
    ensure_engine_conf(spark)
    register(spark)
    df = (spark.read.format("vega_synth")
          .option("rows", 5000).option("partitions", 8).load())
    return (df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("total"),
                 F.count_distinct("user_id").alias("n_users")))


# --- partitioned layout + partition pruning --------------------------------

_PARTITIONED_EVENTS: dict[tuple[str, str], tuple[str, StructType]] = {}


@_q("partitioned_scan_prune", """
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
FROM events
WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16'
GROUP BY event_type
""", bench=True)
def partitioned_scan_prune_q(spark, sf_dir):
    """Hive-style partitioned layout + partition PRUNING: events are
    written once per (session, sf) partitioned by event_date; the
    day-filter then binds to the directory structure, so the scan
    lists ONE date directory out of 30 — at 100 TB this is the
    difference between scanning ~3 TB and 100 TB, before any row
    filter runs. (The pruning is asserted in test_plans; the oracle
    replays the equivalent ts-range filter over the flat table.)
    The copy's schema is inferred once, beside its path, so later
    builds re-read it without a schema-inference job."""
    import tempfile

    ensure_engine_conf(spark)
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PARTITIONED_EVENTS:
        path = tempfile.mkdtemp(prefix="vega_part_events_")
        ev = _t(spark, sf_dir, "events")
        (ev.withColumn("event_date", ts_date("ts").cast("string"))
         .write.mode("overwrite").partitionBy("event_date").parquet(path))
        _PARTITIONED_EVENTS[key] = (path, spark.read.parquet(path).schema)
    path, schema = _PARTITIONED_EVENTS[key]
    df = spark.read.schema(schema).parquet(path)
    return (df.filter(F.col("event_date") == "2024-01-15")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("total")))


# --- ANN kernel on mapInArrow (same oracle as the JVM kernel) --------------

@_q("ann_cosine_topk_arrow", ORACLES["ann_cosine_topk"])
def ann_cosine_topk_arrow_q(spark, sf_dir):
    """Identical query to ann_cosine_topk but with the scoring kernel
    as a numpy matmul over mapInArrow batches + map-side local top-k
    — value-identical (same oracle), different physical path."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return X_sim.cosine_topk_arrow(emb, queries, k=5,
                                   id_col="vec_id",
                                   vec_col="embedding",
                                   query_id_col="query_id")


# --- distribution drift monitor (PSI) --------------------------------------

@_q("drift_psi_event_values", """
WITH b AS (
  SELECT event_type AS grp,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'base'
              ELSE 'compare' END AS period,
         CAST(LEAST(GREATEST(FLOOR(value / 50.0), 0), 9) AS INTEGER) AS bin
  FROM events
),
c AS (SELECT grp, period, bin, COUNT(*) AS n FROM b GROUP BY 1, 2, 3),
t AS (SELECT grp, period, SUM(n) AS tot FROM c GROUP BY 1, 2),
f AS (SELECT c.grp, c.period, c.bin, c.n / CAST(t.tot AS DOUBLE) AS f
      FROM c JOIN t ON c.grp = t.grp AND c.period = t.period),
p AS (SELECT grp, bin, f AS p FROM f WHERE period = 'base'),
q AS (SELECT grp, bin, f AS q FROM f WHERE period = 'compare'),
j AS (SELECT COALESCE(p.grp, q.grp) AS grp,
             COALESCE(p.p, 0) AS p, COALESCE(q.q, 0) AS q
      FROM p FULL JOIN q ON p.grp = q.grp AND p.bin = q.bin)
SELECT grp AS event_type,
       ROUND(SUM((p - q) * LN((p + 1e-6) / (q + 1e-6))), 6) AS psi
FROM j GROUP BY grp
""", bench=True)
def drift_psi_event_values_q(spark, sf_dir):
    """Population Stability Index of the value distribution per
    event_type, first half of January vs second half (10 fixed bins
    over [0, 500)) — the standard input-drift alarm for a serving/
    training pipeline. Count shuffle at (group, period, bin)
    cardinality; everything after is constant-size."""
    from vega_spark.functions.analytics import drift_psi
    ev = _t(spark, sf_dir, "events")
    period = F.when(
        F.col("ts") < F.lit(1_705_363_200 * 10**9).cast("long"),
        "base").otherwise("compare")
    return drift_psi(ev, "event_type", "value", period,
                     lo=0.0, hi=500.0, n_bins=10)


# --- vocabulary build + order-preserving token-id encoding -----------------

@_q("encode_docs_vocab1k", rf"""
WITH {_DOC_TOKS_CTE},
tf AS (
  SELECT u.term, COUNT(*) AS n FROM toks, unnest(t) AS u(term)
  GROUP BY u.term
),
vocab AS (
  SELECT term, token_id FROM (
    SELECT term, n, ROW_NUMBER() OVER (ORDER BY n DESC, term) AS token_id
    FROM tf)
  WHERE token_id <= 1000
),
pos AS (
  SELECT doc_id, i, t[i] AS term
  FROM toks, unnest(generate_series(1, len(t))) AS u(i)
),
enc AS (
  SELECT p.doc_id, p.i,
         CAST(COALESCE(v.token_id, 0) AS INTEGER) AS tid
  FROM pos p LEFT JOIN vocab v ON p.term = v.term
),
g AS (SELECT doc_id, list(tid ORDER BY i) AS token_ids FROM enc
      GROUP BY doc_id)
SELECT toks.doc_id,
       array_to_string(COALESCE(g.token_ids, CAST([] AS INTEGER[])),
                       ' ') AS token_ids
FROM toks LEFT JOIN g USING (doc_id)
""", bench=True)
def encode_docs_vocab1k_q(spark, sf_dir):
    """Corpus id-ification: frequency-ranked 1k vocabulary (ties by
    term → deterministic ids), then an order-preserving narrow encode
    via ONE broadcast map literal — no explode/join/shuffle on the
    corpus side. OOV → 0.

    Contract shape (r5 verdict #1): the driver harness canonicalizes
    with pandas sort_values, which crashes on array cells — so the
    id sequence ships as ONE space-joined string (order-preserving,
    value-exact, atomic), mirrored by array_to_string in the oracle.
    """
    from vega_spark.functions.text import build_vocab, encode_tokens
    docs = _t(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "text", size=1000)
    enc = encode_tokens(docs, vocab, "text", "doc_id")
    return enc.select(
        "doc_id",
        F.array_join(F.transform("token_ids",
                                 lambda x: x.cast("string")), " ")
        .alias("token_ids"))


# --- as-of join, forward direction with tolerance --------------------------

@_q("asof_join_forward_tolerance", """
WITH r AS (
  SELECT user_id, ts, MAX(value) AS next_purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
),
m AS (
  SELECT l.event_id, l.user_id, l.ts,
         (SELECT MIN(r.ts) FROM r
          WHERE r.user_id = l.user_id AND r.ts >= l.ts) AS mts
  FROM events l
)
SELECT m.event_id, m.user_id, r.next_purchase_value
FROM m JOIN r ON r.user_id = m.user_id AND r.ts = m.mts
WHERE m.mts - m.ts <= INTERVAL 1 HOUR
""", bench=True)
def asof_join_forward_tolerance_q(spark, sf_dir):
    """FORWARD as-of with a 1-hour tolerance: each event picks the
    user's next purchase at-or-after it, but only if it lands within
    the hour (pandas merge_asof semantics). Same single-shuffle
    union+window plan as the backward variant — the oracle replays it
    with a correlated MIN subquery."""
    ev = _t(spark, sf_dir, "events")
    right = (ev.filter(F.col("event_type") == "purchase")
             .groupBy("user_id", "ts")
             .agg(F.max("value").alias("next_purchase_value")))
    left = ev.select("event_id", "user_id", "ts")
    out = J.asof_join(left, right, ["user_id"], "ts",
                      ["next_purchase_value"], how="inner",
                      direction="forward", tolerance=3600 * 10**9)
    return out.select("event_id", "user_id", "next_purchase_value")


# --- N-ary cogroup (reference CoGroupedRdd arity > 2) ----------------------

@_q("cogroup_three_way", """
WITH c AS (SELECT c_nationkey AS key,
                  array_to_string(list_sort(list(c_name)), ',') AS values_0
           FROM customer GROUP BY 1),
s AS (SELECT s_nationkey AS key,
             array_to_string(list_sort(list(s_name)), ',') AS values_1
      FROM supplier GROUP BY 1),
n AS (SELECT n_nationkey AS key,
             array_to_string(list_sort(list(n_name)), ',') AS values_2
      FROM nation GROUP BY 1)
SELECT COALESCE(c.key, s.key, n.key) AS key,
       COALESCE(values_0, '') AS values_0,
       COALESCE(values_1, '') AS values_1,
       COALESCE(values_2, '') AS values_2
FROM c FULL JOIN s ON c.key = s.key
       FULL JOIN n ON COALESCE(c.key, s.key) = n.key
""")
def cogroup_three_way_q(spark, sf_dir):
    """3-way cogroup by nation key: customer names, supplier names,
    and the nation name grouped per key in one pass (values sorted so
    both engines agree on array order). Groups ship comma-joined —
    the driver canonicalizer needs atomic columns (r5 verdict #2),
    same contract shape as the green 2-way ``cogroup``."""
    cg = J.cogroup_n([
        (_t(spark, sf_dir, "customer"), "c_nationkey", "c_name"),
        (_t(spark, sf_dir, "supplier"), "s_nationkey", "s_name"),
        (_t(spark, sf_dir, "nation"), "n_nationkey", "n_name"),
    ])
    return cg.select("key", *[
        F.array_join(F.col(c), ",").alias(c)
        for c in ("values_0", "values_1", "values_2")])


# --- unionByName with missing columns / modern aggregate surface -----------

@_q("union_by_name_missing", """
SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority FROM orders
WHERE o_orderkey % 100 = 0
UNION ALL
SELECT o_orderkey, NULL AS o_totalprice, o_orderpriority FROM orders
WHERE o_orderkey % 100 = 1
""")
def union_by_name_missing_q(spark, sf_dir):
    """unionByName(allowMissingColumns=True): schema-evolving bag
    union — each side's missing columns fill with NULL (the
    capability gap a fixed-schema union can't cover when sources
    evolve)."""
    o = _t(spark, sf_dir, "orders")
    a = (o.filter(F.col("o_orderkey") % 100 == 0)
         .select("o_orderkey", "o_totalprice"))
    b = (o.filter(F.col("o_orderkey") % 100 == 1)
         .select("o_orderkey", "o_orderpriority"))
    return a.unionByName(b, allowMissingColumns=True)


@_q("modern_aggregates", """
SELECT l_returnflag,
       ROUND(MEDIAN(l_quantity), 4) AS med_qty,
       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_deep_discount,
       BOOL_AND(l_quantity >= 1) AS all_qty_positive,
       BOOL_OR(l_discount = 0) AS any_zero_discount
FROM lineitem GROUP BY l_returnflag
""")
def modern_aggregates_q(spark, sf_dir):
    """Modern aggregate surface in one pass: MEDIAN (interpolated —
    same quantile_cont semantics both engines), conditional COUNT
    (FILTER), and BOOL_AND/BOOL_OR — all fold into the same
    partial+final HashAggregate."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 4).alias("med_qty"),
        F.count_if(F.col("l_discount") > 0.05).alias("n_deep_discount"),
        F.bool_and(F.col("l_quantity") >= 1).alias("all_qty_positive"),
        F.bool_or(F.col("l_discount") == 0).alias("any_zero_discount")))


# --- forward-fill imputation (last non-null over time) ---------------------

@_q("forward_fill_values", """
SELECT event_id, user_id,
       ROUND(LAST_VALUE(CASE WHEN event_type <> 'view' THEN value END
                        IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS filled_value
FROM events
""")
def forward_fill_values_q(spark, sf_dir):
    """Forward-fill imputation: treat 'view' events' values as
    missing and carry the user's last real value forward — one
    last(ignorenulls) window over a single (user) exchange, the
    canonical gap-repair primitive for sensor/event feeds."""
    from pyspark.sql.window import Window as W
    ev = _t(spark, sf_dir, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    masked = F.when(F.col("event_type") != "view", F.col("value"))
    return ev.select(
        "event_id", "user_id",
        F.round(F.last(masked, ignorenulls=True).over(w), 2)
        .alias("filled_value"))


# --- resample to a regular time grid with forward fill ---------------------

@_q("resample_hourly_grid", """
WITH e AS (
  SELECT user_id,
         CAST(EXTRACT(epoch FROM date_trunc('hour', ts)) AS BIGINT) AS hb,
         ts, event_id, value
  FROM events
),
hourly AS (
  SELECT user_id, hb, value AS v FROM (
    SELECT user_id, hb, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, hb
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM e) WHERE rn = 1
),
span AS (SELECT user_id, MIN(hb) AS a, MAX(hb) AS b FROM e GROUP BY 1),
grid AS (SELECT user_id, unnest(generate_series(a, b, 3600)) AS hb
         FROM span),
j AS (SELECT g.user_id, g.hb, h.v
      FROM grid g LEFT JOIN hourly h USING (user_id, hb))
SELECT user_id, hb AS hour_start_s,
       ROUND(LAST_VALUE(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY hb
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS value
FROM j
""")
def resample_hourly_grid_q(spark, sf_dir):
    """Resample each user's events to a REGULAR hourly grid (their
    min..max hour), carrying the hour's last value forward across
    empty hours — the time-series regularization step before any
    grid-based model. Plan: per-(user, hour) last via max_by (one
    exchange), grid fan-out narrowly from a sequence() per user, one
    more (user)-keyed window for the fill."""
    from pyspark.sql.window import Window as W
    ev = _t(spark, sf_dir, "events")
    hb = ts_hour_bucket_epoch_s("ts")
    e = ev.select("user_id", hb.alias("hb"), "ts", "event_id", "value")
    hourly = (e.groupBy("user_id", "hb")
              .agg(F.max_by("value", F.struct("ts", "event_id")).alias("v")))
    span = e.groupBy("user_id").agg(F.min("hb").alias("a"),
                                    F.max("hb").alias("b"))
    grid = span.select(
        "user_id",
        F.explode(F.sequence("a", "b", F.lit(3600).cast("bigint")))
        .alias("hb"))
    j = grid.join(hourly, ["user_id", "hb"], "left")
    w = (W.partitionBy("user_id").orderBy("hb")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return j.select(
        "user_id", F.col("hb").alias("hour_start_s"),
        F.round(F.last("v", ignorenulls=True).over(w), 2).alias("value"))


# ---------------------------------------------------------------------------
# §2 driver-visibility entries (VERDICT r01 "What's missing" #2): the
# previously unit-test-only actions/sources, each surfaced as a
# registry query so the driver's CORRECTNESS gate sees them.
# ---------------------------------------------------------------------------

@_q("is_empty_flags", """
SELECT (SELECT COUNT(*) FROM region WHERE r_regionkey < 0) = 0
         AS empty_when_filtered,
       (SELECT COUNT(*) FROM region) = 0 AS empty_full_table
""", bench=True)
def is_empty_flags_q(spark, sf_dir):
    """``is_empty`` action (reference rdd.rs:1071-1078) on an
    impossible filter (True) and the full table (False); the two
    driver-side booleans return as a one-row frame. is_empty plans as
    take(1) — it never scans past the first non-empty partition."""
    from vega_spark.operators.actions import is_empty
    r = _t(spark, sf_dir, "region")
    return spark.createDataFrame(
        [(is_empty(r.filter(F.col("r_regionkey") < 0)), is_empty(r))],
        "empty_when_filtered boolean, empty_full_table boolean")


@_q("save_text_roundtrip", """
SELECT COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
       MIN(n_name) AS first_name, MAX(n_name) AS last_name
FROM nation
""", bench=True)
def save_text_roundtrip_q(spark, sf_dir):
    """``save_as_text_file`` (reference rdd.rs:254-272) + read-back:
    write nation keys/names as text (one part file per partition,
    like the reference), re-read with an explicit schema, aggregate.
    The values surviving the round trip IS the check. Temp dir is
    per-SF so the warm-up pass can't clobber the timed one."""
    import os
    import tempfile

    from vega_spark.operators.actions import save_as_text
    from vega_spark.sources.readers import read_csv
    n = _t(spark, sf_dir, "nation")
    path = os.path.join(tempfile.gettempdir(), "vega_spark_io",
                        f"text_rt_{os.path.basename(sf_dir.rstrip('/'))}")
    save_as_text(n.select("n_nationkey", "n_name"), path)
    back = read_csv(spark, path, "n_nationkey int, n_name string")
    return back.agg(F.count(F.lit(1)).alias("n_rows"),
                    F.sum("n_nationkey").alias("key_sum"),
                    F.min("n_name").alias("first_name"),
                    F.max("n_name").alias("last_name"))


@_q("save_parquet_partitioned_roundtrip", """
SELECT o_orderstatus, COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY 1
""", bench=True)
def save_parquet_partitioned_roundtrip_q(spark, sf_dir):
    """Parquet sink superset of save_as_text_file: write orders
    partitioned by status (directory layout downstream readers prune
    on), read back, aggregate per partition value. Checks the writer
    round-trips values AND the partition column itself."""
    import os
    import tempfile

    from vega_spark.operators.actions import save_as_parquet
    from vega_spark.sources.readers import read_parquet
    o = _t(spark, sf_dir, "orders")
    path = os.path.join(tempfile.gettempdir(), "vega_spark_io",
                        f"pq_rt_{os.path.basename(sf_dir.rstrip('/'))}")
    out = o.select("o_orderkey", "o_totalprice", "o_orderstatus")
    save_as_parquet(out, path, partition_by=["o_orderstatus"])
    back = read_parquet(spark, path, schema=out.schema)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"))


@_q("take_sample_contract", """
SELECT CAST(20 AS BIGINT) AS n_sampled, CAST(20 AS BIGINT) AS n_distinct,
       CAST(20 AS BIGINT) AS n_in_source
""", bench=True)
def take_sample_contract_q(spark, sf_dir):
    """``take_sample`` (reference rdd.rs:704-783, seeded driver-side
    pick with the same oversampling math). The sampled VALUES are
    RNG-specific, so the oracle pins the contract instead: exactly
    ``num`` rows, no duplicates (without replacement), all drawn from
    the source. Those three invariants are what the reference's own
    tests assert (tests/test_rdd.rs:325-351)."""
    from vega_spark.operators.sampling import take_sample
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    rows = take_sample(c, with_replacement=False, num=20, seed=7)
    ids = [r["c_custkey"] for r in rows]
    sampled = spark.createDataFrame([(i,) for i in ids], "c_custkey bigint")
    matched = sampled.join(c, "c_custkey", "left_semi")
    return spark.range(1).select(
        F.lit(len(ids)).cast("bigint").alias("n_sampled"),
        F.lit(len(set(ids))).cast("bigint").alias("n_distinct"),
        F.lit(matched.count()).cast("bigint").alias("n_in_source"))


@_q("for_each_observe_metrics", """
SELECT COUNT(*) AS n_rows, ROUND(SUM(l_quantity), 2) AS qty_sum,
       CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_discounted
FROM lineitem
""", bench=True)
def for_each_observe_metrics_q(spark, sf_dir):
    """``for_each`` / accumulator pattern (reference rdd.rs:785-803;
    its accumulator field is an unfinished stub) via the Spark-native
    side channel: ``df.observe`` metrics collected DURING a foreach
    pass — zero extra scans, merged on the driver like task
    accumulators on a real cluster."""
    from vega_spark.operators.actions import (
        for_each_consume,
        with_observed_metrics,
    )
    li = _t(spark, sf_dir, "lineitem")
    observed, fetch = with_observed_metrics(
        li, "foreach_metrics",
        n_rows=F.count(F.lit(1)),
        qty_sum=F.round(F.sum("l_quantity"), 2),
        n_discounted=F.sum((F.col("l_discount") > 0.05).cast("long")))
    # the for_each pass: the noop sink consumes every row distributed
    # and executes the DataFrame plan (df.foreach's RDD detour would
    # bypass CollectMetrics and block fetch() forever)
    for_each_consume(observed)
    m = fetch()
    return spark.createDataFrame(
        [(m["n_rows"], float(m["qty_sum"]), m["n_discounted"])],
        "n_rows bigint, qty_sum double, n_discounted bigint")


@_q("cache_reuse_scan_count", """
SELECT 1 AS uncached_rescans, 1 AS cached_lt_uncached
""", bench=True)
def cache_reuse_scan_count_q(spark, sf_dir):
    """Cache/persist re-use contract (reference rdd.rs:57,72-76 —
    `should_cache` exists there but is never wired into execution;
    the VegaDataset.cache facade finishes it on Spark's storage
    layer). The win is MEASURED, not asserted: an Arrow-batched
    row-counting UDF feeds a task accumulator, so the number of
    source evaluations is observable. Two actions over the uncached
    frame re-execute the scan+UDF both times (counter >= 2n); two
    actions over the .cache()d frame execute it once — the first
    action materializes the InMemoryRelation, the second is served
    from it. The contract pins INEQUALITIES, not exact multiples
    (r5 ADVICE): accumulator updates from a transformation-stage UDF
    are not exactly-once — a task retry or speculative run
    double-counts, so ``acc == 2n`` exactly would fail spuriously;
    ``acc_u >= 2n`` and ``acc_c < acc_u`` hold under retries and
    still pin the cache win."""
    from vega_spark.dataset import VegaDataset
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    # n is the raw lineitem row count, used only in the accumulator
    # inequalities — parquet footer stats instead of a count job
    # (r9 opt, the footer_rows estimator pattern; identical value by
    # construction, count() fallback when footers are unreadable)
    meta_n = footer_rows(sf_dir, "lineitem")
    n = li.count() if meta_n is None else meta_n
    sc = spark.sparkContext

    def counting_probe():
        acc = sc.accumulator(0)

        @F.pandas_udf("long")
        def seen(s: pd.Series) -> pd.Series:
            acc.add(len(s))
            return s

        return acc, li.select(seen("l_orderkey").alias("k"))

    acc_u, probe_u = counting_probe()
    probe_u.agg(F.sum("k")).collect()
    probe_u.agg(F.count("k")).collect()

    acc_c, probe_c = counting_probe()
    cached = VegaDataset(probe_c).cache()
    try:
        cached.df.agg(F.sum("k")).collect()
        cached.df.agg(F.count("k")).collect()
    finally:
        cached.df.unpersist()

    return spark.createDataFrame(
        [(int(acc_u.value >= 2 * n), int(acc_c.value < acc_u.value))],
        "uncached_rescans int, cached_lt_uncached int")


@_q("read_whole_files_dir", """
SELECT * FROM (VALUES ('alpha.txt', CAST(14 AS BIGINT), 'alpha-contents'),
                      ('beta.txt',  CAST(13 AS BIGINT), 'beta-contents')
              ) AS t(file_name, length, content)
""", bench=True)
def read_whole_files_dir_q(spark, sf_dir):
    """LocalFsReader whole-file-bytes mode (reference
    local_file_reader.rs:20-100): deterministic files written to a
    temp dir, read via the binaryFile source (path, length, content
    per file — the reference's (path, bytes) pairs plus metadata),
    decoded and compared byte-for-byte via the constant-table
    oracle."""
    import os
    import tempfile

    from vega_spark.sources.readers import read_whole_files
    d = os.path.join(tempfile.gettempdir(), "vega_spark_io", "whole_files")
    os.makedirs(d, exist_ok=True)
    for name, content in (("alpha.txt", "alpha-contents"),
                          ("beta.txt", "beta-contents")):
        with open(os.path.join(d, name), "w") as f:
            f.write(content)
    files = read_whole_files(spark, d, glob="*.txt")
    return files.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("length"),
        F.col("content").cast("string").alias("content"))


@_q("streaming_stream_static_join", """
SELECT c.c_mktsegment, e.event_type, COUNT(*) AS n,
       ROUND(SUM(e.value), 2) AS total
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""", bench=True)
def streaming_stream_static_join_q(spark, sf_dir):
    """Stream-static enrichment end-to-end: readStream over staged
    events, broadcast join to the customer dimension (re-resolved per
    micro-batch), windowless keyed aggregate, AvailableNow drain. The
    batch join SQL is the oracle — stream-static inner join with a
    complete-mode agg is exactly batch-equivalent.

    Scale shape: the stream side never shuffles for the join
    (broadcast); only the (segment, type) agg exchanges — identical
    on a 1000-executor continuous job."""
    import tempfile

    from vega_spark.streaming import sources as SS
    from vega_spark.streaming.joins import stream_static_join

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    stage = tempfile.mkdtemp(prefix="vega_stream_ssj_")
    # few, large arrival files: the AvailableNow drain then runs a
    # handful of micro-batches instead of one per tiny part file
    (ev.select("event_id", "user_id", "event_type", "value")
       .coalesce(8).write.mode("overwrite").parquet(stage))

    def build(s):
        stream = SS.stream_parquet(
            s, stage,
            "event_id long, user_id long, event_type string, value double")
        joined = stream_static_join(stream, cust,
                                    F.col("user_id") == F.col("c_custkey"))
        return (joined.groupBy("c_mktsegment", "event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.round(F.sum("value"), 2).alias("total")))
    return SS.drain_to_memory(spark, build, stage, output_mode="complete")


@_q("streaming_dedup_exact", """
SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT event_id) AS n_ids,
       ROUND(SUM(value), 2) AS total
FROM events GROUP BY 1
""", bench=True, note=(
    "scale smokes are bounded by the MEMORY-SINK harness, not the "
    "stateful operator: the dedup drain's output is input-sized by "
    "contract, and at 300x the sink's driver collect exceeds "
    "spark.driver.maxResultSize (measured: 1035 MiB > 1 GiB). A "
    "production drain sinks to files/a table; the dropDuplicates "
    "state itself is keyed and partition-local. Drain partitions "
    "derive from staged bytes like the other drains"))
def streaming_dedup_exact_q(spark, sf_dir):
    """Exact streaming dedup: the arrival directory is staged TWICE
    (every event duplicated), the stream drops duplicates on
    event_id with unbounded key state, and the drained append-mode
    output must aggregate to exactly the single-copy batch answer —
    independent of how the files split into micro-batches."""
    import os
    import tempfile

    from vega_spark.streaming import sources as SS
    from vega_spark.streaming.stateful import dedup_exact_stream

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    stage = tempfile.mkdtemp(prefix="vega_stream_dd_")
    c = ev.coalesce(4)
    c.write.mode("overwrite").parquet(os.path.join(stage, "arrival=1"))
    # second identical arrival: hardlink the just-written files
    # instead of re-running the write job — bit-identical duplicate
    # input (the contract is "every event arrives twice"), one Spark
    # write instead of two (r9 opt, guide §1.2: don't recompute what
    # you already have)
    os.makedirs(os.path.join(stage, "arrival=2"), exist_ok=True)
    for f in os.listdir(os.path.join(stage, "arrival=1")):
        if f.endswith(".parquet"):
            os.link(os.path.join(stage, "arrival=1", f),
                    os.path.join(stage, "arrival=2", f))

    def build(s):
        stream = SS.stream_parquet(
            s, os.path.join(stage, "*"),
            "event_id long, event_type string, value double")
        return dedup_exact_stream(stream, ["event_id"])
    return (SS.drain_to_memory(spark, build, stage)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.count_distinct("event_id").alias("n_ids"),
                 F.round(F.sum("value"), 2).alias("total")))


# --- round-2 late additions: anomaly / rules / BFS / forecasting ------------
# (no reference counterpart — the reference's RDD algebra has no window,
# median, or iterative-frontier surface; SURVEY.md §2.11. These are the
# training-data-curation analytics families the brief lists as first-class.)

@_q("anomalies_event_values", """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS m
  FROM events GROUP BY 1),
j AS (
  SELECT e.event_id, e.event_type, e.value, m.m
  FROM events e JOIN med m USING (event_type)),
mad AS (
  SELECT event_type, quantile_cont(abs(value - m), 0.5) AS md
  FROM j GROUP BY 1)
SELECT j.event_id, j.event_type, j.value,
       ROUND(0.6745 * (j.value - j.m) / d.md, 3) AS robust_z
FROM j JOIN mad d USING (event_type)
WHERE d.md > 0
  AND ABS(ROUND(0.6745 * (j.value - j.m) / d.md, 3)) > 3.5
""", bench=True)
def anomalies_event_values_q(spark, sf_dir):
    """Robust (median/MAD) per-type outlier screen over event values
    — flags |z| > 3.5 (Iglewicz-Hoaglin). Two keyed aggregates build
    the tiny per-type stats frame; joined back as broadcast sides;
    output is flagged rows only. Oracle replays median, MAD and the
    rounded z exactly (quantile_cont == Spark's exact percentile:
    both interpolate at p*(n-1))."""
    from vega_spark.functions.analytics import robust_anomalies
    ev = _t(spark, sf_dir, "events")
    return robust_anomalies(ev, "event_type", "value",
                            id_cols=["event_id"], z_thresh=3.5)


@_q("spikes_event_hours", """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
s AS (
  SELECT event_type, AVG(n) AS mu,
         STDDEV_SAMP(CAST(n AS DOUBLE)) AS sd
  FROM h GROUP BY 1)
SELECT h.event_type, h.hour, h.n,
       CASE WHEN s.sd > 0
            THEN ROUND((h.n - s.mu) / s.sd, 3) END AS spike_z
FROM h JOIN s USING (event_type)
""", bench=True)
def spikes_event_hours_q(spark, sf_dir):
    """Burst detection: per (type, hour) activity z-scored against
    that type's own hourly distribution. One pass over events to the
    hourly grid; stats roll up from the grid, not the raw table."""
    from vega_spark.functions.analytics import hourly_spikes
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return hourly_spikes(ev, "event_type", "ts")


@_q("assoc_rules_parts", f"""
WITH {_PART_PAIRS_CTE},
directed AS (
  SELECT u AS ante, v AS cons, n FROM pairs
  UNION ALL SELECT v, u, n FROM pairs),
items AS (SELECT i AS item, COUNT(*) AS n_item FROM baskets GROUP BY 1),
tot AS (SELECT COUNT(DISTINCT b) AS nb FROM baskets)
SELECT d.ante, d.cons, d.n AS n_baskets,
       ROUND(CAST(d.n AS DOUBLE) / t.nb, 6) AS support,
       ROUND(CAST(d.n AS DOUBLE) / ia.n_item, 6) AS confidence,
       ROUND(CAST(d.n AS DOUBLE) * t.nb
             / (CAST(ia.n_item AS DOUBLE) * ic.n_item), 6) AS lift
FROM directed d
JOIN items ia ON d.ante = ia.item
JOIN items ic ON d.cons = ic.item
CROSS JOIN tot t
""", bench=True)
def assoc_rules_parts_q(spark, sf_dir):
    """Association rules (support/confidence/lift) over part
    co-purchases. The oracle uses the textbook self-join; our plan
    fans pairs out narrowly inside each basket row and broadcasts
    the item-support and basket-total frames."""
    from vega_spark.functions.analytics import association_rules
    li = _t(spark, sf_dir, "lineitem")
    return association_rules(li, "l_orderkey", "l_partkey",
                             min_count=2)


@_q("item_neighbors_parts", f"""
WITH {_PART_PAIRS_CTE},
directed AS (
  SELECT u AS item, v AS neighbor, n FROM pairs
  UNION ALL SELECT v, u, n FROM pairs),
items AS (SELECT i AS item, COUNT(*) AS n_item FROM baskets GROUP BY 1),
scored AS (
  SELECT d.item, d.neighbor, d.n,
         CAST(d.n AS DOUBLE)
         / SQRT(CAST(ia.n_item AS DOUBLE) * ib.n_item) AS cosine
  FROM directed d
  JOIN items ia ON d.item = ia.item
  JOIN items ib ON d.neighbor = ib.item),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY item
                               ORDER BY cosine DESC, neighbor) AS rk
  FROM scored)
SELECT item, neighbor, n AS n_baskets, ROUND(cosine, 6) AS cosine,
       CAST(rk AS INTEGER) AS nb_rank
FROM r WHERE rk <= 3
""", bench=True)
def item_neighbors_parts_q(spark, sf_dir):
    """Item-item collaborative filtering: top-3 neighbors per part by
    co-occurrence cosine. Per-item top-k is a PARTITIONED window
    (per-key heap — no global sort); deterministic tie-break on the
    neighbor id, replayed exactly by the oracle."""
    from vega_spark.functions.analytics import item_item_neighbors
    li = _t(spark, sf_dir, "lineitem")
    out = item_item_neighbors(li, "l_orderkey", "l_partkey", k=3,
                              min_count=2)
    return out.withColumnRenamed("rank", "nb_rank")


@_q("bfs_parts_distance", f"""
WITH RECURSIVE {_PART_PAIRS_CTE},
e AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
src AS (SELECT MIN(u) AS s FROM e),
bfs(node, dist) AS (
  SELECT s, 0 FROM src
  UNION
  SELECT e.v, b.dist + 1 FROM bfs b JOIN e ON e.u = b.node
  WHERE b.dist < 4)
SELECT node, MIN(dist) AS dist FROM bfs GROUP BY node
""", bench=True)
def bfs_parts_distance_q(spark, sf_dir):
    """Single-source BFS hop distances on the part co-purchase graph
    (≤ 4 hops from the smallest part id). Frontier-expansion loop:
    per hop one keyed join + distinct + anti-join against visited,
    lineage cut every hop. Oracle: bounded recursive CTE with
    UNION-dedup (working set ≤ nodes×hops), min-dist per node."""
    from vega_spark.functions.graph import bfs_distances
    pairs = _part_pairs(spark, sf_dir)
    return bfs_distances(pairs, "u", "v", max_hops=4,
                         broadcast_state=_part_graph_broadcastable(sf_dir))


@_q("forecast_backtest_events", """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
p AS (
  SELECT event_type, hour + INTERVAL 24 HOURS AS hour, n AS pred
  FROM h),
j AS (
  SELECT h.event_type, h.n, p.pred
  FROM h JOIN p USING (event_type, hour))
SELECT event_type, COUNT(*) AS n_hours,
       ROUND(AVG(CAST(ABS(n - pred) AS DOUBLE)), 4) AS mae
FROM j GROUP BY event_type
""", bench=True)
def forecast_backtest_events_q(spark, sf_dir):
    """Seasonal-naive forecast backtest: predict each hour with the
    count 24 h earlier, score MAE per type. The self-join happens on
    the already-aggregated hourly grid, never on raw events. The MAE
    is an exact integer sum divided once — order-independent, so the
    oracle matches without a tolerance."""
    from vega_spark.functions.analytics import seasonal_naive_backtest
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return seasonal_naive_backtest(ev, "event_type", "ts",
                                   season_hours=24)


@_q("dsir_select_en", r"""
WITH toks AS (
  SELECT doc_id, lang = 'en' AS t,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) AS w
  FROM documents),
dw AS (
  SELECT doc_id, t,
         ('0x' || substr(md5(w), 1, 12))::BIGINT % 4096 AS bucket,
         COUNT(*) AS c
  FROM toks GROUP BY 1, 2, 3),
models AS (
  SELECT bucket,
         SUM(CASE WHEN t THEN c ELSE 0 END) AS ct,
         SUM(CASE WHEN NOT t THEN c ELSE 0 END) AS cr
  FROM dw GROUP BY 1),
tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM models),
llr AS (
  SELECT bucket,
         LN(((ct + 1.0) / (tt + 4096.0))
            / ((cr + 1.0) / (tr + 4096.0))) AS llr
  FROM models CROSS JOIN tot),
scored AS (
  SELECT dw.doc_id, SUM(c) AS n_tokens, SUM(c * llr) / SUM(c) AS w
  FROM dw JOIN llr USING (bucket) GROUP BY 1)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(w, 6) AS llr_weight, w > 0 AS selected
FROM scored
""", bench=True)
def dsir_select_en_q(spark, sf_dir):
    """DSIR importance weighting (hashed-unigram LLR, target = 'en'
    docs) — the published importance-resampling selection method at
    its 100 TB shape: the bucket model frame is bounded (4096 rows)
    and broadcast, text crosses one shuffle. Oracle replays the md5
    bucketing, both smoothed models and the per-doc mean LLR."""
    from vega_spark.functions.pipeline import dsir_importance_weights
    docs = _t(spark, sf_dir, "documents")
    return dsir_importance_weights(docs, F.col("lang") == "en")


@_q("sssp_parts_weighted", f"""
WITH RECURSIVE {_PART_PAIRS_CTE},
we AS (
  SELECT u, v, CASE WHEN n >= 3 THEN 1 ELSE 2 END AS w FROM pairs),
e AS (SELECT u, v, w FROM we UNION ALL SELECT v, u, w FROM we),
src AS (SELECT MIN(u) AS s FROM e),
walk(node, dist, hops) AS (
  SELECT s, CAST(0 AS BIGINT), 0 FROM src
  UNION
  SELECT e.v, b.dist + e.w, b.hops + 1
  FROM walk b JOIN e ON e.u = b.node WHERE b.hops < 4)
SELECT node, MIN(dist) AS dist FROM walk GROUP BY node
""", bench=True)
def sssp_parts_weighted_q(spark, sf_dir):
    """Weighted single-source shortest paths (Bellman-Ford, 4
    relaxation rounds) on the part co-purchase graph — strong ties
    (≥3 shared baskets) cost 1, weak ties cost 2. Per round one keyed
    join + one min-aggregate; the oracle replays the relaxation in a
    bounded hop-counting recursive CTE."""
    from vega_spark.functions.graph import shortest_paths
    pairs = _part_pairs(spark, sf_dir)
    we = pairs.select("u", "v", F.when(F.col("n") >= 3, 1)
                      .otherwise(2).alias("w"))
    return shortest_paths(we, "u", "v", "w", max_rounds=4,
                          broadcast_state=_part_graph_broadcastable(sf_dir))


@_q("jackknife_event_means", """
WITH f AS (
  SELECT event_type AS grp,
         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT
         % 20 AS fold,
         SUM(value) AS s, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
t AS (SELECT grp, SUM(s) AS ts, SUM(n) AS tn, COUNT(*) AS gf
      FROM f GROUP BY 1),
loo AS (
  SELECT f.grp, t.ts, t.tn, t.gf,
         (t.ts - f.s) / (t.tn - f.n) AS loo
  FROM f JOIN t USING (grp) WHERE t.tn > f.n),
m AS (SELECT grp, AVG(loo) AS mbar FROM loo GROUP BY 1)
SELECT l.grp AS event_type, CAST(MAX(l.tn) AS BIGINT) AS n,
       ROUND(MAX(l.ts / l.tn), 6) AS mean,
       MAX(l.gf) AS g_folds,
       ROUND(SQRT((MAX(l.gf) - 1.0) / MAX(l.gf)
                  * SUM(POW(l.loo - m.mbar, 2))), 6) AS se_jack
FROM loo l JOIN m USING (grp) GROUP BY 1
""", bench=True)
def jackknife_event_means_q(spark, sf_dir):
    """Delete-one-fold jackknife standard error of the mean event
    value per type (20 md5-hashed folds) — one shuffle over the data,
    all resampling math on the tiny fold frame. Oracle replays fold
    assignment, leave-one-out means and the variance combine."""
    from vega_spark.operators.stats import jackknife_mean
    ev = _t(spark, sf_dir, "events")
    return jackknife_mean(ev, "value", "event_type", "event_id", g=20)


@_q("streaming_anomaly_flags", ORACLES["anomalies_event_values"], bench=True)
def streaming_anomaly_flags_q(spark, sf_dir):
    """Streaming robust anomaly detection: the per-type (median, MAD)
    baseline is computed ONCE on the batch table (robust_stats — a
    tiny frame), then every arriving micro-batch is scored by a
    stream-static broadcast join + narrow expressions and only
    flagged rows reach the sink. Stateless (append mode): the stream
    never shuffles at all. The oracle is the batch equivalent —
    identical flags because scoring is per-row against a fixed
    baseline."""
    import tempfile

    from vega_spark.functions.analytics import robust_stats
    from vega_spark.streaming import sources as SS
    from vega_spark.streaming.joins import stream_static_join

    ev = _t(spark, sf_dir, "events")
    stats = (robust_stats(ev, "event_type", "value")
             .filter(F.col("mad") > 0)
             .select(F.col("event_type").alias("__t"), "med", "mad"))
    stage = tempfile.mkdtemp(prefix="vega_stream_anom_")
    (ev.select("event_id", "event_type", "value")
       .coalesce(8).write.mode("overwrite").parquet(stage))

    def build(s):
        stream = SS.stream_parquet(
            s, stage, "event_id long, event_type string, value double")
        return (stream_static_join(stream, stats,
                                   F.col("event_type") == F.col("__t"))
                .withColumn("robust_z",
                            F.round(0.6745 * (F.col("value") - F.col("med"))
                                    / F.col("mad"), 3))
                .filter(F.abs(F.col("robust_z")) > 3.5)
                .select("event_id", "event_type", "value", "robust_z"))
    return SS.drain_to_memory(spark, build, stage)


@_q("trend_event_hours", """
WITH h AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS xh,
         COUNT(*) AS y
  FROM events GROUP BY 1, 2),
x0 AS (SELECT event_type, MIN(xh) AS x0 FROM h GROUP BY 1),
c AS (
  SELECT h.event_type, h.xh - x0.x0 AS x, h.y
  FROM h JOIN x0 USING (event_type)),
s AS (
  SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM c GROUP BY 1)
SELECT event_type, n AS n_hours,
       ROUND(CASE WHEN n * sxx - sx * sx <> 0
                  THEN CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE) END, 6)
       AS slope,
       ROUND((CAST(sy AS DOUBLE)
              - (CASE WHEN n * sxx - sx * sx <> 0
                      THEN CAST(n * sxy - sx * sy AS DOUBLE)
                           / CAST(n * sxx - sx * sx AS DOUBLE) END)
                * CAST(sx AS DOUBLE)) / n, 6) AS intercept
FROM s
""", bench=True)
def trend_event_hours_q(spark, sf_dir):
    """Per-type linear activity trend (closed-form OLS over hourly
    counts, recentered hour index so every sum is an exact small
    integer — the division is the only float op, replayed bit-exact
    by the oracle)."""
    from vega_spark.functions.analytics import hourly_trend
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return hourly_trend(ev, "event_type", "ts")


# Contingency table of event type (x) by 25-wide value bin (yb) with
# its margins mx, my and total n: shared by the chi2 and MI oracles.
_TYPE_VALUE_CELLS_CTE = """cells AS (
  SELECT event_type AS x,
         LEAST(3, GREATEST(0, CAST(FLOOR((value - 0.0) / 25.0) AS INTEGER)))
         AS yb,
         COUNT(*) AS nxy
  FROM events GROUP BY 1, 2),
mx AS (SELECT x, SUM(nxy) AS nx FROM cells GROUP BY 1),
my AS (SELECT yb, SUM(nxy) AS ny FROM cells GROUP BY 1),
tot AS (SELECT SUM(nxy) AS n FROM cells)"""


@_q("mi_event_type_value", f"""
WITH {_TYPE_VALUE_CELLS_CTE}
SELECT CAST(MAX(t.n) AS BIGINT) AS n, COUNT(*) AS n_cells,
       ROUND(SUM((CAST(c.nxy AS DOUBLE) / t.n)
                 * LN(CAST(c.nxy * t.n AS DOUBLE)
                      / CAST(mx.nx * my.ny AS DOUBLE))), 6) AS mi_nats
FROM cells c
JOIN mx USING (x) JOIN my USING (yb) CROSS JOIN tot t
""", bench=True)
def mi_event_type_value_q(spark, sf_dir):
    """Mutual information between event type and a 4-bin fixed grid
    over value — exact integer contingency table, one log per cell.
    Oracle replays binning, marginals and the MI fold."""
    from vega_spark.operators.stats import mutual_information
    ev = _t(spark, sf_dir, "events")
    return mutual_information(ev, "event_type", "value",
                              y_bins=4, y_lo=0.0, y_hi=100.0)


@_q("kcore_parts", f"""
WITH {_PART_PAIRS_CTE},
e0 AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
d1 AS (SELECT u, COUNT(*) AS d FROM e0 GROUP BY 1),
k1 AS (SELECT u FROM d1 WHERE d >= 2),
e1 AS (SELECT e0.u, e0.v FROM e0
       JOIN k1 a ON e0.u = a.u JOIN k1 b ON e0.v = b.u),
d2 AS (SELECT u, COUNT(*) AS d FROM e1 GROUP BY 1),
k2 AS (SELECT u FROM d2 WHERE d >= 2),
e2 AS (SELECT e1.u, e1.v FROM e1
       JOIN k2 a ON e1.u = a.u JOIN k2 b ON e1.v = b.u)
SELECT u AS node, COUNT(*) AS deg FROM e2 GROUP BY 1
""", bench=True)
def kcore_parts_q(spark, sf_dir):
    """2-core of the part co-purchase graph after two bounded peel
    rounds — per round one degree aggregate + two semi-joins, all
    keyed. Oracle unrolls the peels exactly."""
    from vega_spark.functions.graph import k_core
    pairs = _part_pairs(spark, sf_dir)
    return k_core(pairs, "u", "v", k=2, max_rounds=2,
                  broadcast_state=_part_graph_broadcastable(sf_dir))


@_q("chi2_event_type_value", f"""
WITH {_TYPE_VALUE_CELLS_CTE},
grid AS (
  SELECT mx.x, my.yb, mx.nx, my.ny, t.n, COALESCE(c.nxy, 0) AS o
  FROM mx CROSS JOIN my CROSS JOIN tot t
  LEFT JOIN cells c ON c.x = mx.x AND c.yb = my.yb)
SELECT CAST(MAX(n) AS BIGINT) AS n, COUNT(*) AS n_cells,
       (COUNT(DISTINCT x) - 1) * (COUNT(DISTINCT yb) - 1) AS dof,
       ROUND(SUM(POW(o - CAST(nx * ny AS DOUBLE) / n, 2)
                 / (CAST(nx * ny AS DOUBLE) / n)), 4) AS chi2
FROM grid
""", bench=True, adjudicated={"cross-nlj": (
    "marginal-x-marginal grid: both sides are grouped aggregates "
    "over the event-type / value-bin DOMAINS — bounded by "
    "category cardinality, invisible to maxRows")})
def chi2_event_type_value_q(spark, sf_dir):
    """Pearson chi-squared independence over the same contingency
    grid as mi_event_type_value — expected counts from exact integer
    marginals, zero-cells included via the marginal cross-grid."""
    from vega_spark.operators.stats import chi_squared
    ev = _t(spark, sf_dir, "events")
    return chi_squared(ev, "event_type", "value",
                       y_bins=4, y_lo=0.0, y_hi=100.0)


@_q("weighted_sample_docs", """
WITH s AS (
  SELECT doc_id AS id, n_chars AS weight,
         POW((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
              + 1.0) / 281474976710656.0,
             1.0 / CAST(n_chars AS DOUBLE)) AS k
  FROM documents WHERE n_chars > 0)
SELECT id, weight, ROUND(k, 6) AS sort_key
FROM s ORDER BY k DESC, id LIMIT 50
""", bench=True)
def weighted_sample_docs_q(spark, sf_dir):
    """A-Res weighted sampling without replacement (Efraimidis-
    Spirakis keys from md5-derived uniforms): 50 documents with
    inclusion odds ∝ n_chars, selected by a bounded TakeOrdered head
    — deterministic, engine-replayable, no RNG state."""
    from vega_spark.operators.sampling import weighted_sample_ares
    docs = _t(spark, sf_dir, "documents")
    return weighted_sample_ares(docs, "n_chars", "doc_id", n=50)


@_q("diversity_by_source", """
WITH cells AS (
  SELECT source AS grp, lang AS cat, COUNT(*) AS c
  FROM documents GROUP BY 1, 2),
tot AS (SELECT grp, SUM(c) AS n FROM cells GROUP BY 1)
SELECT c.grp AS source, CAST(MAX(t.n) AS BIGINT) AS n, COUNT(*) AS n_cats,
       ROUND(-SUM((CAST(c.c AS DOUBLE) / t.n)
                  * LN(CAST(c.c AS DOUBLE) / t.n)), 6) AS shannon_nats,
       ROUND(1.0 - SUM((CAST(c.c AS DOUBLE) / t.n)
                       * (CAST(c.c AS DOUBLE) / t.n)), 6) AS simpson
FROM cells c JOIN tot t USING (grp) GROUP BY 1
""", bench=True)
def diversity_by_source_q(spark, sf_dir):
    """Language-diversity report per document source: Shannon entropy
    and Simpson index from exact integer counts — the data-card
    composition numbers. Oracle replays both folds."""
    from vega_spark.functions.analytics import category_diversity
    docs = _t(spark, sf_dir, "documents")
    return category_diversity(docs, "source", "lang")


@_q("benford_event_values", """
WITH cells AS (
  SELECT event_type AS grp,
         CAST(substr(CAST(CAST(ROUND(value * 100, 0) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         COUNT(*) AS o
  FROM events WHERE value >= 0.01 GROUP BY 1, 2),
tot AS (SELECT grp, SUM(o) AS n FROM cells GROUP BY 1),
digits AS (SELECT unnest(generate_series(1, 9)) AS digit),
grid AS (
  SELECT t.grp, d.digit, t.n, COALESCE(c.o, 0) AS o
  FROM tot t CROSS JOIN digits d
  LEFT JOIN cells c ON c.grp = t.grp AND c.digit = d.digit)
SELECT grp AS event_type, CAST(MAX(n) AS BIGINT) AS n,
       ROUND(SUM(POW(o - LOG10(1.0 + 1.0 / digit) * n, 2)
                 / (LOG10(1.0 + 1.0 / digit) * n)), 6) AS benford_chi2
FROM grid GROUP BY 1
""", bench=True)
def benford_event_values_q(spark, sf_dir):
    """Benford first-digit screen per event type — leading digit via
    exact integer-cents string math (engine-identical), chi-squared
    distance to the log10(1+1/d) expectation. Uniform synthetic
    values score far from Benford, which is exactly what the screen
    reports."""
    from vega_spark.operators.stats import benford_screen
    ev = _t(spark, sf_dir, "events")
    return benford_screen(ev, "event_type", "value")


@_q("weighted_sample_docs_by_lang", """
WITH s AS (
  SELECT lang AS stratum, doc_id AS id, n_chars AS weight,
         POW((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
              + 1.0) / 281474976710656.0,
             1.0 / CAST(n_chars AS DOUBLE)) AS k
  FROM documents WHERE n_chars > 0),
r AS (
  SELECT stratum, id, weight, k,
         ROW_NUMBER() OVER (PARTITION BY stratum
                            ORDER BY k DESC, id) AS rk
  FROM s)
SELECT stratum, id, weight, ROUND(k, 6) AS sort_key,
       CAST(rk AS INTEGER) AS rk
FROM r WHERE rk <= 10
""", bench=True)
def weighted_sample_docs_by_lang_q(spark, sf_dir):
    """Stratified A-Res: 10 documents per language, inclusion odds ∝
    n_chars — per-stratum PARTITIONED window (per-key heap, no
    global sort), deterministic md5 keys replayed by the oracle."""
    from vega_spark.operators.sampling import weighted_sample_ares_by
    docs = _t(spark, sf_dir, "documents")
    return weighted_sample_ares_by(docs, "lang", "n_chars", "doc_id",
                                   n=10)


# ---------------------------------------------------------------------------
# Round-2 continuation: model-evaluation / privacy statistics layer
# (capability superset — the reference has no metrics or privacy ops,
# SURVEY.md §2.11; these are the readouts a 100 TB scoring/release
# pipeline runs as first-class jobs)
# ---------------------------------------------------------------------------

# Each event's value bucket b (256 equal-width bins over the value
# range) and its purchase label y.
_PURCHASE_VALUE_BINS_CTE = """rng AS (
  SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
b AS (
  SELECT LEAST(255, CAST(FLOOR((value - lo) / (hi - lo) * 256) AS INTEGER))
           AS b,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events, rng)"""


@_q("roc_auc_purchase_value", f"""
WITH {_PURCHASE_VALUE_BINS_CTE},
cells AS (
  SELECT b, SUM(y) AS np, SUM(1 - y) AS nn FROM b GROUP BY b),
c AS (
  SELECT b, np, nn,
         COALESCE(SUM(nn) OVER (ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cn
  FROM cells)
SELECT CAST((SELECT SUM(np) FROM cells) AS BIGINT) AS n_pos,
       CAST((SELECT SUM(nn) FROM cells) AS BIGINT) AS n_neg,
       ROUND(CAST(SUM(2 * np * cn + np * nn) AS DOUBLE)
             / (2.0 * (SELECT SUM(np) FROM cells)
                * (SELECT SUM(nn) FROM cells)), 6) AS auc
FROM c
""", bench=True)
def roc_auc_purchase_value_q(spark, sf_dir):
    """Binned ROC AUC (256 fixed cells, midrank ties): does `value`
    separate purchase events from the rest? Exact-integer rank fold
    on the cell frame — no global sort of the data (the scale
    decision; see operators/stats.binned_roc_auc)."""
    from vega_spark.operators.stats import binned_roc_auc
    ev = _t(spark, sf_dir, "events")
    return binned_roc_auc(ev, F.col("event_type") == "purchase",
                          "value", bins=256)


@_q("ks_drift_purchase_view", """
WITH f AS (
  SELECT LEAST(63, GREATEST(0,
           CAST(FLOOR((value - 0.0) / 7.8125) AS INTEGER))) AS b,
         event_type AS g
  FROM events WHERE event_type IN ('purchase', 'view')),
cells AS (
  SELECT b,
         SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS na,
         SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS nb
  FROM f GROUP BY b),
tot AS (SELECT SUM(na) AS n_a, SUM(nb) AS n_b FROM cells),
c AS (
  SELECT SUM(na) OVER (ORDER BY b) AS ca,
         SUM(nb) OVER (ORDER BY b) AS cb
  FROM cells)
SELECT CAST(t.n_a AS BIGINT) AS n_a, CAST(t.n_b AS BIGINT) AS n_b,
       ROUND(CAST(MAX(ABS(ca * t.n_b - cb * t.n_a)) AS DOUBLE)
             / CAST(t.n_a * t.n_b AS DOUBLE), 6) AS ks_stat
FROM c, tot t GROUP BY t.n_a, t.n_b
""", bench=True)
def ks_drift_purchase_view_q(spark, sf_dir):
    """Two-sample KS on a fixed 64-bin [0,500) grid: value
    distribution of purchase vs view events. Exact-integer max-gap
    fold (PSI's rank-based sibling in the drift-monitor family)."""
    from vega_spark.operators.stats import ks_binned
    ev = _t(spark, sf_dir, "events")
    return ks_binned(ev, "event_type", "value", "purchase", "view",
                     bins=64, lo=0.0, hi=500.0)


@_q("dp_noisy_event_counts", """
WITH g AS (
  SELECT event_type AS grp, COUNT(*) AS n_true FROM events GROUP BY 1),
u AS (
  SELECT grp, n_true,
         (('0x' || substr(md5(grp || '|7'), 1, 12))::BIGINT + 0.5)
           / 281474976710656.0 AS u
  FROM g)
SELECT grp AS event_type,
       ROUND(n_true + (-2.0 * SIGN(u - 0.5) * LN(1 - 2 * ABS(u - 0.5))),
             4) AS n_noisy,
       ROUND(-2.0 * SIGN(u - 0.5) * LN(1 - 2 * ABS(u - 0.5)), 4) AS noise
FROM u
""", bench=True)
def dp_noisy_event_counts_q(spark, sf_dir):
    """ε-DP event-type counts (ε=0.5, Laplace b=2) with seeded
    md5-derived noise — reproducible privacy-preserving release of
    group counts; one keyed count, scalar math after."""
    from vega_spark.operators.stats import dp_noisy_counts
    ev = _t(spark, sf_dir, "events")
    return dp_noisy_counts(ev, "event_type", epsilon=0.5, seed=7)


@_q("k_anonymity_docs", """
WITH sizes AS (
  SELECT lang, source, CAST(FLOOR(n_chars / 100) AS INTEGER) AS lb,
         COUNT(*) AS sz
  FROM documents GROUP BY 1, 2, 3),
a AS (
  SELECT k,
         SUM(CASE WHEN sz < k THEN 1 ELSE 0 END) AS classes_at_risk,
         SUM(CASE WHEN sz < k THEN sz ELSE 0 END) AS rows_at_risk,
         ROUND(CAST(SUM(CASE WHEN sz < k THEN sz ELSE 0 END) AS DOUBLE)
               / SUM(sz), 6) AS risk_share
  FROM sizes, (SELECT UNNEST([2, 5, 10]) AS k) ks GROUP BY k)
SELECT * REPLACE (CAST(classes_at_risk AS BIGINT) AS classes_at_risk,
                  CAST(rows_at_risk AS BIGINT) AS rows_at_risk)
FROM a
""", bench=True)
def k_anonymity_docs_q(spark, sf_dir):
    """k-anonymity audit of documents under the quasi-identifier
    (lang, source, n_chars/100 bucket): classes and rows below each
    k ∈ {2,5,10} — the re-identification screen before a corpus
    ships. One keyed count; per-k conditional aggregates on the
    class-size frame."""
    from vega_spark.operators.stats import k_anonymity_audit
    docs = (_t(spark, sf_dir, "documents")
            .select("lang", "source",
                    (F.col("n_chars") / 100).cast("int").alias("lb")))
    return k_anonymity_audit(docs, ["lang", "source", "lb"],
                             ks=(2, 5, 10))


# ---------------------------------------------------------------------------
# Round-2 continuation: ML feature-prep layer (functions/mlprep.py) +
# Holt trend smoothing — the last mile between a cleaned corpus and a
# trainer, all exact-integer/decimal cores, all broadcast-scored
# ---------------------------------------------------------------------------

@_q("feature_vector_events", """
WITH s AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(c) AS HUGEINT) AS sm,
         CAST(SUM(c * c) AS HUGEINT) AS q,
         MIN(c) AS lo, MAX(c) AS hi
  FROM (SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c FROM events))
SELECT event_id,
       ROUND(CAST(n * c - sm AS DOUBLE)
             / SQRT(CAST(n * q - sm * sm AS DOUBLE)), 6) AS z_value,
       ROUND(CAST(c - lo AS DOUBLE) / CAST(hi - lo AS DOUBLE), 6)
         AS mm_value,
       CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click,
       CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_error,
       CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase,
       CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS is_signup,
       CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_view,
       CAST(('0x' || substr(md5(props), 1, 12))::BIGINT % 64 AS INTEGER)
         AS hash_bucket
FROM (SELECT event_id, CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
             event_type, props
      FROM events), s
""", bench=True)
def feature_vector_events_q(spark, sf_dir):
    """Tabular feature prep over events: exact-decimal z-score +
    min-max of value, fixed-vocabulary one-hot of event_type, md5
    feature-hash bucket of props — one tiny aggregate broadcast over
    a single narrow pass."""
    from vega_spark.functions.mlprep import feature_vector
    ev = _t(spark, sf_dir, "events")
    return feature_vector(
        ev, "event_id", "value", "event_type",
        ["click", "error", "purchase", "signup", "view"],
        "props", hash_buckets=64)


@_q("target_encode_orders_priority", """
WITH per AS (
  SELECT o_orderpriority AS cat, COUNT(*) AS n,
         SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS sc
  FROM orders GROUP BY 1),
tot AS (SELECT CAST(SUM(n) AS HUGEINT) AS nn,
               CAST(SUM(sc) AS HUGEINT) AS ss FROM per)
SELECT cat AS o_orderpriority, n,
       ROUND(CAST(CAST(sc AS HUGEINT) * nn + 20 * ss AS DOUBLE)
             / (100.0 * CAST(nn * (n + 20) AS DOUBLE)), 6) AS target_enc
FROM per, tot
""", bench=True)
def target_encode_orders_priority_q(spark, sf_dir):
    """Smoothed target encoding (m=20) of order priority by mean
    total price — exact decimal rational, one keyed agg + 1-row
    broadcast; emits the encoding table a scoring join broadcasts."""
    from vega_spark.functions.mlprep import target_encode
    orders = _t(spark, sf_dir, "orders")
    return target_encode(orders, "o_orderpriority", "o_totalprice", m=20)


@_q("naive_bayes_lang_confusion", """
WITH toks AS (
  SELECT doc_id AS doc, lang AS actual,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS t
  FROM documents),
vocab AS (
  SELECT t FROM (SELECT t, COUNT(*) AS n FROM toks GROUP BY t)
  ORDER BY n DESC, t LIMIT 300),
ltc AS (
  SELECT actual, toks.t, COUNT(*) AS c
  FROM toks JOIN vocab ON toks.t = vocab.t GROUP BY 1, 2),
labels AS (SELECT lang AS actual, COUNT(*) AS nd FROM documents GROUP BY 1),
tl AS (SELECT actual, SUM(c) AS tl FROM ltc GROUP BY 1),
grid AS (
  SELECT l.actual AS l, COALESCE(tl.tl, 0) AS tl, v.t,
         COALESCE(ltc.c, 0) AS c
  FROM labels l
  LEFT JOIN tl ON l.actual = tl.actual
  CROSS JOIN vocab v
  LEFT JOIN ltc ON ltc.actual = l.actual AND ltc.t = v.t),
model AS (
  SELECT l, t,
         CAST(ROUND(LN((c + 1.0) / (tl + 300.0)) * 1000000, 0) AS BIGINT)
           AS s
  FROM grid),
prior AS (
  SELECT actual AS l,
         CAST(ROUND(LN(CAST(nd AS DOUBLE)
                       / (SELECT SUM(nd) FROM labels)) * 1000000, 0)
              AS BIGINT) AS p
  FROM labels),
ev AS (
  SELECT doc, m.l, SUM(m.s) AS es
  FROM toks JOIN model m ON toks.t = m.t GROUP BY 1, 2),
scored AS (
  SELECT d.doc_id AS doc, d.lang AS actual, pr.l,
         pr.p + COALESCE(ev.es, 0) AS score
  FROM documents d CROSS JOIN prior pr
  LEFT JOIN ev ON ev.doc = d.doc_id AND ev.l = pr.l),
best AS (SELECT doc, MAX(score) AS mx FROM scored GROUP BY 1),
pred AS (
  SELECT s.doc, s.actual, MIN(s.l) AS predicted
  FROM scored s JOIN best b ON s.doc = b.doc AND s.score = b.mx
  GROUP BY 1, 2)
SELECT actual, predicted, COUNT(*) AS n_docs
FROM pred GROUP BY 1, 2 ORDER BY 1, 2
""", bench=True, adjudicated={"cross-nlj": (
    "label-prior and vocab-head attaches: label domain (5) x "
    "scalar totals; vocab head is a bounded TakeOrdered")})
def naive_bayes_lang_confusion_q(spark, sf_dir):
    """Multinomial Naive Bayes language classifier trained and scored
    in-engine (top-300 vocab, add-1 smoothing, 1e-6 integerized
    log-probs → exact BIGINT scores), reported as the label confusion
    matrix. The scale shape of a broadcast-model scoring pass."""
    from vega_spark.functions.mlprep import naive_bayes_confusion
    docs = _t(spark, sf_dir, "documents")
    return naive_bayes_confusion(docs, vocab_size=300, alpha=1.0)


@_q("holt_forecast_hourly", """
WITH RECURSIVE h AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS xh,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS y
  FROM events GROUP BY 1, 2),
a AS (
  SELECT event_type, COUNT(*) AS n_hours,
         list(y ORDER BY xh) AS xs
  FROM h GROUP BY 1 HAVING COUNT(*) >= 2),
r AS (
  SELECT event_type, n_hours, xs, 3 AS i,
         CAST(xs[2] AS DOUBLE) AS l,
         CAST(xs[2] - xs[1] AS DOUBLE) AS b
  FROM a
  UNION ALL
  SELECT event_type, n_hours, xs, i + 1,
         0.5 * xs[i] + 0.5 * (l + b),
         0.25 * ((0.5 * xs[i] + 0.5 * (l + b)) - l) + 0.75 * b
  FROM r WHERE i <= n_hours)
SELECT event_type, n_hours,
       ROUND(l / 100.0, 6) AS level,
       ROUND(b / 100.0, 6) AS trend,
       ROUND((l + 3.0 * b) / 100.0, 6) AS forecast_h3
FROM r WHERE i = n_hours + 1 ORDER BY event_type
""", bench=True)
def holt_forecast_hourly_q(spark, sf_dir):
    """Holt double-exponential smoothing (α=.5, β=.25 — binary-exact
    constants) of hourly value sums per event type, 3-hour-ahead
    forecast; deterministic per-key fold over the bounded hourly
    grid, bit-replayed by a recursive-CTE oracle."""
    from vega_spark.functions.analytics import holt_linear_forecast
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return holt_linear_forecast(ev, alpha=0.5, beta=0.25, horizon=3)


@_q("html_extract_docs", """
WITH h AS (
  SELECT doc_id,
         '<html><head><title>d' || CAST(doc_id AS VARCHAR) ||
         '</title><script type="text/javascript">var a=1;</script>' ||
         '<style>.x{color:red}</style></head><body>' ||
         '<div class="nav">Home | About | Contact</div><p>' || text ||
         '</p><div class="footer">(c) 2026 Example</div></body></html>'
           AS html
  FROM documents),
x AS (
  SELECT doc_id, html,
    trim(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        html,
        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        '(?i)</(p|div|h[1-6]|li|tr|table|blockquote)>', chr(10), 'g'),
        '(?i)<br[^>]*>', chr(10), 'g'),
        '(?s)<[^>]+>', ' ', 'g'),
        '&nbsp;', ' ', 'g'),
        '&amp;', '&', 'g'),
        '&lt;', '<', 'g'),
        '&gt;', '>', 'g'),
        '&quot;', '"', 'g'),
        '[ ' || chr(9) || chr(13) || chr(12) || ']+', ' ', 'g'),
        ' ?' || chr(10) || ' ?', chr(10), 'g') ) AS mt0
  FROM h),
y AS (
  SELECT doc_id, html,
         regexp_replace(mt0, chr(10) || '{2,}', chr(10), 'g') AS main_text
  FROM x)
SELECT doc_id, LENGTH(html) AS html_chars,
       LENGTH(main_text) AS text_chars,
       ROUND(CAST(LENGTH(main_text) AS DOUBLE) / LENGTH(html), 6)
         AS text_density,
       substr(main_text, 1, 40) AS head
FROM y
""", bench=True)
def html_extract_docs_q(spark, sf_dir):
    """HTML boilerplate strip over a deterministic page template
    wrapped around each document: script/style subtrees dropped,
    block closes become line breaks, tags stripped, entities decoded,
    whitespace collapsed — the CommonCrawl-ingest text-extraction
    pass as a pure narrow expression pipeline (RE2-safe patterns the
    oracle replays verbatim). Returns per-doc char diagnostics and
    the text head."""
    from vega_spark.functions.web import extract_main_text
    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><head><title>d'), F.col("doc_id").cast("string"),
        F.lit('</title><script type="text/javascript">var a=1;</script>'
              '<style>.x{color:red}</style></head><body>'
              '<div class="nav">Home | About | Contact</div><p>'),
        F.col("text"),
        F.lit('</p><div class="footer">(c) 2026 Example</div>'
              '</body></html>'))
    wrapped = docs.select("doc_id", html.alias("html"))
    out = extract_main_text(wrapped, "html")
    return out.select("doc_id", "html_chars", "text_chars",
                      "text_density",
                      F.substring("main_text", 1, 40).alias("head"))


@_q("ols_price_qty_discount", """
WITH z AS (
  SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y,
         CAST(l_quantity AS BIGINT) AS x1,
         CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS x2
  FROM lineitem),
s AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(x1) AS HUGEINT) AS s1, CAST(SUM(x2) AS HUGEINT) AS s2,
         CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(x1 * x1) AS HUGEINT) AS s11,
         CAST(SUM(x2 * x2) AS HUGEINT) AS s22,
         CAST(SUM(x1 * x2) AS HUGEINT) AS s12,
         CAST(SUM(x1 * y) AS HUGEINT) AS s1y,
         CAST(SUM(x2 * y) AS HUGEINT) AS s2y,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM z),
m AS (
  SELECT n, s1, s2, sy,
         n * s11 - s1 * s1 AS A, n * s12 - s1 * s2 AS B,
         n * s22 - s2 * s2 AS C, n * s1y - s1 * sy AS P,
         n * s2y - s2 * sy AS Q, n * syy - sy * sy AS Syy
  FROM s),
sol AS (
  SELECT n, sy, s1, s2, P, Q, Syy,
         CAST(P * C - Q * B AS DOUBLE) / CAST(A * C - B * B AS DOUBLE)
           AS b1,
         CAST(Q * A - P * B AS DOUBLE) / CAST(A * C - B * B AS DOUBLE)
           AS b2
  FROM m)
SELECT CAST(n AS BIGINT) AS n,
       ROUND((CAST(sy AS DOUBLE) - b1 * CAST(s1 AS DOUBLE)
              - b2 * CAST(s2 AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0, 6)
         AS b0,
       ROUND(b1 / 100.0, 6) AS b1,
       ROUND(b2 * 100.0 / 100.0, 6) AS b2,
       ROUND((b1 * CAST(P AS DOUBLE) + b2 * CAST(Q AS DOUBLE))
             / CAST(Syy AS DOUBLE), 6) AS r2
FROM sol
""", bench=True)
def ols_price_qty_discount_q(spark, sf_dir):
    """Two-feature closed-form OLS: extended price on (quantity,
    discount) — exact decimal(38,0) normal equations in ONE aggregate
    pass, Cramer 2×2 solve, floats only in the final divisions."""
    from vega_spark.functions.mlprep import ols_two_feature
    li = _t(spark, sf_dir, "lineitem")
    return ols_two_feature(li, "l_extendedprice", "l_quantity",
                           "l_discount", y_scale=100, x2_scale=100)


@_q("stump_return_price", """
WITH rng AS (SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
             FROM lineitem),
b AS (
  SELECT LEAST(63, CAST(FLOOR((l_extendedprice - lo) / (hi - lo) * 64)
                        AS INTEGER)) AS b,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem, rng),
cells AS (
  SELECT b, SUM(y) AS np, SUM(1 - y) AS nn FROM b GROUP BY b),
t AS (SELECT SUM(np) AS tp, SUM(nn) AS tn FROM cells),
c AS (
  SELECT b,
         COALESCE(SUM(np) OVER (ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lp,
         COALESCE(SUM(nn) OVER (ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ln
  FROM cells),
costs AS (
  SELECT c.b,
         2.0 * lp * ln / CAST(lp + ln AS DOUBLE)
         + 2.0 * (t.tp - lp) * (t.tn - ln)
           / CAST(t.tp - lp + t.tn - ln AS DOUBLE) AS cost
  FROM c, t
  WHERE lp + ln > 0 AND t.tp - lp + t.tn - ln > 0),
best AS (SELECT b, cost FROM costs ORDER BY cost, b LIMIT 1)
SELECT CAST(t.tp + t.tn AS BIGINT) AS n, CAST(t.tp AS BIGINT) AS n_pos,
       ROUND(rng.lo + best.b * ((rng.hi - rng.lo) / 64), 6) AS split_value,
       ROUND((2.0 * t.tp * t.tn / CAST(t.tp + t.tn AS DOUBLE)
              - best.cost) / CAST(t.tp + t.tn AS DOUBLE), 6) AS gini_gain
FROM best, t, rng
""", bench=True)
def stump_return_price_q(spark, sf_dir):
    """Best single Gini split of extended price for predicting
    returned lineitems — the boosted-trees building block over a
    64-cell fixed grid; binned_roc_auc's sibling plan (one scan,
    bounded fold, no global sort)."""
    from vega_spark.functions.mlprep import decision_stump
    li = _t(spark, sf_dir, "lineitem")
    return decision_stump(li, F.col("l_returnflag") == "R",
                          "l_extendedprice", bins=64)


@_q("markov_next_event", """
WITH seq AS (
  SELECT event_type AS cur,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next
  FROM events),
pairs AS (
  SELECT cur, next, COUNT(*) AS n FROM seq
  WHERE next IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT cur, SUM(n) AS tot FROM pairs GROUP BY 1)
SELECT p.cur, p.next, p.n,
       ROUND(CAST(p.n AS DOUBLE) / t.tot, 6) AS p
FROM pairs p JOIN tot t ON p.cur = t.cur
ORDER BY p.cur, p.next
""", bench=True)
def markov_next_event_q(spark, sf_dir):
    """First-order Markov next-event transition matrix over per-user
    sequences ((ts, id)-ordered lead pairing — one user-partitioned
    window pass, bounded |types|² output)."""
    from vega_spark.functions.analytics import markov_transitions
    ev = _t(spark, sf_dir, "events")
    return markov_transitions(ev)


@_q("calibration_value_purchase", """
WITH s AS (
  SELECT LEAST(9, GREATEST(0, CAST(FLOOR(value / 500.0 / 0.1) AS INTEGER)))
           AS bin,
         CAST(ROUND(value / 500.0 * 1000000, 0) AS BIGINT) AS s6,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events)
SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
       ROUND(CAST(SUM(s6) AS DOUBLE) / (COUNT(*) * 1000000.0), 6)
         AS mean_score,
       ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS pos_rate
FROM s GROUP BY bin ORDER BY bin
""", bench=True)
def calibration_value_purchase_q(spark, sf_dir):
    """Reliability table: value/500 as a pseudo-probability vs the
    purchase outcome, 10 fixed bins — per-bin mean score (integerized
    1e-6 sums, partition-order independent) against observed rate."""
    from vega_spark.operators.stats import calibration_bins
    ev = _t(spark, sf_dir, "events").withColumn(
        "score", F.col("value") / 500.0)
    return calibration_bins(ev, F.col("event_type") == "purchase",
                            "score", bins=10, lo=0.0, hi=1.0)


@_q("decile_lift_purchase", f"""
WITH {_PURCHASE_VALUE_BINS_CTE},
cells AS (SELECT b, COUNT(*) AS m, SUM(y) AS mp FROM b GROUP BY b),
t AS (SELECT SUM(m) AS n, SUM(mp) AS np FROM cells),
c AS (
  SELECT b, m, mp,
         COALESCE(SUM(m) OVER (ORDER BY b DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM cells),
tiers AS (
  SELECT LEAST(9, CAST(FLOOR(CAST(cum * 10 AS DOUBLE) / t.n) AS INTEGER))
           AS tier, m, mp
  FROM c, t)
SELECT tier, CAST(SUM(m) AS BIGINT) AS n_rows,
       CAST(SUM(mp) AS BIGINT) AS n_pos,
       ROUND(CAST(SUM(mp) AS DOUBLE) / SUM(m), 6) AS pos_rate,
       ROUND((CAST(SUM(mp) AS DOUBLE) / SUM(m))
             / (CAST(t.np AS DOUBLE) / t.n), 6) AS lift
FROM tiers, t GROUP BY tier, t.np, t.n ORDER BY tier
""", bench=True)
def decile_lift_purchase_q(spark, sf_dir):
    """Gains/lift table over value-ranked deciles for the purchase
    outcome — histogram-derived tiers (no global sort), exact
    integer counts, lift over base rate."""
    from vega_spark.operators.stats import decile_lift
    ev = _t(spark, sf_dir, "events")
    return decile_lift(ev, F.col("event_type") == "purchase",
                       "value", bins=256, deciles=10)


@_q("readability_docs", """
WITH t AS (
  SELECT doc_id, text, lower(text) AS lt,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents)
SELECT doc_id, len(toks) AS n_words,
       GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences,
       len(regexp_extract_all(lt, '[aeiouy]+'))
         + len(list_filter(toks, x -> NOT regexp_matches(x, '[aeiouy]')))
         AS n_syllables,
       ROUND(206.835
             - 1.015 * CAST(len(toks) AS DOUBLE)
               / GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
             - 84.6 * CAST(len(regexp_extract_all(lt, '[aeiouy]+'))
                 + len(list_filter(toks,
                       x -> NOT regexp_matches(x, '[aeiouy]')))
                 AS DOUBLE) / len(toks), 6) AS flesch
FROM t WHERE len(toks) > 0
""", bench=True)
def readability_docs_q(spark, sf_dir):
    """Flesch reading ease per document from exact regex counts
    (words / sentence runs / vowel-group syllables with a no-vowel
    floor) — expression-only narrow pass."""
    from vega_spark.functions.text import readability_scores
    docs = _t(spark, sf_dir, "documents")
    return readability_scores(docs)


@_q("profile_orders", """
WITH s AS (SELECT o_orderstatus AS v FROM orders),
p AS (SELECT o_orderpriority AS v FROM orders),
k AS (SELECT CAST(o_custkey AS VARCHAR) AS v FROM orders)
SELECT 'o_orderstatus' AS column, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       COUNT(DISTINCT v) AS n_distinct,
       (SELECT v FROM s WHERE v IS NOT NULL GROUP BY v
        ORDER BY COUNT(*) DESC, v LIMIT 1) AS top_value,
       (SELECT COUNT(*) FROM s WHERE v IS NOT NULL GROUP BY v
        ORDER BY COUNT(*) DESC, v LIMIT 1) AS top_count
FROM s
UNION ALL
SELECT 'o_orderpriority', COUNT(*),
       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT v),
       (SELECT v FROM p WHERE v IS NOT NULL GROUP BY v
        ORDER BY COUNT(*) DESC, v LIMIT 1),
       (SELECT COUNT(*) FROM p WHERE v IS NOT NULL GROUP BY v
        ORDER BY COUNT(*) DESC, v LIMIT 1)
FROM p
UNION ALL
SELECT 'o_custkey', COUNT(*),
       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT v),
       (SELECT v FROM k WHERE v IS NOT NULL GROUP BY v
        ORDER BY COUNT(*) DESC, v LIMIT 1),
       (SELECT COUNT(*) FROM k WHERE v IS NOT NULL GROUP BY v
        ORDER BY COUNT(*) DESC, v LIMIT 1)
FROM k
""", bench=True)
def profile_orders_q(spark, sf_dir):
    """Column profiling census over orders (status, priority,
    custkey): exact distincts + deterministic top value per column —
    one keyed distinct-frame pass per column."""
    from vega_spark.operators.stats import profile_table
    orders = _t(spark, sf_dir, "orders")
    return profile_table(orders,
                         ["o_orderstatus", "o_orderpriority", "o_custkey"])


# _DOC_TOKS_CTE keyed as (doc, ts).
_DOC_TOKEN_LISTS_CTE = f"""{_DOC_TOKS_CTE},
base AS (SELECT doc_id AS doc, t AS ts FROM toks)"""


@_q("bigram_lm_docs", f"""
WITH {_DOC_TOKEN_LISTS_CTE},
b2 AS (SELECT doc, ts FROM base WHERE len(ts) >= 2),
uni AS (
  SELECT t, COUNT(*) AS n
  FROM (SELECT unnest(ts) AS t FROM base) GROUP BY t),
vocab AS (SELECT t FROM uni ORDER BY n DESC, t LIMIT 200),
mapped AS (
  SELECT doc, i,
         CASE WHEN v.t IS NOT NULL THEN u.t ELSE '<unk>' END AS w
  FROM (SELECT doc, unnest(ts) AS t,
               generate_subscripts(ts, 1) AS i FROM b2) u
  LEFT JOIN vocab v ON u.t = v.t),
pairs AS (
  SELECT doc, w AS w1,
         LEAD(w) OVER (PARTITION BY doc ORDER BY i) AS w2
  FROM mapped QUALIFY w2 IS NOT NULL),
big AS (SELECT w1 AS b1, w2 AS b2, COUNT(*) AS c12
        FROM pairs GROUP BY 1, 2),
cls AS (SELECT w AS u, COUNT(*) AS cu FROM mapped GROUP BY 1),
tot AS (SELECT SUM(cu) AS T FROM cls),
terms AS (
  SELECT p.doc,
         CAST(ROUND(LN(0.75 * ((COALESCE(big.c12, 0) + 1.0)
                               / (c1.cu + 201.0))
                       + 0.25 * ((c2.cu + 1.0) / (tot.T + 201.0)))
                    * 1000000, 0) AS BIGINT) AS s
  FROM pairs p
  LEFT JOIN big ON p.w1 = big.b1 AND p.w2 = big.b2
  JOIN cls c1 ON p.w1 = c1.u
  JOIN cls c2 ON p.w2 = c2.u
  CROSS JOIN tot)
SELECT doc AS doc_id, COUNT(*) AS n_bigrams,
       ROUND(CAST(SUM(s) AS DOUBLE) / (COUNT(*) * 1000000.0), 6)
         AS avg_logprob
FROM terms GROUP BY doc
""", bench=True)
def bigram_lm_docs_q(spark, sf_dir):
    """Interpolated bigram LM score per document (top-200 vocab +
    <unk>, add-1 smoothing, λ=0.75) — word-ORDER-aware quality
    signal; integerized log terms make per-doc scores exact integer
    sums."""
    from vega_spark.functions.text import bigram_lm_score
    docs = _t(spark, sf_dir, "documents")
    return bigram_lm_score(docs, vocab_size=200, alpha=1.0, lam=0.75)


@_q("image_header_decode", """
SELECT doc_id AS asset_id, 'png' AS format,
       1 + doc_id % 16 AS width, 1 + doc_id % 9 AS height
FROM documents
""", bench=True)
def image_header_decode_q(spark, sf_dir):
    """REAL codec-free image header decode: deterministic synthetic
    PNG payloads (dims derived from doc_id) built and parsed
    entirely on executors — exercises the binary-column plumbing end
    to end with a real container format. The parsed dimensions must
    round-trip the generator's formula, which the oracle replays in
    SQL — a header parser reading the wrong IHDR offsets fails the
    hash."""
    import pandas as pd

    from vega_spark.functions.multimodal import (
        image_header_metadata, make_test_png)
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for b in batches:
            yield pd.DataFrame({
                "doc_id": b["doc_id"],
                "payload": [make_test_png(1 + int(i) % 16, 1 + int(i) % 9)
                            for i in b["doc_id"]],
            })

    with_png = docs.mapInPandas(gen, "doc_id long, payload binary")
    out = image_header_metadata(with_png)
    return out.select("asset_id", "format", "width", "height")


def _pattern_pngs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, payload)``: one deterministic grayscale pattern PNG
    per document (pixel = (31x+57y) mod 256, width 8 + doc_id % 25,
    height 6 + doc_id % 17), encoded on executors by one narrow
    mapInPandas. The image oracles replay every pixel from the
    dims."""
    import pandas as pd

    from vega_spark.functions.multimodal import make_pattern_png
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for b in batches:
            yield pd.DataFrame({
                "doc_id": b["doc_id"],
                "payload": [make_pattern_png(8 + int(i) % 25,
                                             6 + int(i) % 17)
                            for i in b["doc_id"]],
            })

    return docs.mapInPandas(gen, "doc_id long, payload binary")


@_q("png_pixel_decode_stats", """
SELECT d.doc_id AS asset_id,
       (8 + d.doc_id % 25) * (6 + d.doc_id % 17) AS n_px,
       SUM((x.g * 31 + y.g * 57) % 256)::BIGINT AS sum_px
FROM documents d
JOIN generate_series(0, 32) x(g) ON x.g < 8 + d.doc_id % 25
JOIN generate_series(0, 22) y(g) ON y.g < 6 + d.doc_id % 17
GROUP BY 1, 2
""", bench=True)
def png_pixel_decode_stats_q(spark, sf_dir):
    """REAL pixel-level PNG decode, oracle-checked: deterministic
    grayscale pattern images (pixel = (31x+57y) mod 256, dims from
    doc_id) are DEFLATE-compressed behind rotating per-row filters
    (all five PNG filter types), then fully decoded on executors —
    inflate + unfilter + luma census with NO codec dependency
    (stdlib zlib; Pillow used instead when present). DuckDB replays
    the exact integer pixel sums from (w, h) alone, so a decoder
    that mishandles any filter or drops a mod-256 carry fails the
    hash. Narrow end to end; blob-scan partition sizing applies."""
    from vega_spark.functions.multimodal import image_pixel_stats
    return image_pixel_stats(_pattern_pngs(spark, sf_dir))


@_q("png_resize_roundtrip", """
SELECT d.doc_id AS asset_id,
       12 AS width, 10 AS height,
       SUM((((x.g * (8 + d.doc_id % 25)) // 12) * 31
            + ((y.g * (6 + d.doc_id % 17)) // 10) * 57) % 256)::BIGINT
         AS sum_px
FROM documents d
JOIN generate_series(0, 11) x(g) ON x.g < 12
JOIN generate_series(0, 9) y(g) ON y.g < 10
GROUP BY 1
""", bench=True)
def png_resize_roundtrip_q(spark, sf_dir):
    """REAL decode → nearest-neighbor resize → re-encode → decode
    round trip, oracle-checked: the resized image's pixel sum is
    replayed in SQL from the nearest-neighbor index map
    (src = floor(dst*src_dim/dst_dim)), so the resample kernel, the
    re-encode, and the second decode must all be exact. Two narrow
    mapInPandas stages, no shuffle."""
    from vega_spark.functions.multimodal import (image_pixel_stats,
                                                 resize_images)
    small = resize_images(_pattern_pngs(spark, sf_dir), 12, 10,
                          id_col="doc_id", decode="real")
    stats = image_pixel_stats(small, id_col="asset_id")
    return stats.select("asset_id",
                        F.lit(12).alias("width"),
                        F.lit(10).alias("height"),
                        "sum_px")


@_q("versioned_time_travel_orders", """
WITH v1 AS (
  SELECT 1 AS version, COUNT(*) AS n_rows,
         SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS sum_cents
  FROM orders),
v2 AS (
  SELECT 2 AS version, COUNT(*) AS n_rows,
         SUM(CAST(ROUND(
           CASE WHEN o_orderpriority = '1-URGENT'
                THEN o_totalprice + 10.0 ELSE o_totalprice END * 100, 0)
           AS BIGINT)) AS sum_cents
  FROM orders WHERE o_orderstatus <> 'F')
SELECT * REPLACE (CAST(sum_cents AS BIGINT) AS sum_cents)
FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2) ORDER BY version
""", bench=True)
def versioned_time_travel_orders_q(spark, sf_dir):
    """Lakehouse snapshot versioning end to end: commit orders as v1,
    commit a mutated subset as v2 (urgent orders +10, F-status rows
    dropped), then TIME-TRAVEL read BOTH versions back and aggregate
    each — proving v1 stays intact after v2 commits (snapshot
    isolation via the atomic _latest pointer). The oracle replays
    both versions' aggregates from the source table."""
    import tempfile

    from vega_spark.operators.versioned import (
        commit_snapshot, read_snapshot)
    orders = _t(spark, sf_dir, "orders")
    tdir = tempfile.mkdtemp(prefix="vega_versioned_")
    commit_snapshot(orders, tdir, note="initial load")
    v2 = (orders.filter(F.col("o_orderstatus") != "F")
          .withColumn("o_totalprice",
                      F.when(F.col("o_orderpriority") == "1-URGENT",
                             F.col("o_totalprice") + 10.0)
                      .otherwise(F.col("o_totalprice"))))
    commit_snapshot(v2, tdir, note="urgent reprice + drop F")
    outs = []
    for v in (1, 2):
        snap = read_snapshot(spark, tdir, version=v)
        outs.append(snap.agg(
            F.lit(v).alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .alias("sum_cents")))
    return outs[0].unionAll(outs[1]).orderBy("version")


# Orders per priority with their exact price sum in cents.
_PRIORITY_CENTS = """SELECT o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_cents"""


@_q("versioned_data_skipping_orders", f"""
{_PRIORITY_CENTS}
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <= TIMESTAMP '1996-12-31 23:59:59'
GROUP BY 1
""", bench=True)
def versioned_data_skipping_orders_q(spark, sf_dir):
    """Delta-style DATA SKIPPING end to end: commit orders range-
    partitioned on o_orderdate so each file owns a contiguous date
    band, collect per-file min/max stats into the manifest (one
    distributed pass), then answer a one-year query through
    ``read_snapshot_pruned`` — the driver drops non-intersecting
    files from the manifest BEFORE any scan, and the residual row
    filter keeps correctness independent of the stats. At 100 TB the
    skip decision is O(file count) manifest metadata; the scan itself
    touches only the ~1/6 of files whose band overlaps the year. The
    oracle replays the same year filter on the raw table — pruning
    must be invisible in the result."""
    import tempfile
    from datetime import datetime

    from vega_spark.operators.versioned import (
        commit_snapshot, read_snapshot_pruned)
    orders = _t(spark, sf_dir, "orders")
    tdir = tempfile.mkdtemp(prefix="vega_skip_")
    commit_snapshot(orders.repartitionByRange(8, "o_orderdate"),
                    tdir, note="range layout",
                    stats_cols=["o_orderdate"])
    pruned = read_snapshot_pruned(
        spark, tdir,
        {"o_orderdate": (datetime(1996, 1, 1),
                         datetime(1996, 12, 31, 23, 59, 59))})
    return (pruned.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.round(F.col("o_totalprice") * 100, 0)
                       .cast("long")).alias("sum_cents")))


@_q("pareto_customer_frontier", """
WITH per AS (
  SELECT o_custkey,
         SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS spend_cents,
         COUNT(*) AS n_orders,
         MAX(o_orderdate) AS last_order
  FROM orders GROUP BY 1)
SELECT p.o_custkey, CAST(p.spend_cents AS BIGINT) AS spend_cents,
       p.n_orders, p.last_order
FROM per p
WHERE NOT EXISTS (
  SELECT 1 FROM per q
  WHERE q.spend_cents >= p.spend_cents
    AND q.n_orders   >= p.n_orders
    AND q.last_order >= p.last_order
    AND (q.spend_cents > p.spend_cents OR q.n_orders > p.n_orders
         OR q.last_order > p.last_order))
""", bench=True)
def pareto_customer_frontier_q(spark, sf_dir):
    """SKYLINE query: customers not dominated on (total spend, order
    count, recency) simultaneously — the multi-criteria "best
    customers" set no single ORDER BY can express. Spark side runs
    the two-phase distributed skyline (per-partition Arrow frontier →
    global frontier over the tiny candidate union); the oracle is the
    textbook O(n²) NOT EXISTS dominance query, tractable at sf0.01.
    Spend in exact cents so both engines compare identical integers."""
    orders = _t(spark, sf_dir, "orders")
    per = (orders.groupBy("o_custkey")
           .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0)
                      .cast("long")).alias("spend_cents"),
                F.count(F.lit(1)).alias("n_orders"),
                F.max("o_orderdate").alias("last_order")))
    return K.pareto_frontier(
        per, ["spend_cents", "n_orders", "last_order"])


@_q("pca_covariance_lineitem", """
WITH g AS (
  SELECT CAST(ROUND(l_quantity*100,0) AS BIGINT) AS q,
         CAST(ROUND(l_extendedprice*100,0) AS BIGINT) AS e,
         CAST(ROUND(l_discount*100,0) AS BIGINT) AS d,
         CAST(ROUND(l_tax*100,0) AS BIGINT) AS t
  FROM lineitem),
s AS (
  SELECT COUNT(*) AS n,
         SUM(q) AS sq, SUM(e) AS se, SUM(d) AS sd, SUM(t) AS st,
         SUM(q*q) AS pqq, SUM(q*e) AS pqe, SUM(q*d) AS pqd,
         SUM(q*t) AS pqt, SUM(e*e) AS pee, SUM(e*d) AS ped,
         SUM(e*t) AS pet, SUM(d*d) AS pdd, SUM(d*t) AS pdt,
         SUM(t*t) AS ptt
  FROM g)
SELECT ci, cj, CAST(num AS VARCHAR) AS cov_num,
       ROUND(CAST(num AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 10000.0),
             6) AS cov
FROM (
  SELECT n, 'l_quantity' AS ci, 'l_quantity' AS cj,
         n*pqq - CAST(sq AS HUGEINT)*sq AS num FROM s
  UNION ALL SELECT n, 'l_quantity', 'l_extendedprice',
         n*pqe - CAST(sq AS HUGEINT)*se FROM s
  UNION ALL SELECT n, 'l_quantity', 'l_discount',
         n*pqd - CAST(sq AS HUGEINT)*sd FROM s
  UNION ALL SELECT n, 'l_quantity', 'l_tax',
         n*pqt - CAST(sq AS HUGEINT)*st FROM s
  UNION ALL SELECT n, 'l_extendedprice', 'l_extendedprice',
         n*pee - CAST(se AS HUGEINT)*se FROM s
  UNION ALL SELECT n, 'l_extendedprice', 'l_discount',
         n*ped - CAST(se AS HUGEINT)*sd FROM s
  UNION ALL SELECT n, 'l_extendedprice', 'l_tax',
         n*pet - CAST(se AS HUGEINT)*st FROM s
  UNION ALL SELECT n, 'l_discount', 'l_discount',
         n*pdd - CAST(sd AS HUGEINT)*sd FROM s
  UNION ALL SELECT n, 'l_discount', 'l_tax',
         n*pdt - CAST(sd AS HUGEINT)*st FROM s
  UNION ALL SELECT n, 'l_tax', 'l_tax',
         n*ptt - CAST(st AS HUGEINT)*st FROM s)
""", bench=True)
def pca_covariance_lineitem_q(spark, sf_dir):
    """Exact covariance matrix of the four lineitem measures — the
    distributed half of PCA (functions/mlprep.pca_fit eigensolves
    this d x d frame on the driver; eigenvectors aren't SQL, so the
    oracle pins the covariance instead). One map-side-combined agg
    over the table; numerators exact DECIMAL(38,0) on the cents grid
    so both engines print identical integers."""
    from vega_spark.functions.mlprep import covariance_pairs
    li = _t(spark, sf_dir, "lineitem")
    return covariance_pairs(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])


@_q("cv_stump_orders_priority", """
WITH base AS (
  SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))::BIGINT
           % 5 AS fold,
         CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
              THEN 1 ELSE 0 END AS y,
         o_totalprice AS s
  FROM orders),
rng AS (SELECT MIN(s) AS lo, MAX(s) AS hi FROM base),
binned AS (
  SELECT fold, y,
         CASE WHEN hi = lo THEN 0
              ELSE LEAST(19, CAST(FLOOR((s - lo) / (hi - lo) * 20)
                                  AS INTEGER)) END AS b
  FROM base, rng),
cells AS (
  SELECT fold, b, SUM(y) AS np, SUM(1 - y) AS nn
  FROM binned GROUP BY 1, 2),
tot AS (SELECT b, SUM(np) AS tnp, SUM(nn) AS tnn FROM cells GROUP BY 1),
grid AS (
  SELECT f.fold, t.b,
         t.tnp - COALESCE(c.np, 0) AS trp,
         t.tnn - COALESCE(c.nn, 0) AS trn
  FROM (SELECT DISTINCT fold FROM cells) f
  CROSS JOIN tot t
  LEFT JOIN cells c ON c.fold = f.fold AND c.b = t.b),
cand AS (
  SELECT fold, b,
         COALESCE(SUM(trp) OVER (PARTITION BY fold ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lp,
         COALESCE(SUM(trn) OVER (PARTITION BY fold ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lq,
         SUM(trp) OVER (PARTITION BY fold) AS ttp,
         SUM(trn) OVER (PARTITION BY fold) AS ttn
  FROM grid),
cost AS (
  SELECT fold, b, lp, lq, ttp, ttn,
         CASE WHEN lp + lq = 0 OR (ttp - lp) + (ttn - lq) = 0 THEN NULL
              ELSE (CASE WHEN lp + lq = 0 THEN 0.0
                         ELSE 2.0 * lp * lq / (lp + lq) END)
                 + (CASE WHEN (ttp - lp) + (ttn - lq) = 0 THEN 0.0
                         ELSE 2.0 * (ttp - lp) * (ttn - lq)
                              / ((ttp - lp) + (ttn - lq)) END)
         END AS cost
  FROM cand),
model AS (
  SELECT fold, b AS sb,
         CASE WHEN lp > lq THEN 1 ELSE 0 END AS left_pred,
         CASE WHEN ttp - lp > ttn - lq THEN 1 ELSE 0 END AS right_pred,
         ttp + ttn AS n_train
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY fold
               ORDER BY cost ASC NULLS LAST, b ASC) AS rk FROM cost)
  WHERE rk = 1 AND cost IS NOT NULL),
ev AS (
  SELECT c.fold, m.n_train, c.np, c.nn, m.sb,
         CASE WHEN c.b < m.sb THEN m.left_pred ELSE m.right_pred END AS pred
  FROM cells c JOIN model m ON c.fold = m.fold)
SELECT e.fold, CAST(MAX(e.n_train) AS BIGINT) AS n_train,
       CAST(SUM(e.np + e.nn) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN e.pred = 1 THEN e.np ELSE e.nn END) AS BIGINT)
         AS n_correct,
       ROUND(MIN(r.lo) + MAX(e.sb) * ((MIN(r.hi) - MIN(r.lo)) / 20), 6)
         AS split_value,
       ROUND(CAST(SUM(CASE WHEN e.pred = 1 THEN e.np ELSE e.nn END)
                  AS DOUBLE)
             / CAST(SUM(e.np + e.nn) AS DOUBLE), 6) AS acc
FROM ev e, rng r
GROUP BY 1
""", bench=True, adjudicated={"cross-nlj": (
    "fold_ids x bin-total grid: folds (5) x bins — bounded by "
    "construction, both sides grouped aggregates over scans")})
def cv_stump_orders_priority_q(spark, sf_dir):
    """5-fold cross-validated decision stump (is this order
    urgent/high-priority, split on total price): the full CV —
    binning, k leave-one-fold-out trainings, k held-out accuracy
    evaluations — runs as exact count algebra on the (fold x bin)
    cell frame, one data scan + one bounded shuffle regardless of k.
    The oracle replays every stage (md5 folds, grid binning,
    cumulative training counts, Gini argmin, cell-wise evaluation)."""
    from vega_spark.functions.mlprep import cv_decision_stump
    orders = _t(spark, sf_dir, "orders")
    return cv_decision_stump(
        orders, F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
        "o_totalprice", "o_orderkey", folds=5, bins=20)


@_q("streaming_watermark_drops", """
WITH e AS (
  SELECT epoch_us(ts) AS us, event_type, value FROM events),
mx AS (SELECT MAX(us) AS max_us FROM e),
recent AS (
  SELECT (e.us // 3600000000) * 3600 AS win_start_s,
         e.event_type, e.value
  FROM e, mx
  WHERE e.us > mx.max_us - CAST(48 AS BIGINT) * 3600 * 1000000)
SELECT r.win_start_s, r.event_type,
       COUNT(*) AS n, ROUND(SUM(r.value), 2) AS total
FROM recent r, mx
WHERE (r.win_start_s + 3600) * 1000000 <= mx.max_us - CAST(3600 AS BIGINT) * 1000000
GROUP BY 1, 2
""", bench=True)
def streaming_watermark_drops_q(spark, sf_dir):
    """WATERMARK LATE-DATA SEMANTICS end to end: the arrival dir gets
    three files with ordered mtimes — the newest day of events, then
    the 24-48h band, then a straggler file holding everything OLDER —
    and maxFilesPerTrigger=1 forces separate micro-batches. The first
    batch advances the watermark to max(ts) - 1 h; the second burns
    the one-batch lag Spark takes to apply an advanced watermark to
    input filtering; so when the stragglers arrive every one of their
    windows is already finalized and ALL late rows must be dropped.
    Append mode then emits exactly the head's windows whose end <=
    watermark. The oracle replays that contract from the batch table:
    last-48h rows only, windows closed by the final watermark —
    dropped stragglers appearing in the result, or head windows
    missing, both fail the hash. (test_multimodal_streaming asserts
    numRowsDroppedByWatermark equals the staged straggler count.)"""
    import os
    import shutil
    import tempfile

    from vega_spark.streaming import sources as SS

    ev = _t(spark, sf_dir, "events")
    t = ev.select("event_id",
                  F.timestamp_micros(F.expr("ts div 1000")).alias("ts"),
                  "event_type", "value")
    # max event time from parquet FOOTER statistics (r9 opt, guide §6
    # metadata over jobs — footer_col_max, the loj-query probe). The
    # cut instants are computed in the raw µs domain and rebuilt with
    # timestamp_micros, so they are TZ-independent and equal by
    # construction to the collected max (the staged ts column IS
    # timestamp_micros(raw div 1000)). Spark max() job only as the
    # stats-missing fallback.
    mx_ns = footer_col_max(sf_dir, "events", "ts")
    if isinstance(mx_ns, int):
        day_us = 24 * 3600 * 1_000_000
        mx_us = mx_ns // 1000
        cut24 = F.timestamp_micros(F.lit(mx_us - day_us))
        cut48 = F.timestamp_micros(F.lit(mx_us - 2 * day_us))
    else:
        mx = t.agg(F.max("ts")).collect()[0][0]
        day = __import__("datetime").timedelta(hours=24)
        cut24, cut48 = F.lit(mx - day), F.lit(mx - 2 * day)
    stage = tempfile.mkdtemp(prefix="vega_stream_wm_")
    # THREE ordered arrival files: the newest day first (advances the
    # watermark to max-1h), the 24-48h band second (burns the batch
    # the watermark needs to become effective for input filtering —
    # Spark applies it to late-row drops one batch after it advances),
    # stragglers third — so the straggler batch runs with the fully
    # effective watermark and every late row is dropped.
    parts = (("b1_head_new", t.filter(F.col("ts") > cut24)),
             ("b2_head_old", t.filter((F.col("ts") > cut48)
                                      & (F.col("ts") <= cut24))),
             ("b3_late", t.filter(F.col("ts") <= cut48)))

    def _stage_part(tag, part):
        tmp = tempfile.mkdtemp(prefix="vega_stream_wm_part_")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(stage, f"{tag}.parquet")
        shutil.copy(os.path.join(tmp, src), dst)
        shutil.rmtree(tmp, ignore_errors=True)
        return dst
    # r9 opt (guide §2.6): the three per-band staging writes are
    # independent single-task jobs — overlap them; arrival ORDER is
    # enforced by the explicit mtimes set below, not by write order.
    order = list(X_run_overlapped(
        *[lambda tag=tag, part=part: _stage_part(tag, part)
          for tag, part in parts]))
    base = os.path.getmtime(order[0])
    for i, p in enumerate(order[1:], start=1):
        os.utime(p, (base + 60 * i, base + 60 * i))

    def build(s):
        stream = SS.stream_parquet(
            s, stage,
            "event_id long, ts timestamp, event_type string, value double",
            max_files_per_trigger=1)
        return (stream.withWatermark("ts", "1 hour")
                .groupBy(F.window("ts", "1 hour").alias("win"),
                         "event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.round(F.sum("value"), 2).alias("total")))
    return (SS.drain_to_memory(spark, build, stage)
            .select(F.col("win.start").cast("long").alias("win_start_s"),
                    "event_type", "n", "total"))


@_q("quality_suite_orders", """
WITH s AS (
  SELECT COUNT(*) AS n,
         COUNT(o_custkey) AS m0,
         COUNT(DISTINCT o_orderkey) AS m1,
         SUM(CASE WHEN o_totalprice >= 0 AND o_totalprice <= 500000
                  THEN 1 ELSE 0 END) AS m2,
         SUM(CASE WHEN regexp_matches(o_orderpriority, '^[1-3]-')
                  THEN 1 ELSE 0 END) AS m3
  FROM orders)
SELECT * REPLACE (CAST(observed AS BIGINT) AS observed) FROM (
  SELECT 'completeness' AS "check", 'o_custkey' AS "column",
         m0 AS observed, n AS expected,
         ROUND(CAST(m0 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS metric,
         ROUND(CAST(m0 AS DOUBLE) / CAST(n AS DOUBLE), 6) >= 1.0 AS passed
  FROM s
  UNION ALL
  SELECT 'uniqueness', 'o_orderkey', m1, n,
         ROUND(CAST(m1 AS DOUBLE) / CAST(n AS DOUBLE), 6),
         ROUND(CAST(m1 AS DOUBLE) / CAST(n AS DOUBLE), 6) >= 1.0 FROM s
  UNION ALL
  SELECT 'in_range', 'o_totalprice', m2, n,
         ROUND(CAST(m2 AS DOUBLE) / CAST(n AS DOUBLE), 6),
         ROUND(CAST(m2 AS DOUBLE) / CAST(n AS DOUBLE), 6) >= 0.9 FROM s
  UNION ALL
  SELECT 'matches', 'o_orderpriority', m3, n,
         ROUND(CAST(m3 AS DOUBLE) / CAST(n AS DOUBLE), 6),
         ROUND(CAST(m3 AS DOUBLE) / CAST(n AS DOUBLE), 6) >= 0.5 FROM s
  UNION ALL
  SELECT 'row_count', '*', n, 100, CAST(n AS DOUBLE), n >= 100 FROM s)
""", bench=True)
def quality_suite_orders_q(spark, sf_dir):
    """Deequ-style data-quality admission gate: five declared
    constraints (null-freedom, key uniqueness, value range, format
    shape, minimum volume) all measured in ONE aggregation pass and
    returned as an exact-integer verdict frame. The oracle replays
    every metric and verdict."""
    from vega_spark.operators.quality import check_suite
    orders = _t(spark, sf_dir, "orders")
    return check_suite(orders, [
        {"check": "completeness", "column": "o_custkey",
         "min_ratio": 1.0},
        {"check": "uniqueness", "column": "o_orderkey",
         "min_ratio": 1.0},
        {"check": "in_range", "column": "o_totalprice",
         "lo": 0, "hi": 500000, "min_ratio": 0.9},
        {"check": "matches", "column": "o_orderpriority",
         "pattern": "^[1-3]-", "min_ratio": 0.5},
        {"check": "row_count", "min_rows": 100},
    ])


@_q("jl_projection_embeddings", """
WITH r AS (
  SELECT k.k, j.j,
         CASE WHEN ('0x' || substr(md5('jl:' || j.j || ':' || k.k),
                                   1, 1))::INT % 2 = 0
              THEN 1.0 ELSE -1.0 END AS s
  FROM generate_series(0, 15) k(k), generate_series(0, 63) j(j)),
rl AS (SELECT k, list(s ORDER BY j) AS sl FROM r GROUP BY k)
SELECT e.vec_id, rl.k,
       ROUND(list_reduce(
               list_transform(list_zip(e.embedding, rl.sl),
                              z -> CAST(z[1] AS DOUBLE) * z[2]),
               (a, b) -> a + b) * 0.25, 6) AS y
FROM embeddings e, rl
""", bench=True)
def jl_projection_embeddings_q(spark, sf_dir):
    """Johnson-Lindenstrauss projection of the 64-dim embedding
    corpus to 16 dims with a deterministic md5 Rademacher matrix —
    narrow codegen pass, index-ordered folds, dyadic 1/sqrt(16)
    scale, so the oracle replays every coordinate exactly
    (list_reduce in the same element order). Output long-form
    (vec_id, component k, value)."""
    from vega_spark.functions.similarity import jl_project
    emb = _t(spark, sf_dir, "embeddings")
    proj = jl_project(emb, "embedding", in_dim=64, out_dim=16)
    return (proj.select("vec_id", F.posexplode("proj")
                        .alias("k", "y")))


@_q("conformal_orders_price", """
WITH s AS (
  SELECT o_orderkey, o_orderpriority AS g, o_totalprice AS y,
         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))::BIGINT
           % 2 = 0 AS cal
  FROM orders),
m AS (
  SELECT g, CAST(SUM(CAST(ROUND(y * 100, 0) AS BIGINT)) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) / 100.0 AS pred
  FROM s WHERE cal GROUP BY g),
r AS (SELECT s.g, s.cal, ABS(s.y - m.pred) AS r
      FROM s JOIN m ON s.g = m.g),
gmax AS (SELECT g, MAX(r) AS rmax, COUNT(*) AS n_cal
         FROM r WHERE cal GROUP BY g),
cells AS (
  SELECT r.g, gmax.rmax, gmax.n_cal,
         CASE WHEN gmax.rmax = 0 THEN 0
              ELSE LEAST(511, CAST(FLOOR(r.r * 512 / gmax.rmax)
                                   AS INTEGER)) END AS b,
         COUNT(*) AS cnt
  FROM r JOIN gmax ON r.g = gmax.g WHERE r.cal
  GROUP BY 1, 2, 3, 4),
hit AS (
  SELECT *, SUM(cnt) OVER (PARTITION BY g ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         CAST(CEIL((n_cal + 1) * 0.9) AS BIGINT) AS k
  FROM cells),
model AS (
  SELECT g, n_cal, k, (b + 1) * rmax / 512 AS qhat
  FROM hit WHERE cum >= k AND cum - cnt < k)
SELECT r.g, MAX(model.n_cal) AS n_cal, MAX(model.k) AS k,
       ROUND(MAX(model.qhat), 6) AS qhat,
       COUNT(*) AS n_serve,
       CAST(SUM(CASE WHEN r.r <= model.qhat THEN 1 ELSE 0 END) AS BIGINT)
         AS n_covered,
       ROUND(CAST(SUM(CASE WHEN r.r <= model.qhat THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS coverage
FROM r JOIN model ON r.g = model.g WHERE NOT r.cal
GROUP BY 1
""", bench=True)
def conformal_orders_price_q(spark, sf_dir):
    """Split-conformal prediction intervals around a per-priority
    mean-price model: calibration/serve md5 split, conservative
    grid-quantile q̂ of calibration residuals, distribution-free
    ≥ 90% coverage verified on the serve half — the uncertainty
    wrapper any point model needs before its predictions gate real
    decisions. No global sort: a (group, bin) aggregate + ≤ 512-row
    windows + broadcast model join. The oracle replays the split,
    the model, the histogram quantile, and the coverage census."""
    from vega_spark.functions.mlprep import conformal_intervals
    orders = _t(spark, sf_dir, "orders")
    is_cal = (F.conv(F.substring(
        F.md5(F.col("o_orderkey").cast("string")), 1, 12), 16, 10)
        .cast("long") % 2 == 0)
    means = (orders.filter(is_cal)
             .groupBy(F.col("o_orderpriority").alias("mg"))
             .agg((F.sum(F.round(F.col("o_totalprice") * 100, 0)
                         .cast("long")).cast("double")
                   / F.count(F.lit(1)).cast("double") / 100.0)
                  .alias("pred")))
    scored = orders.join(F.broadcast(means),
                         F.col("o_orderpriority") == F.col("mg"))
    return conformal_intervals(
        scored, "o_totalprice", "pred", "o_orderkey",
        "o_orderpriority", alpha=0.1, bins=512)


@_q("als_recommend_parts", """
WITH r AS (
  SELECT o_custkey AS u, l_partkey AS itm
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey < 25
  GROUP BY 1, 2)
SELECT COUNT(DISTINCT u) AS n_users,
       CAST(COUNT(DISTINCT u) * 3 AS BIGINT) AS n_rec_rows,
       1 AS users_covered, 1 AS unseen_only,
       1 AS ranked_desc, 1 AS rmse_learned
FROM r
""", bench=True, note=(
    "r8: eager checkpoint release + MLlib-style co-partitioned "
    "ratings copies make every half-step exchange-free — 14.7x at "
    "the 100x smoke (was 46.6x). The co-partition trade: 3 ratings "
    "copies pinned in storage, so the SINGLE-JVM working set is "
    "~3x the fact table; at 300x (180M ratings, ~20+ GB decoded vs "
    "a 16 GiB heap) local[32] OOMs and local[16] completes "
    "disk-spill-bound (1363.8s — the measured one-JVM floor, "
    "recorded in BENCH_scale_300x.json). At cluster scale the "
    "copies are the point: network-shuffle per half-step is what "
    "they remove, and executor memory is sized per conf_for_scale. "
    "r9: the copies are DISK_ONLY (they elide shuffles; heap "
    "residency buys nothing for a sequential per-half-step scan) — "
    "local[32] at 300x now COMPLETES, 1237.2s vs the local[16] "
    "spill-bound floor of 1363.8s; the OOM failure mode is gone"))
def als_recommend_parts_q(spark, sf_dir):
    """ALS collaborative filtering end to end: implicit
    (customer, part, quantity) interactions from orders ⋈ lineitem,
    rank-4 factorization (2 alternations — each ONE join + ONE
    keyed r²-stat aggregate + a vectorized Arrow solve), then top-3
    unseen-part recommendations for the bounded custkey<25 user set.

    Contract surface (float least squares isn't SQL-expressible, but
    the recommendation guarantees are): every target user with any
    interaction gets EXACTLY k=3 recommendations (item universe >>
    k), none of them already-seen pairs, per-user scores
    non-increasing in rank, and the trained factorization beats the
    global-mean predictor on training RMSE (md5-seeded init makes
    the descent deterministic). User counts are SQL-pinned; the
    flags are engine-computed.  Monotone per-iteration descent and
    low-rank recovery stay pinned in test_recommender."""
    from vega_spark.functions.recommender import (
        als_explicit, als_rmse_vs_baseline, recommend_top_k)
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ratings = (orders.select("o_orderkey", "o_custkey")
               .join(li.select("l_orderkey", "l_partkey", "l_quantity"),
                     F.col("o_orderkey") == F.col("l_orderkey"))
               .groupBy(F.col("o_custkey").alias("user"),
                        F.col("l_partkey").alias("item"))
               .agg(F.sum("l_quantity").alias("r"))
               .localCheckpoint())
    # copart hint from the fact table's parquet footer (ratings rows
    # <= lineitem rows): no count job on small SFs (r9, ADVICE).
    # DISK_ONLY copies: they elide per-half-step shuffles and are
    # read sequentially, so heap residency buys nothing — in-memory
    # copies OOMed the single 16 GiB JVM at the 300x smoke (r9,
    # VERDICT r8 #6)
    from pyspark.storagelevel import StorageLevel
    li_rows = footer_rows(sf_dir, "lineitem")

    # materialize the tiny user set and the recommendation frame ONCE
    # (r9 opt round, guide §5 caching-when-reused): users feeds four
    # consumers (two inside recommend_top_k, uagg, and the semi-join)
    # and recs feeds three (viol window, ragg, seen semi-join) inside
    # one action — un-materialized, the broadcast-scored
    # users x items pass re-ran per consumer (profiled 1.6s -> 0.7s
    # on the final action).
    #
    # r9 opt (guide §2.6): `users` depends only on the checkpointed
    # ratings frame, not on training — its materialization overlaps
    # the training loop; and the recs checkpoint + the RMSE/baseline
    # collect both depend only on (xu, yi, users), so those two
    # actions overlap each other. Same frames, same values, result
    # unchanged (oracle-pinned).
    (xu, yi), users = X_run_overlapped(
        lambda: als_explicit(ratings, "user", "item", "r",
                             rank=4, iters=2, reg=0.1,
                             copart=None if li_rows is None
                             else li_rows > 5_000_000,
                             copart_storage=StorageLevel.DISK_ONLY),
        lambda: (ratings.select("user").distinct()
                 .filter(F.col("user") < 25)
                 .localCheckpoint(eager=True)))
    recs, (rmse, base) = X_run_overlapped(
        lambda: recommend_top_k(ratings, "user", "item", xu, yi,
                                users, k=3).localCheckpoint(eager=True),
        # one action for both scalars (r9 opt: was an RMSE collect +
        # a separate stddev collect — same expressions, fused job)
        lambda: als_rmse_vs_baseline(ratings, "user", "item", "r",
                                     xu, yi))

    from pyspark.sql.window import Window
    w = Window.partitionBy("user").orderBy("rk")
    viol = (recs.withColumn("__prev", F.lag("score").over(w))
            .filter(F.col("__prev").isNotNull()
                    & (F.col("score") > F.col("__prev"))))
    seen = ratings.select("user", "item")
    ragg = recs.agg(F.count(F.lit(1)).alias("n_rec_rows"),
                    F.count_distinct("user").alias("__rusers"))
    uagg = users.agg(F.count(F.lit(1)).alias("n_users"))
    return (uagg.crossJoin(ragg)
            .crossJoin(viol.agg(F.count(F.lit(1)).alias("__viol")))
            .crossJoin(recs.join(seen, ["user", "item"], "semi")
                       .agg(F.count(F.lit(1)).alias("__seen")))
            .select(
                "n_users", "n_rec_rows",
                (F.col("__rusers") == F.col("n_users")).cast("int")
                .alias("users_covered"),
                (F.col("__seen") == 0).cast("int").alias("unseen_only"),
                (F.col("__viol") == 0).cast("int").alias("ranked_desc"),
                F.lit(int(rmse < float(base))).cast("int")
                .alias("rmse_learned")))


@_op("als_recommend_parts")
def als_recommend_parts_op(spark, sf_dir):
    """Operator sub-plan: ALS train + top-k recommend alone — the
    contract adds a full-ratings RMSE replay and three validity
    sweeps over the recommendation set."""
    from vega_spark.functions.recommender import (
        als_explicit, recommend_top_k)
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ratings = (orders.select("o_orderkey", "o_custkey")
               .join(li.select("l_orderkey", "l_partkey", "l_quantity"),
                     F.col("o_orderkey") == F.col("l_orderkey"))
               .groupBy(F.col("o_custkey").alias("user"),
                        F.col("l_partkey").alias("item"))
               .agg(F.sum("l_quantity").alias("r"))
               .localCheckpoint())
    from pyspark.storagelevel import StorageLevel
    li_rows = footer_rows(sf_dir, "lineitem")
    xu, yi = als_explicit(ratings, "user", "item", "r",
                          rank=4, iters=2, reg=0.1,
                          copart=None if li_rows is None
                          else li_rows > 5_000_000,
                          copart_storage=StorageLevel.DISK_ONLY)
    users = ratings.select("user").distinct().filter(F.col("user") < 25)
    return recommend_top_k(ratings, "user", "item", xu, yi, users, k=3)


@_q("versioned_bloom_point_lookup", """
SELECT l_linenumber,
       CAST(ROUND(l_quantity, 0) AS BIGINT) AS qty,
       ROUND(l_extendedprice, 2) AS price
FROM lineitem WHERE l_orderkey = 7
""", bench=True)
def versioned_bloom_point_lookup_q(spark, sf_dir):
    """Per-file BLOOM INDEX point lookup: commit lineitem hash-
    partitioned on l_orderkey, attach a per-file Bloom index to the
    manifest (one pass; sparse word maps, md5 positions any engine
    can replay), then answer `l_orderkey = 7` through
    ``read_snapshot_point`` — the driver consults only manifest
    metadata to drop every file whose Bloom can't contain the key
    (no false negatives; survivors beyond the true file occur only
    at the FP rate), and the residual equality filter decides. The
    min/max complement: blooms prune POINT predicates even on
    layouts never sorted by the key. Oracle replays the lookup on
    the raw table — indexing must be invisible in the result."""
    import tempfile

    from vega_spark.operators.versioned import (
        add_bloom_index, commit_snapshot, read_snapshot_point)
    li = _t(spark, sf_dir, "lineitem")
    tdir = tempfile.mkdtemp(prefix="vega_bloomidx_")
    commit_snapshot(li.repartition(16, "l_orderkey"), tdir,
                    note="hash layout")
    add_bloom_index(spark, tdir, "l_orderkey")
    hit = read_snapshot_point(spark, tdir, "l_orderkey", 7)
    return hit.select("l_linenumber",
                      F.round(F.col("l_quantity"), 0).cast("long")
                      .alias("qty"),
                      F.round("l_extendedprice", 2).alias("price"))


@_q("versioned_change_feed_orders", """
WITH ins AS (
  SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
         o_orderstatus, o_totalprice, o_orderdate, o_orderpriority,
         'insert' AS op
  FROM orders WHERE o_orderkey < 100),
del AS (
  SELECT o_orderkey, NULL::BIGINT, NULL::VARCHAR, NULL::DOUBLE,
         NULL::TIMESTAMP, NULL::VARCHAR, 'delete' AS op
  FROM orders WHERE o_orderstatus = 'F'),
upd AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 10.0 AS o_totalprice, o_orderdate,
         o_orderpriority, 'update' AS op
  FROM orders WHERE o_orderstatus <> 'F'
    AND o_orderpriority = '1-URGENT')
SELECT * FROM ins UNION ALL SELECT * FROM del
UNION ALL SELECT * FROM upd
""", bench=True)
def versioned_change_feed_orders_q(spark, sf_dir):
    """CHANGE DATA FEED between snapshot versions: commit orders as
    v1, commit a mutated v2 (urgent repriced +10, F-status dropped,
    keys < 100 cloned as new +10M keys), then derive the exact
    insert/update/delete feed from the two immutable versions — the
    digest-reduced diff shuffles (key, 64-bit hash) only, and row
    payloads are fetched back just for the bounded change set. The
    oracle derives the same feed from the mutation rule itself:
    a wrong classification or a leaked unchanged row fails the
    hash."""
    import tempfile

    from vega_spark.operators.versioned import (
        change_feed, commit_snapshot)
    orders = _t(spark, sf_dir, "orders")
    tdir = tempfile.mkdtemp(prefix="vega_cdf_")
    commit_snapshot(orders, tdir, note="v1")
    v2 = (orders.filter(F.col("o_orderstatus") != "F")
          .withColumn("o_totalprice",
                      F.when(F.col("o_orderpriority") == "1-URGENT",
                             F.col("o_totalprice") + 10.0)
                      .otherwise(F.col("o_totalprice")))
          .unionByName(
              orders.filter(F.col("o_orderkey") < 100)
              .withColumn("o_orderkey",
                          F.col("o_orderkey") + 10000000)))
    commit_snapshot(v2, tdir, note="v2")
    return change_feed(spark, tdir, 1, 2, ["o_orderkey"])


@_q("versioned_zorder_2d_skipping", f"""
{_PRIORITY_CENTS}
FROM orders
WHERE o_custkey >= 100 AND o_custkey <= 300
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <= TIMESTAMP '1997-06-30 23:59:59'
GROUP BY 1
""", bench=True)
def versioned_zorder_2d_skipping_q(spark, sf_dir):
    """Z-ORDER + data skipping synergy: commit orders clustered by
    the Morton interleave of (custkey, order day) — a range layout on
    ONE column leaves the other scattered across every file, but the
    Z-curve gives BOTH columns file-level locality, so a 2-D
    predicate (customer band AND date band) prunes on min/max stats
    of both dimensions at once. Pruning is metadata-only as in
    versioned_data_skipping_orders; the residual filter keeps
    correctness stats-independent; the oracle replays the plain 2-D
    filter. test_versioned pins that the 2-D predicate actually
    skips files under this layout."""
    import tempfile

    from vega_spark.operators.layout import zorder_key
    from vega_spark.operators.versioned import (
        commit_snapshot, read_snapshot_pruned)
    from datetime import datetime

    orders = _t(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"),
                     F.lit("1995-01-01").cast("timestamp"))
    z = zorder_key([F.col("o_custkey").cast("long"),
                    day.cast("long")], bits=16)
    arranged = (orders.withColumn("__z", z)
                .repartitionByRange(16, "__z")
                .sortWithinPartitions("__z").drop("__z"))
    tdir = tempfile.mkdtemp(prefix="vega_zskip_")
    commit_snapshot(arranged, tdir, note="zorder layout",
                    stats_cols=["o_custkey", "o_orderdate"])
    pruned = read_snapshot_pruned(
        spark, tdir,
        {"o_custkey": (100, 300),
         "o_orderdate": (datetime(1997, 1, 1),
                         datetime(1997, 6, 30, 23, 59, 59))})
    return (pruned.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.round(F.col("o_totalprice") * 100, 0)
                       .cast("long")).alias("sum_cents")))


@_q("contrastive_negatives_docs", """
WITH idx AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS i
  FROM documents),
nn AS (SELECT COUNT(*) AS n FROM documents),
anchors AS (
  SELECT d.doc_id AS anchor, d.i AS own, s.slot, nn.n
  FROM idx d, (SELECT UNNEST(generate_series(0, 3)) AS slot) s, nn),
draw AS (
  SELECT anchor, slot, own, n,
         ('0x' || substr(md5('neg:' || CAST(anchor AS VARCHAR)
                              || ':' || CAST(slot AS VARCHAR)),
                         1, 12))::BIGINT % n AS d
  FROM anchors)
SELECT a.anchor, a.slot, i2.doc_id AS negative
FROM draw a JOIN idx i2
  ON i2.i = CASE WHEN a.d = a.own THEN (a.d + 1) % a.n ELSE a.d END
""", bench=True)
def contrastive_negatives_docs_q(spark, sf_dir):
    """Deterministic negative sampling over the document corpus —
    4 contrastive negatives per anchor as a pure function of
    (corpus, seed): md5 position draws under the doc_id total order,
    anchor-collision bumped by one. The oracle re-derives every pair
    (ROW_NUMBER index + the same md5 arithmetic); a different join
    order, index assignment, or collision rule fails the hash."""
    from vega_spark.functions.pipeline import sample_negatives
    docs = _t(spark, sf_dir, "documents")
    return sample_negatives(docs, "doc_id", k=4)


@_q("versioned_delete_keys_orders", """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       COUNT(DISTINCT o_orderstatus) AS n_status
FROM orders WHERE o_orderkey NOT IN (1, 2, 3, 7)
""", bench=True)
def versioned_delete_keys_orders_q(spark, sf_dir):
    """Targeted DELETE with copy-on-write file rewrite: orders
    committed hash-partitioned with a Bloom index, four keys deleted
    — the manifest plans exactly which files can contain them, only
    those are rewritten, every other file HARD-LINKS into the new
    version (zero bytes moved), and indexes carry over (rewrites
    keep conservative superset Blooms). The old version remains
    time-travelable. The oracle replays the post-delete aggregate;
    the unit test pins the partial-rewrite file accounting."""
    import tempfile

    from vega_spark.operators.versioned import (
        add_bloom_index, commit_snapshot, delete_keys, read_snapshot)
    orders = _t(spark, sf_dir, "orders")
    tdir = tempfile.mkdtemp(prefix="vega_del_")
    commit_snapshot(orders.repartition(16, "o_orderkey"), tdir)
    add_bloom_index(spark, tdir, "o_orderkey")
    delete_keys(spark, tdir, "o_orderkey", [1, 2, 3, 7])
    cur = read_snapshot(spark, tdir)
    return cur.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .alias("sum_cents"),
        F.count_distinct(F.col("o_orderstatus")).alias("n_status"))


# Event counts y per (event type, hour xh) and, per type, the count
# n of non-empty hours with the sums sy and syy of y and y squared.
_HOURLY_MOMENTS_CTE = """hourly AS (
  SELECT event_type, CAST(FLOOR(epoch(ts)/3600) AS BIGINT) AS xh,
         COUNT(*) AS y
  FROM events GROUP BY 1, 2),
tot AS (
  SELECT event_type, COUNT(*) AS n, SUM(y) AS sy, SUM(y*y) AS syy
  FROM hourly GROUP BY 1)"""


@_q("acf_hourly_events", f"""
WITH {_HOURLY_MOMENTS_CTE},
probe AS (
  SELECT event_type, xh, y, k
  FROM hourly CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS k)),
pairs AS (
  SELECT h.event_type, p.k, COUNT(*) AS m, SUM(h.y * p.y) AS sxy,
         SUM(h.y) AS sa, SUM(p.y) AS sb
  FROM hourly h
  JOIN probe p ON h.event_type = p.event_type AND h.xh + p.k = p.xh
  GROUP BY 1, 2)
SELECT p.event_type, p.k AS lag, p.m AS n_pairs,
  ROUND(CASE WHEN CAST(syy AS DOUBLE)
                  - n * (CAST(sy AS DOUBLE)/n) * (CAST(sy AS DOUBLE)/n)
                  <> 0
   THEN (CAST(sxy AS DOUBLE)
         - (CAST(sy AS DOUBLE)/n) * sa
         - (CAST(sy AS DOUBLE)/n) * sb
         + m * (CAST(sy AS DOUBLE)/n) * (CAST(sy AS DOUBLE)/n))
        / (CAST(syy AS DOUBLE)
           - n * (CAST(sy AS DOUBLE)/n) * (CAST(sy AS DOUBLE)/n))
   END, 6) AS acf
FROM pairs p JOIN tot USING (event_type)
ORDER BY 1, 2
""", bench=True)
def acf_hourly_events_q(spark, sf_dir):
    """Hourly-count autocorrelation at lags 1-3 per event type; the
    oracle replays the exact-integer sum expansion (capability
    superset: the reference has no windowed/laged analytics —
    SURVEY.md §2.11)."""
    from vega_spark.functions.analytics import hourly_autocorrelation
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return hourly_autocorrelation(ev, lags=(1, 2, 3))


# Hourly event counts per event type with every empty hour between a
# type's first and last event filled in as y = 0 (dense), and the
# centred 25-hour moving window the STL oracles take their trend over.
_HOURLY_DENSE_CTE = """hourly AS (
  SELECT event_type, CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS xh,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2),
span AS (SELECT event_type, MIN(xh) AS lo, MAX(xh) AS hi
         FROM hourly GROUP BY 1),
dense0 AS (
  SELECT event_type, UNNEST(generate_series(lo, hi)) AS xh FROM span),
dense AS (
  SELECT d.event_type, d.xh, COALESCE(h.n, 0) AS y
  FROM dense0 d LEFT JOIN hourly h
    ON h.event_type = d.event_type AND h.xh = d.xh)"""
_TREND_WINDOW = """PARTITION BY event_type ORDER BY xh
             ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING"""


@_q("stl_decompose_hourly", f"""
WITH {_HOURLY_DENSE_CTE},
t AS (
  SELECT event_type, xh, y,
         CAST((SUM(y) OVER w * 1000000) // (COUNT(*) OVER w) AS BIGINT)
           AS trend_micro
  FROM dense WINDOW w AS ({_TREND_WINDOW})),
t2 AS (SELECT *, y * 1000000 - trend_micro AS det_micro FROM t),
seas AS (
  SELECT event_type, xh % 24 AS hod,
         CAST(SUM(det_micro) // COUNT(*) AS BIGINT) AS seasonal_micro
  FROM t2 GROUP BY 1, 2)
SELECT t2.event_type, t2.xh, t2.y,
       t2.trend_micro, seas.seasonal_micro,
       t2.det_micro - seas.seasonal_micro AS residual_micro
FROM t2 JOIN seas
  ON t2.event_type = seas.event_type AND t2.xh % 24 = seas.hod
""", bench=True)
def stl_decompose_hourly_q(spark, sf_dir):
    """STL-lite decomposition of hourly event counts into trend
    (±12h centered moving average on a ZERO-FILLED dense grid),
    hour-of-day seasonal means of the detrended series, and
    residuals — the decomposition behind seasonality-aware anomaly
    screens and forecast baselines. 1e-6 fixed-point BIGINT
    components via integer DIV (micro=True): the float path's
    rational means land within an ulp of decimal half-way points
    where engines round apart (observed at sf0.1); the integer
    recurrence replays bit-for-bit at any scale."""
    from vega_spark.functions.analytics import stl_lite_hourly
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stl_lite_hourly(ev, micro=True)


@_q("cusum_changepoint_hours", f"""
WITH {_HOURLY_MOMENTS_CTE},
run AS (
  SELECT event_type, xh,
         SUM(y) OVER (PARTITION BY event_type ORDER BY xh) AS run,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY xh) AS i
  FROM hourly),
sc AS (
  SELECT r.event_type, r.xh, t.n, t.sy, t.syy,
         t.n * r.run - r.i * t.sy AS cum_n
  FROM run r JOIN tot t USING (event_type)),
rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY ABS(cum_n) DESC, xh ASC) AS rnk
  FROM sc)
SELECT event_type, n AS n_hours, xh AS cp_hour,
  ROUND(CAST(ABS(cum_n) AS DOUBLE) / n
        / (SQRT((CAST(syy AS DOUBLE)
                 - n * (CAST(sy AS DOUBLE)/n) * (CAST(sy AS DOUBLE)/n))
                / n)
           * SQRT(CAST(n AS DOUBLE))), 6) AS cusum_stat
FROM rk
WHERE rnk = 1
  AND (CAST(syy AS DOUBLE)
       - n * (CAST(sy AS DOUBLE)/n) * (CAST(sy AS DOUBLE)/n)) / n > 0
ORDER BY 1
""", bench=True)
def cusum_changepoint_hours_q(spark, sf_dir):
    """CUSUM mean-shift screen per event type over the hourly grid;
    argmax chosen on the exact integer n·run − i·Σy so the change
    point (and its earliest-hour tiebreak) replays on any engine."""
    from vega_spark.functions.analytics import cusum_changepoint
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return cusum_changepoint(ev)


@_q("kaplan_meier_conversion", """
WITH sec AS (
  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS s, event_type
  FROM events),
u AS (
  SELECT user_id, MIN(s) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN s END) AS tc
  FROM sec GROUP BY 1),
g AS (SELECT MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS gmax FROM events),
lab AS (
  SELECT CAST(FLOOR((COALESCE(tc, gmax) - t0) / 3600.0) AS BIGINT)
         AS dur,
         CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END AS obs
  FROM u CROSS JOIN g),
t AS (SELECT dur, SUM(obs) AS d, SUM(1 - obs) AS c FROM lab GROUP BY 1),
k AS (
  SELECT dur, d, c,
         (SELECT SUM(d + c) FROM t)
         - COALESCE(SUM(d + c) OVER (ORDER BY dur
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS n_risk
  FROM t),
s AS (
  SELECT dur, n_risk, d,
         SUM(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY dur) AS zeros,
         SUM(LN(CASE WHEN d = n_risk THEN 1.0
                     ELSE CAST(n_risk - d AS DOUBLE) / n_risk END))
           OVER (ORDER BY dur) AS lsum
  FROM k)
SELECT dur AS dur_units, CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS n_converted,
       ROUND(CASE WHEN zeros > 0 THEN 0.0 ELSE EXP(lsum) END, 6)
       AS survival
FROM s WHERE d > 0 ORDER BY dur
""", bench=True)
def kaplan_meier_conversion_q(spark, sf_dir):
    """Kaplan-Meier time-to-first-purchase curve (hours), censored at
    end of data; the ordered risk-set recursion runs as a bounded
    in-memory fold, and the oracle replays it as exp-sum-ln with an
    explicit absorbing-zero guard."""
    from vega_spark.functions.analytics import kaplan_meier
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return kaplan_meier(ev)


@_q("logreg_purchase_value", """
WITH base AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS xc
  FROM events),
s1 AS (
  SELECT COUNT(*) AS n, SUM(y) AS sy, SUM(xc) AS sx,
         SUM(y * xc) AS syx
  FROM base),
w1 AS (
  SELECT n, (-4.0) * (0.5 * n - sy) / n AS w0a,
         (-4.0) * (0.5 * sx - syx) / 10000.0 / n AS w1a
  FROM s1),
s2 AS (
  SELECT n, w0a, w1a,
    SUM(CAST(ROUND((1.0/(1.0 + EXP(-(w0a + w1a
          * (CAST(xc AS DOUBLE)/10000.0)))) - y) * 1e6, 0) AS BIGINT))
    AS qg0,
    SUM(CAST(ROUND((1.0/(1.0 + EXP(-(w0a + w1a
          * (CAST(xc AS DOUBLE)/10000.0)))) - y) * 1e6, 0) AS BIGINT)
        * xc) AS qg1
  FROM base CROSS JOIN w1 GROUP BY 1, 2, 3),
w2 AS (
  SELECT n,
         w0a - 4.0 * (CAST(qg0 AS DOUBLE) / 1000000.0) / n AS w0,
         w1a - 4.0 * (CAST(qg1 AS DOUBLE) / 1000000.0 / 10000.0) / n
         AS w1
  FROM s2),
fin AS (
  SELECT n, w0, w1,
    SUM(CASE WHEN ((w0 + w1 * (CAST(xc AS DOUBLE)/10000.0)) > 0)
                  = (y = 1) THEN 1 ELSE 0 END) AS hits,
    SUM(CAST(ROUND(-(y * LN(1.0/(1.0 + EXP(-(w0 + w1
          * (CAST(xc AS DOUBLE)/10000.0)))))
          + (1 - y) * LN(1.0 - 1.0/(1.0 + EXP(-(w0 + w1
          * (CAST(xc AS DOUBLE)/10000.0)))))) * 1e6, 0) AS BIGINT))
    AS qll
  FROM base CROSS JOIN w2 GROUP BY 1, 2, 3)
SELECT n, ROUND(w0, 6) AS w0, ROUND(w1, 6) AS w1,
       ROUND(CAST(hits AS DOUBLE) / n, 6) AS accuracy,
       ROUND(CAST(qll AS DOUBLE) / 1e6 / n, 6) AS log_loss
FROM fin
""", bench=True)
def logreg_purchase_value_q(spark, sf_dir):
    """Binary logistic regression (is-purchase ~ value), two exact
    gradient-descent steps with broadcast 1-row weight frames — the
    fixed-depth distributed learner; per-row residuals quantize to
    1e-6 integers so both engines sum order-independently."""
    from vega_spark.functions.mlprep import logistic_regression_gd
    ev = _t(spark, sf_dir, "events")
    return logistic_regression_gd(
        ev, (F.col("event_type") == "purchase").cast("long"),
        F.round(F.col("value") * 100, 0))


@_q("l_diversity_docs", """
WITH cells AS (
  SELECT lang, n_chars // 500 AS len_b, source, COUNT(*) AS n
  FROM documents GROUP BY 1, 2, 3),
classes AS (
  SELECT lang, len_b, SUM(n) AS sz, COUNT(*) AS l_val
  FROM cells GROUP BY 1, 2),
l AS (SELECT UNNEST([2, 3, 5]) AS l)
SELECT l.l, COUNT(*) AS n_classes,
       CAST(SUM(CASE WHEN l_val < l.l THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_at_risk,
       CAST(SUM(CASE WHEN l_val < l.l THEN sz ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       ROUND(CAST(SUM(CASE WHEN l_val < l.l THEN sz ELSE 0 END)
                  AS DOUBLE) / SUM(sz), 6) AS risk_share
FROM classes CROSS JOIN l GROUP BY 1
""", bench=True)
def l_diversity_docs_q(spark, sf_dir):
    """l-diversity audit on documents: quasi-identifiers (lang,
    length bucket), sensitive attribute source — flags classes where
    the sensitive column is too uniform to anonymize."""
    from vega_spark.operators.stats import l_diversity_audit
    docs = _t(spark, sf_dir, "documents").withColumn(
        "len_b", F.expr("n_chars div 500"))
    return l_diversity_audit(docs, ["lang", "len_b"], "source")


@_q("clustering_coeff_parts", f"""
WITH {_PART_PAIRS_CTE},
{_PART_TRIANGLES_CTE},
tc AS (SELECT node, COUNT(*) AS t FROM tri_nodes GROUP BY node),
per AS (
  SELECT deg.n AS node, deg.d, COALESCE(tc.t, 0) AS t
  FROM deg LEFT JOIN tc ON deg.n = tc.node),
q AS (
  SELECT d, t,
         CASE WHEN d >= 2
              THEN CAST(ROUND(2.0 * t / CAST(d * (d - 1) AS DOUBLE)
                              * 1e6, 0) AS BIGINT)
              ELSE 0 END AS ccq
  FROM per)
SELECT COUNT(*) AS n_nodes,
       CAST(SUM(CASE WHEN d >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_deg_ge2,
       CAST(SUM(t) / 3 AS BIGINT) AS n_triangles,
       ROUND(CAST(SUM(ccq) AS DOUBLE) / 1e6
             / SUM(CASE WHEN d >= 2 THEN 1 ELSE 0 END), 6) AS avg_cc
FROM q
""", bench=True)
def clustering_coeff_parts_q(spark, sf_dir):
    """Average local clustering coefficient of the part co-purchase
    graph — same degree-oriented skew-immune wedge plan as
    triangle_count_parts, per-node cc quantized to 1e-6 integers so
    the cross-node mean replays exactly."""
    from vega_spark.functions.graph import clustering_coefficient
    pairs = _part_pairs(spark, sf_dir)
    return clustering_coefficient(pairs, "u", "v")


_GEO_PT = """
  (('0x' || substr(md5(CAST({k} AS VARCHAR)), 1, 8))::BIGINT
   % 1800000) / 10000.0 - 90.0 AS {la},
  (('0x' || substr(md5(CAST({k} AS VARCHAR)), 9, 8))::BIGINT
   % 3600000) / 10000.0 - 180.0 AS {lo}
"""


@_q("geo_cell_density_customers", f"""
WITH p AS (
  SELECT {_GEO_PT.format(k='c_custkey', la='la', lo='lo')}
  FROM customer)
SELECT CAST(FLOOR(la / 1.0) AS BIGINT) AS cell_x,
       CAST(FLOOR(lo / 1.0) AS BIGINT) AS cell_y,
       COUNT(*) AS n
FROM p GROUP BY 1, 2
ORDER BY n DESC, cell_x, cell_y LIMIT 20
""", bench=True)
def geo_cell_density_customers_q(spark, sf_dir):
    """Densest 1-degree grid cells over md5-synthesized customer
    coordinates — the bounded keyed count + TakeOrdered head every
    spatial dashboard starts from."""
    from vega_spark.functions.geo import cell_density, synthetic_coords
    c = synthetic_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    return cell_density(c, cell_deg=1.0, top=20)


@_q("geo_neighbor_pairs_customers", f"""
WITH p AS (
  SELECT c_custkey AS id,
         {_GEO_PT.format(k='c_custkey', la='la', lo='lo')}
  FROM customer),
b AS (
  SELECT id, la, lo, CAST(FLOOR(la / 2.0) AS BIGINT) AS cx,
         CAST(FLOOR(lo / 2.0) AS BIGINT) AS cy
  FROM p),
o AS (SELECT dx, dy
      FROM (SELECT UNNEST([-1, 0, 1]) AS dx)
      CROSS JOIN (SELECT UNNEST([-1, 0, 1]) AS dy)),
pr AS (SELECT id AS id2, la AS la2, lo AS lo2,
              cx + dx AS cx, cy + dy AS cy
       FROM b CROSS JOIN o),
j AS (
  SELECT b.id AS id_a, pr.id2 AS id_b,
         (b.la - pr.la2) * (b.la - pr.la2)
         + (b.lo - pr.lo2) * (b.lo - pr.lo2) AS d2
  FROM b JOIN pr ON b.cx = pr.cx AND b.cy = pr.cy AND b.id < pr.id2)
SELECT id_a, id_b, ROUND(d2, 10) AS dist2
FROM j WHERE d2 <= 4.0
ORDER BY dist2, id_a, id_b LIMIT 20
""", bench=True)
def geo_neighbor_pairs_customers_q(spark, sf_dir):
    """Closest customer pairs within 2 degrees via the 3x3
    neighbor-cell equi-join — candidate generation linear in points,
    never all-pairs; the oracle replays bucketing, offsets, the exact
    squared-degree filter and the (dist, ids) head."""
    from vega_spark.functions.geo import neighbor_pairs, synthetic_coords
    c = synthetic_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    return neighbor_pairs(c, "c_custkey", radius_deg=2.0, top=20)


@_q("geo_nearest_hub_nations", f"""
WITH hubs AS (
  SELECT n_nationkey AS hub,
         {_GEO_PT.format(k='n_nationkey', la='hla', lo='hlo')}
  FROM nation),
pts AS (
  SELECT c_custkey AS id,
         {_GEO_PT.format(k='c_custkey', la='la', lo='lo')}
  FROM customer),
d AS (
  SELECT p.id, h.hub,
         (p.la - h.hla) * (p.la - h.hla)
         + (p.lo - h.hlo) * (p.lo - h.hlo) AS d2
  FROM pts p CROSS JOIN hubs h),
r AS (
  SELECT id, hub,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, hub) AS rn
  FROM d)
SELECT hub, COUNT(*) AS n_points FROM r WHERE rn = 1
GROUP BY 1 ORDER BY 1
""", bench=True, adjudicated={"cross-nlj": (
    "broadcast hub list (25 nation-seeded hubs) against points "
    "— the k-NN-to-hubs primitive is |hubs| x n by design")})
def geo_nearest_hub_nations_q(spark, sf_dir):
    """Nearest-hub assignment: 25 nation-derived hubs broadcast to
    every customer point, per-point argmin as one keyed
    min(struct(d2, hub)) aggregate, per-hub rollup on the tiny
    result."""
    from vega_spark.functions.geo import nearest_hub, synthetic_coords
    c = synthetic_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    hubs = synthetic_coords(_t(spark, sf_dir, "nation"), "n_nationkey")
    return nearest_hub(c, hubs, "c_custkey", "n_nationkey")


@_q("streaming_session_windows", ORACLES["sessionize_gap"], bench=True, note=(
    "scale smokes are bounded by the COMPLETE-MODE memory sink: it "
    "re-materializes every (user, session) row per batch on the "
    "driver, which heap-OOMs at 300x. The session-window state "
    "operator is keyed by user and partition-local; a production "
    "drain uses append/update into a real sink. Drain partitions "
    "derive from staged bytes like the other drains"))
def streaming_session_windows_q(spark, sf_dir):
    """STREAMING gap sessions: real readStream → ``session_window``
    state (adjacent windows MERGE as events arrive — the stateful op
    batch groupBy can't express incrementally) → memory sink, full
    drain. Must equal the batch gaps-and-islands replay
    (sessionize_gap's oracle) exactly — the stream/batch parity
    contract of the unified model."""
    import tempfile

    from vega_spark.streaming import sources as SS

    ev = _t(spark, sf_dir, "events")
    stage = tempfile.mkdtemp(prefix="vega_stream_sess_")
    (ev.select("user_id",
               F.timestamp_micros(F.expr("ts div 1000")).alias("ts"))
       .write.mode("overwrite").parquet(stage))

    def build(s):
        stream = SS.stream_parquet(s, stage, "user_id long, ts timestamp")
        return (stream
                .groupBy(F.session_window("ts", "30 minutes")
                         .alias("session"), "user_id")
                .agg(F.count(F.lit(1)).alias("n_events")))
    return (SS.drain_to_memory(spark, build, stage, output_mode="complete")
            .select("user_id",
                    F.unix_micros(F.col("session.start"))
                    .alias("session_start_us"),
                    "n_events"))


@_q("pmi_collocations_docs", f"""
WITH {_DOC_TOKEN_LISTS_CTE},
uni AS (SELECT t, COUNT(*) AS n
        FROM (SELECT unnest(ts) AS t FROM base) GROUP BY t),
tot AS (SELECT SUM(n) AS nu FROM uni),
tokix AS (
  SELECT doc, unnest(ts) AS t, generate_subscripts(ts, 1) AS i
  FROM base WHERE len(ts) >= 2),
bi0 AS (
  SELECT a.t AS w1, b.t AS w2
  FROM tokix a JOIN tokix b ON a.doc = b.doc AND b.i = a.i + 1),
bic AS (SELECT w1, w2, COUNT(*) AS nxy FROM bi0 GROUP BY 1, 2
        HAVING COUNT(*) >= 5),
nb AS (SELECT SUM(len(ts) - 1) AS nb FROM base WHERE len(ts) >= 2)
SELECT w1, w2, nxy,
       ROUND(LN(CAST(nxy AS DOUBLE) * nu * nu
                / (CAST(nb.nb AS DOUBLE) * ux.n * uy.n)), 6) AS pmi
FROM bic JOIN uni ux ON bic.w1 = ux.t JOIN uni uy ON bic.w2 = uy.t
CROSS JOIN tot CROSS JOIN nb
ORDER BY pmi DESC, w1, w2 LIMIT 20
""", bench=True)
def pmi_collocations_docs_q(spark, sf_dir):
    """Top-PMI adjacent-token collocations over the documents corpus
    (min bigram count 5) — in-row bigram fan-out, two keyed counts,
    bounded ln head; the oracle replays tokenize/pair/count/ln."""
    from vega_spark.functions.text import pmi_collocations
    docs = _t(spark, sf_dir, "documents")
    return pmi_collocations(docs, "text", min_count=5, top=20)


# Event values in cents c ranked within their event type grp (rn,
# ties broken by event_id), with the type's row count n.
_RANKED_CENTS_CTE = """r AS (
  SELECT event_type AS grp,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY CAST(ROUND(value * 100, 0) AS BIGINT),
                                     event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events)"""


@_q("gini_event_values", f"""
WITH {_RANKED_CENTS_CTE},
a AS (SELECT grp, COUNT(*) AS n, SUM(c) AS s, SUM(rn * c) AS si
      FROM r GROUP BY 1)
SELECT grp AS event_type, n, ROUND(s / 100.0, 2) AS total,
       ROUND(2.0 * CAST(si AS DOUBLE) / CAST(n * s AS DOUBLE)
             - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
FROM a WHERE s > 0 ORDER BY 1
""", bench=True)
def gini_event_values_q(spark, sf_dir):
    """Gini concentration of event value per type — rank formulation
    on exact integer cents, one hash exchange (window + fold share
    the group partitioning); oracle replays ranks and the closed
    form."""
    from vega_spark.operators.stats import gini_by_group
    ev = _t(spark, sf_dir, "events")
    return gini_by_group(ev, "event_type", "value", "event_id")


@_q("woe_iv_purchase_value", """
WITH cells AS (
  SELECT LEAST(9, GREATEST(0,
           CAST(FLOOR((value - 0.0) / 10.0) AS INTEGER))) AS bin,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         AS pos,
         SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
         AS neg
  FROM events GROUP BY 1),
tot AS (SELECT SUM(pos) AS pt, SUM(neg) AS nt FROM cells),
per AS (
  SELECT bin, pos, neg,
         (pos + 0.5) / (pt + 0.5 * 10) AS ps,
         (neg + 0.5) / (nt + 0.5 * 10) AS ns
  FROM cells CROSS JOIN tot),
w AS (
  SELECT bin, pos, neg, ROUND(LN(ps / ns), 6) AS woe,
         ROUND((ps - ns) * LN(ps / ns), 6) AS iv_contrib,
         (ps - ns) * LN(ps / ns) AS c
  FROM per),
iv AS (SELECT ROUND(SUM(c), 6) AS iv FROM w)
SELECT bin, CAST(pos AS BIGINT) AS pos, CAST(neg AS BIGINT) AS neg,
       woe, iv_contrib, iv
FROM w CROSS JOIN iv ORDER BY bin
""", bench=True)
def woe_iv_purchase_value_q(spark, sf_dir):
    """Weight-of-evidence / information value of the value column for
    predicting purchases (10 fixed bins, 0.5 Laplace smoothing) —
    one contingency pass, all float ops on the bounded cell frame."""
    from vega_spark.functions.mlprep import woe_iv
    ev = _t(spark, sf_dir, "events")
    return woe_iv(ev, (F.col("event_type") == "purchase"), "value",
                  bins=10, lo=0.0, hi=100.0)


@_q("user_growth_daily", """
WITH f AS (
  SELECT user_id,
         MIN(CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)) AS d0
  FROM events GROUP BY 1),
d AS (SELECT d0 AS day, COUNT(*) AS new_users FROM f GROUP BY 1)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_users
FROM d ORDER BY day
""", bench=True)
def user_growth_daily_q(spark, sf_dir):
    """Daily new + cumulative users (first-appearance day per user);
    the running total folds over the bounded day frame — no global
    window — and the oracle replays it as a window cumsum."""
    from vega_spark.functions.analytics import user_growth
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return user_growth(ev)


@_q("scd2_temporal_purchases", f"""
WITH {_STATE_CHANGES_CTE},
runs AS (
  SELECT user_id, event_type AS state, ts_us AS vf,
         LEAD(ts_us) OVER (PARTITION BY user_id
                           ORDER BY ts_us, event_id) AS vt
  FROM c),
f AS (
  SELECT user_id, epoch_us(ts) - 1 AS tsq,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT f.cents, r.state
  FROM f LEFT JOIN runs r
    ON f.user_id = r.user_id AND r.vf <= f.tsq
       AND (r.vt IS NULL OR f.tsq < r.vt))
SELECT COALESCE(state, 'none') AS prev_state,
       COUNT(*) AS n_purchases,
       ROUND(SUM(cents) / 100.0, 2) AS total_value
FROM j GROUP BY 1
""", bench=True)
def scd2_temporal_purchases_q(spark, sf_dir):
    """Point-in-time SCD2 enrichment: each purchase joined to the
    user's state run in effect 1µs BEFORE it (the state transitioned
    from) — keyed equi-join with the validity interval as join
    filter; versions are non-overlapping so at most one matches.
    Purchases with no prior state bucket as 'none'."""
    from vega_spark.functions.analytics import (scd2_from_events,
                                                temporal_join_scd2)
    ev = _t(spark, sf_dir, "events")
    dim = scd2_from_events(ev, "user_id", "event_type", "ts",
                           "event_id").select(
        "user_id", "state", "valid_from", "valid_to")
    facts = (ev.filter(F.col("event_type") == "purchase")
             .select("user_id",
                     (F.col("ts") - 1000).alias("tsq"),
                     F.round(F.col("value") * 100, 0).cast("long")
                     .alias("cents")))
    j = temporal_join_scd2(facts, dim, "user_id", "tsq")
    return (j.groupBy(F.coalesce(F.col("state"), F.lit("none"))
                      .alias("prev_state"))
            .agg(F.count(F.lit(1)).alias("n_purchases"),
                 F.round(F.sum("cents") / 100.0, 2)
                 .alias("total_value")))


@_q("rfm_user_segments", """
WITH u AS (
  SELECT user_id,
         MAX(CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)) AS last_d,
         COUNT(*) AS f,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS m
  FROM events GROUP BY 1),
g AS (SELECT MAX(last_d) AS gmax FROM u),
s AS (
  SELECT CASE WHEN gmax - last_d <= 2 THEN 4
              WHEN gmax - last_d <= 7 THEN 3
              WHEN gmax - last_d <= 14 THEN 2 ELSE 1 END AS r_score,
         CASE WHEN f >= 500 THEN 4 WHEN f >= 300 THEN 3
              WHEN f >= 100 THEN 2 ELSE 1 END AS f_score,
         CASE WHEN m >= 3000000 THEN 4 WHEN m >= 1500000 THEN 3
              WHEN m >= 500000 THEN 2 ELSE 1 END AS m_score,
         m
  FROM u CROSS JOIN g)
SELECT r_score, f_score, m_score, COUNT(*) AS n_users,
       ROUND(SUM(m) / 100.0, 2) AS total_value
FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
""", bench=True)
def rfm_user_segments_q(spark, sf_dir):
    """RFM customer grid over events: fixed-threshold 1-4 scores on
    recency / frequency / monetary (exact cents), user counts and
    value per cell."""
    from vega_spark.functions.analytics import rfm_segments
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return rfm_segments(ev)


@_q("active_time_per_user", f"""
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts)
                   - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                             ORDER BY ts)
                   >= 300000000 THEN 1 ELSE 0 END AS brk
  FROM events),
{_SESSION_NUMBER_CTE},
i AS (
  SELECT user_id,
         MAX(epoch_us(ts)) + 300000000 - MIN(epoch_us(ts)) AS dur_us
  FROM s GROUP BY user_id, sess)
SELECT user_id, COUNT(*) AS n_sessions,
       CAST(FLOOR(SUM(dur_us) / 1000000.0) AS BIGINT) AS active_s
FROM i GROUP BY 1 ORDER BY 1
""", bench=True)
def active_time_per_user_q(spark, sf_dir):
    """Interval-union engagement: per user, merged 5-minute activity
    windows summed to total active seconds — session_window does the
    merge in one keyed exchange; the oracle replays gaps-and-islands
    coverage with exact µs integers."""
    from vega_spark.functions.analytics import active_time_per_user
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.timestamp_micros(F.expr("ts div 1000")).alias("ts"))
    return active_time_per_user(ev)


@_q("join_full_outer", """
SELECT CASE WHEN o.o_orderkey IS NULL THEN 'customer_only'
            WHEN c.c_custkey IS NULL THEN 'order_only'
            ELSE 'matched' END AS side,
       COUNT(*) AS n
FROM customer c FULL OUTER JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY 1
""")
def join_full_outer_q(spark, sf_dir):
    """Full-outer join completing the §2.4 join-type matrix
    (reference has inner only — src/rdd/rdd.rs join): match-status
    census of customer ⟗ orders. One shuffle join + bounded agg."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    j = c.join(o, c["c_custkey"] == o["o_custkey"], "full_outer")
    side = (F.when(F.col("o_orderkey").isNull(), "customer_only")
            .when(F.col("c_custkey").isNull(), "order_only")
            .otherwise("matched"))
    return (j.groupBy(side.alias("side"))
            .agg(F.count(F.lit(1)).alias("n")))


_TRUNC_TOPK = """
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             list_dot_product(list_slice(q.e, 1, {d}),
                              list_slice(c.e, 1, {d}))
             / (sqrt(list_dot_product(list_slice(q.e, 1, {d}),
                                      list_slice(q.e, 1, {d})))
                * sqrt(list_dot_product(list_slice(c.e, 1, {d}),
                                        list_slice(c.e, 1, {d}))))
             DESC, c.vec_id) AS rk
    FROM (SELECT vec_id, embedding::DOUBLE[] AS e
          FROM embeddings WHERE vec_id < 10) q
    CROSS JOIN (SELECT vec_id, embedding::DOUBLE[] AS e
                FROM embeddings) c) WHERE rk <= 5
"""


@_q("embedding_truncation_recall", f"""
WITH fullk AS ({_TRUNC_TOPK.format(d=64)}),
nf AS (SELECT COUNT(*) AS nf FROM fullk),
t8 AS ({_TRUNC_TOPK.format(d=8)}),
t16 AS ({_TRUNC_TOPK.format(d=16)}),
t32 AS ({_TRUNC_TOPK.format(d=32)}),
o8 AS (SELECT COUNT(*) AS no FROM t8 JOIN fullk USING (query_id, neighbor_id)),
o16 AS (SELECT COUNT(*) AS no FROM t16 JOIN fullk USING (query_id, neighbor_id)),
o32 AS (SELECT COUNT(*) AS no FROM t32 JOIN fullk USING (query_id, neighbor_id))
SELECT 8 AS dim, no AS n_overlap,
       ROUND(CAST(no AS DOUBLE) / nf, 6) AS recall_at_k
FROM o8 CROSS JOIN nf
UNION ALL
SELECT 16, no, ROUND(CAST(no AS DOUBLE) / nf, 6) FROM o16 CROSS JOIN nf
UNION ALL
SELECT 32, no, ROUND(CAST(no AS DOUBLE) / nf, 6) FROM o32 CROSS JOIN nf
ORDER BY 1
""", bench=True, adjudicated={"cross-nlj": (
    "scalar denominator attach (global count) downstream of a "
    "brute-force top-k whose query side is the bounded eval set")})
def embedding_truncation_recall_q(spark, sf_dir):
    """Matryoshka-style truncation ablation: recall@5 of 8/16/32-dim
    embedding prefixes against the full 64-dim cosine top-5 — the
    report that sizes an ANN index's dimension budget. Same broadcast
    brute-force plan per prefix; overlap counted by an exact
    (query, neighbor) join."""
    from vega_spark.functions.similarity import truncation_recall
    emb = _t(spark, sf_dir, "embeddings")
    return truncation_recall(emb, dims=(8, 16, 32), k=5, n_queries=10)


def _sparse_cosine_guard_diag(spark, sf_dir):
    """Term-guard visibility for the smoke (r5 verdict #4): on a
    corpus homogeneous enough that every term exceeds the df cut the
    operator is bounded but EMPTY — this row says so out loud."""
    from vega_spark.functions.search import sparse_cosine_term_guard
    return sparse_cosine_term_guard(_t(spark, sf_dir, "documents"),
                                    "text", max_df_frac=0.1, max_df=1000)


@_q("sparse_cosine_doc_pairs", """
WITH tf AS (
  SELECT doc_id AS doc, t, COUNT(*) AS tf
  FROM (SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text),
                                                     '\\s+'),
                                  x -> x <> '')) AS t
        FROM documents)
  GROUP BY 1, 2),
nd AS (SELECT COUNT(*) AS n FROM documents),
dft AS (
  SELECT t, df,
         CAST(ROUND(LN(CAST(n AS DOUBLE) / df) * 1000, 0) AS BIGINT)
         AS idf_q
  FROM (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1) d
  CROSS JOIN nd
  WHERE df <= LEAST(CAST(CEIL(n * 0.1) AS BIGINT), 1000)),
w AS (
  SELECT doc, tf.t, df, tf.tf * idf_q AS w
  FROM tf JOIN dft ON tf.t = dft.t),
norms AS (SELECT doc, SUM(w * w) AS n2 FROM w GROUP BY 1),
wj AS (
  SELECT doc, t, w,
         CASE WHEN df <= 64 THEN 0
              ELSE ('0x' || substr(md5(t || ':'
                                       || CAST(doc AS VARCHAR)), 1, 8))
                   ::BIGINT
                   % CAST(CEIL(CAST(df AS DOUBLE) / 64) AS BIGINT)
         END AS sub
  FROM w),
dots AS (
  SELECT a.doc AS d1, b.doc AS d2, SUM(a.w * b.w) AS dot
  FROM wj a JOIN wj b
    ON a.t = b.t AND a.sub = b.sub AND a.doc < b.doc
  GROUP BY 1, 2)
SELECT d1, d2,
       ROUND(CAST(dot AS DOUBLE)
             / (SQRT(CAST(na.n2 AS DOUBLE))
                * SQRT(CAST(nb.n2 AS DOUBLE))), 6) AS cos
FROM dots
JOIN norms na ON dots.d1 = na.doc
JOIN norms nb ON dots.d2 = nb.doc
ORDER BY cos DESC, d1, d2 LIMIT 20
""", bench=True, diag=_sparse_cosine_guard_diag)
def sparse_cosine_doc_pairs_q(spark, sf_dir):
    """Most-similar document pairs by sparse TF-IDF cosine through
    the postings term-join with BOTH df guards on (relative 10% +
    absolute 1000 — the r5 smoke measured the fraction-only form at
    85x wall for 10x data; the absolute cap is what keeps the term
    join linear, see sparse_cosine_pairs). Exact integerized weights
    so the oracle replays every dot product bit-for-bit; the oracle's
    dft CTE mirrors the LEAST(ceil(0.1n), 1000) threshold.

    r8 (VERDICT r7 #4): band_df=64 gives every term a pair budget
    ∝ df — postings of a df > 64 term are md5-hash-partitioned into
    ceil(df/64) sub-buckets and paired within (term, sub-bucket)
    only, so per-term fan-out is ~df·32 instead of C(df,2) (see
    sparse_cosine_pairs; measured at the 1000x smoke: the (64,1000]
    df band held 372M of 400M candidate pairs from 2.4M postings).
    The oracle's wj CTE replays the identical 32-bit-md5 sub-bucket
    assignment, so both engines stay in lockstep at every SF. At the
    DRIVER compare SF (sf0.01, 500 docs) the df cut is 50 < 64, so
    the rule never fires there and the green hash is bit-identical
    to the r5 contract; at sf0.1 it fires and the oracle replays it
    (verified green)."""
    from vega_spark.functions.search import sparse_cosine_pairs
    docs = _t(spark, sf_dir, "documents")
    return sparse_cosine_pairs(docs, "text", max_df_frac=0.1,
                               max_df=1000, band_df=64, top=20)


@_q("streaming_interval_join_pairs", """
WITH c AS (SELECT user_id, ts AS cts FROM events
           WHERE event_type = 'click'),
v AS (SELECT user_id AS vuser, ts AS vts FROM events
      WHERE event_type = 'view')
SELECT user_id, COUNT(*) AS n_pairs
FROM c JOIN v ON user_id = vuser
  AND vts >= cts AND vts <= cts + INTERVAL 30 MINUTE
GROUP BY 1 ORDER BY 1
""", bench=True)
def streaming_interval_join_pairs_q(spark, sf_dir):
    """STREAM-STREAM interval join end to end: clicks joined to the
    same user's views within the following 30 minutes, both sides
    real readStreams with watermarks, drained and then aggregated
    per user. Single-batch drain makes the inner join complete, so
    the result must equal the batch interval join the oracle runs —
    the stream/batch parity contract again."""
    import tempfile

    from vega_spark.streaming import joins as SJ
    from vega_spark.streaming import sources as SS

    ev = _t(spark, sf_dir, "events")
    stage = tempfile.mkdtemp(prefix="vega_stream_ssj_")
    (ev.select("event_id", "user_id", "event_type",
               F.timestamp_micros(F.expr("ts div 1000")).alias("ts"))
       .write.mode("overwrite").parquet(stage))
    schema = "event_id long, user_id long, event_type string, ts timestamp"

    def build(s):
        src_c = SS.stream_parquet(s, stage, schema)
        src_v = SS.stream_parquet(s, stage, schema)
        clicks = (src_c.filter(F.col("event_type") == "click")
                  .select("user_id", F.col("ts").alias("click_ts"),
                          F.col("event_id").alias("click_id")))
        views = (src_v.filter(F.col("event_type") == "view")
                 .select("user_id", F.col("ts").alias("view_ts"),
                         F.col("event_id").alias("view_id")))
        return (SJ.interval_join(clicks, views, "user_id",
                                 "click_ts", "view_ts",
                                 lower="0 seconds", upper="30 minutes")
                .select("user_id", "click_id", "view_id"))
    return (SS.drain_to_memory(spark, build, stage).groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .orderBy("user_id"))


@_q("streaming_left_outer_interval_join", """
WITH clicks AS (
  SELECT user_id, epoch_us(ts) AS cus, event_id FROM events
  WHERE event_type = 'click'),
views AS (
  SELECT user_id, epoch_us(ts) AS vus, event_id FROM events
  WHERE event_type = 'view')
SELECT c.user_id,
       COUNT(v.event_id) AS n_pairs,
       CAST(SUM(CASE WHEN v.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unmatched
FROM clicks c LEFT JOIN views v
  ON v.user_id = c.user_id
 AND v.vus >= c.cus AND v.vus <= c.cus + 1800000000
GROUP BY 1
""", bench=True)
def streaming_left_outer_interval_join_q(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join with real null
    emission: a click with no same-user view in the next 30 min must
    surface as a null-extended row — but ONLY once the watermark
    proves no match can still arrive. The oracle is the plain batch
    LEFT JOIN: missing null rows (outer semantics not flushed) or
    extra ones (flushed too early) both fail the hash.

    Drain choreography (r7, was 3 staged files on ONE shared dir):
    each side gets its OWN pre-filtered arrival dir — the shared-dir
    form made both FileStreamSources scan the full events file per
    batch and filter complementarily, 5x the rows actually joined —
    staged as (base, one far-future advancer). The advancer's
    watermark is computed at batch-2 end and applied one batch late,
    by the engine's NO-DATA batch (noDataMicroBatches, which
    ``drain_to_memory`` keeps on since the final flush rides on it):
    3 micro-batch cycles instead of the old 4 (two advancers +
    trailing no-data).
    The advancer files and the max-ts probe are plain pyarrow (a
    1-row createDataFrame().write() costs a ~6s Spark job EACH at
    this scale; column-statistics max from parquet metadata costs
    milliseconds). Same-host idle A/B: 13.7s -> 5.9-6.9s."""
    import os
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from vega_spark.streaming import joins as SJ
    from vega_spark.streaming import sources as SS

    ev = _t(spark, sf_dir, "events")
    base = ev.select("event_id", "user_id", "event_type",
                     F.timestamp_micros(F.expr("ts div 1000"))
                     .alias("ts"))
    # max event time from parquet column statistics — no Spark job.
    # r8 (ADVICE): a stats-disabled writer or a directory dataset
    # must fall back to the Spark max() aggregate (the r9 refactor
    # moved the probe into footer_col_max; None = stats missing).
    mx = footer_col_max(sf_dir, "events", "ts")
    if mx is None:
        mx = ev.agg(F.max("ts")).collect()[0][0]  # raw ns since epoch
    if hasattr(mx, "value"):           # pandas.Timestamp -> ns int
        mx = mx.value
    if isinstance(mx, int):            # raw ns since epoch
        adv_us = mx // 1000 + 4 * 3600 * 1_000_000
    else:                              # datetime.datetime
        import calendar
        adv_us = (calendar.timegm(mx.timetuple()) * 1_000_000
                  + mx.microsecond + 4 * 3600 * 1_000_000)
    schema = ("event_id long, user_id long, event_type string, "
              "ts timestamp")

    def stage_side(typ: str):
        stage = tempfile.mkdtemp(prefix=f"vega_stream_loj_{typ}_")
        tmp = tempfile.mkdtemp(prefix="vega_stream_loj_part_")
        base.filter(F.col("event_type") == typ).coalesce(1) \
            .write.mode("overwrite").parquet(tmp)
        src = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(stage, "f1_base.parquet")
        shutil.copy(os.path.join(tmp, src), dst)
        shutil.rmtree(tmp, ignore_errors=True)
        adv = pa.table(
            {"event_id": [-1], "user_id": [-1], "event_type": [typ],
             "ts": pa.array([adv_us], pa.timestamp("us"))},
            schema=pa.schema([("event_id", pa.int64()),
                              ("user_id", pa.int64()),
                              ("event_type", pa.string()),
                              ("ts", pa.timestamp("us"))]))
        adv_dst = os.path.join(stage, "f2_adv.parquet")
        pq.write_table(adv, adv_dst)
        mt = os.path.getmtime(dst)
        os.utime(adv_dst, (mt + 60, mt + 60))
        return stage

    # r9 opt (guide §2.6): the two per-side staging writes are
    # independent single-task jobs — overlap them from a driver
    # thread pool (each writes its own temp dir; the shared `base`
    # frame is read-only to both)
    stage_c, stage_v = X_run_overlapped(
        lambda: stage_side("click"), lambda: stage_side("view"))

    def build(s):
        src_c = SS.stream_parquet(s, stage_c, schema,
                                  max_files_per_trigger=1)
        src_v = SS.stream_parquet(s, stage_v, schema,
                                  max_files_per_trigger=1)
        clicks = src_c.select("user_id", F.col("ts").alias("click_ts"),
                              F.col("event_id").alias("click_id"))
        views = src_v.select(F.col("user_id").alias("user_id"),
                             F.col("ts").alias("view_ts"),
                             F.col("event_id").alias("view_id"))
        return (SJ.interval_join(clicks, views, "user_id",
                                 "click_ts", "view_ts",
                                 lower="0 seconds", upper="30 minutes",
                                 watermark_delay="10 minutes",
                                 how="leftOuter")
                .select("user_id", "click_id", "view_id"))

    def n_null(sink):
        return sink.filter((F.col("user_id") >= 0)
                           & F.col("view_id").isNull()).count()
    # r8 (ADVICE): the final outer flush rides on the engine's no-data
    # micro-batch completing inside the drain. Verify the null-extended
    # rows actually landed (the memory sink is driver-local, this is
    # cheap); the helper runs one extra drain cycle if the no-data
    # batch raced, loud failure over a silently wrong answer otherwise.
    out = SS.drain_to_memory(spark, build, stage_c, stage_v,
                             settled=lambda sink: n_null(sink) > 0)
    if n_null(out) == 0:
        # r9 (ADVICE): zero null-extended rows is data-dependent —
        # legitimate when every click has a same-user view inside the
        # interval. Only fail after the batch-side anti-join proves
        # unmatched clicks exist (every base click's window IS
        # finalized here: the advancer sits 4h past max ts vs a 30min
        # bound + 10min delay).
        cb = base.filter(F.col("event_type") == "click") \
            .select("user_id", F.col("ts").alias("cts"))
        vb = base.filter(F.col("event_type") == "view") \
            .select(F.col("user_id").alias("vu"),
                    F.col("ts").alias("vts"))
        expected = cb.join(
            vb, (F.col("user_id") == F.col("vu"))
            & (F.col("vts") >= F.col("cts"))
            & (F.col("vts") <= F.col("cts")
               + F.expr("INTERVAL 30 MINUTES")),
            "left_anti").count()
        assert expected == 0, (
            "streaming LOJ outer flush missing: batch side "
            f"expects {expected} null-extended rows, memory "
            "sink has none after drain")
    return (out.filter(F.col("user_id") >= 0)
            .groupBy("user_id")
            .agg(F.count("view_id").alias("n_pairs"),
                 F.sum(F.when(F.col("view_id").isNull(), 1)
                       .otherwise(0)).alias("n_unmatched")))


@_q("read_merge_schema_evolution", """
WITH v1 AS (
  SELECT o_orderkey, o_totalprice, NULL AS o_discount_pct
  FROM orders WHERE o_orderkey % 2 = 0),
v2 AS (
  SELECT o_orderkey, o_totalprice,
         CAST(o_orderkey % 10 AS DOUBLE) AS o_discount_pct
  FROM orders WHERE o_orderkey % 2 = 1),
u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o_discount_pct IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_legacy,
       ROUND(SUM(COALESCE(o_discount_pct, 0)), 2) AS sum_discount,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM u
""", bench=True)
def read_merge_schema_evolution_q(spark, sf_dir):
    """Schema evolution at the SOURCE: two parquet generations (v2
    adds a column) read as ONE table via mergeSchema — legacy rows
    surface NULL for the new column. The capability every long-lived
    100 TB dataset needs; the oracle replays the union semantics."""
    import tempfile

    orders = _t(spark, sf_dir, "orders")
    stage = tempfile.mkdtemp(prefix="vega_evolve_")
    (orders.filter(F.col("o_orderkey") % 2 == 0)
     .select("o_orderkey", "o_totalprice")
     .write.mode("overwrite").parquet(stage + "/gen=1"))
    (orders.filter(F.col("o_orderkey") % 2 == 1)
     .select("o_orderkey", "o_totalprice",
             (F.col("o_orderkey") % 10).cast("double")
             .alias("o_discount_pct"))
     .write.mode("overwrite").parquet(stage + "/gen=2"))
    merged = (spark.read.option("mergeSchema", "true")
              .option("recursiveFileLookup", "true").parquet(stage))
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_discount_pct").isNull(), 1).otherwise(0))
        .alias("n_legacy"),
        F.round(F.sum(F.coalesce(F.col("o_discount_pct"), F.lit(0.0))),
                2).alias("sum_discount"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"))


@_q("geo_trajectory_users", f"""
WITH p AS (
  SELECT user_id AS k, ts, event_id AS i,
         {_GEO_PT.format(k='event_id', la='la', lo='lo')}
  FROM events),
s AS (
  SELECT k, la, lo,
         LAG(la) OVER (PARTITION BY k ORDER BY ts, i) AS pla,
         LAG(lo) OVER (PARTITION BY k ORDER BY ts, i) AS plo
  FROM p)
SELECT k AS user_id, COUNT(*) AS n_steps,
       ROUND(CAST(SUM(CAST(ROUND(SQRT((la - pla) * (la - pla)
                                      + (lo - plo) * (lo - plo))
                                 * 1e6, 0) AS BIGINT)) AS DOUBLE)
             / 1e6, 6) AS path_deg
FROM s WHERE pla IS NOT NULL
GROUP BY 1 ORDER BY 1
""", bench=True)
def geo_trajectory_users_q(spark, sf_dir):
    """Per-user trajectory length over md5-synthesized per-event
    coordinates — one keyed window pass, 1e-6-quantized steps so the
    fold is an exact integer sum."""
    from vega_spark.functions.geo import synthetic_coords, trajectory_length
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")))
    pts = synthetic_coords(ev, "event_id")
    return trajectory_length(pts, "user_id", "ts", "event_id")


@_q("geo_copresence_users", f"""
WITH grid AS (
  SELECT 45.0 / CAST(POWER(2, LEAST(8, GREATEST(0,
           CAST(CEIL(0.5 * LOG2(COUNT(*) / 200000.0)) AS BIGINT))))
         AS DOUBLE) AS c
  FROM events),
q0 AS (
  SELECT user_id AS k,
         CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS h,
         (('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
          % 1800000) / 10000.0 - 90.0 AS la,
         (('0x' || substr(md5(CAST(event_id AS VARCHAR)), 9, 8))::BIGINT
          % 3600000) / 10000.0 - 180.0 AS lo
  FROM events),
pres0 AS (
  SELECT DISTINCT k, h,
         CAST(FLOOR(la / (SELECT c FROM grid)) AS BIGINT) AS cx,
         CAST(FLOOR(lo / (SELECT c FROM grid)) AS BIGINT) AS cy
  FROM q0),
pres AS (
  SELECT k, h, cx, cy FROM pres0
  QUALIFY ROW_NUMBER() OVER (PARTITION BY h, cx, cy ORDER BY k) <= 200)
SELECT a.k AS k1, b.k AS k2, COUNT(*) AS n_shared
FROM pres a JOIN pres b
  ON a.h = b.h AND a.cx = b.cx AND a.cy = b.cy AND a.k < b.k
GROUP BY 1, 2
ORDER BY n_shared DESC, k1, k2 LIMIT 20
""", bench=True, note=(
    "DENSITY-ADAPTIVE grid since r7: cell edge halves every 4x "
    "points (adaptive_cell_deg), so cell count tracks n and bucket "
    "occupancy stays ~constant — under the r6 FIXED 32-cell grid, "
    "occupancy grew linearly and within-bucket pairs quadratically "
    "(84.9x wall at 300x; 411x at 100x under cap=1000). "
    "max_bucket=200 remains as a hot-spot backstop, no longer the "
    "safety mechanism"))
def geo_copresence_users_q(spark, sf_dir):
    """Co-presence contact pairs: users sharing a (grid cell, hour)
    bucket, ranked by shared buckets — candidates generated per
    bucket via the equi-join, never across the population. The
    oracle's pres CTE mirrors the operator's max_bucket cap
    (r5 ADVICE: an uncapped oracle silently diverges once any
    (hour, cell) bucket exceeds the cap at denser data).

    r7 (r6 verdict #3): the grid is now DENSITY-ADAPTIVE — cell edge
    45.0 / 2^ceil(0.5*log2(n/200k)) from one metadata-cheap count(),
    so cell count grows ~linearly with points and expected bucket
    occupancy stays constant (adaptive_cell_deg, functions/geo.py).
    Under the old FIXED 32-cell grid, occupancy grew linearly and
    within-bucket pairing quadratically until the cap plateaued it —
    the suite's steepest scale curve (84.9x wall at 300x) and the
    only operator whose safety rested on truncation rather than
    layout. The oracle's grid CTE replays the same formula (libm
    log2/ceil parity verified; 45/2^k division exact). At every test
    SF (n <= 200k) the subdivision is 1 — results bit-identical to
    the r6-green contract. max_bucket=200 stays as the hot-spot
    backstop only."""
    from vega_spark.functions.geo import (adaptive_cell_deg,
                                          copresence_pairs,
                                          synthetic_coords)
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")))
    # grid sizing needs only the events row count — parquet footer
    # stats instead of a count job (r9 opt, the als copart/footer_rows
    # pattern: estimator-only, falls back to counting when footers
    # are unreadable; same value by construction — ev is the full
    # events table, one row per source row)
    n_events = footer_rows(sf_dir, "events")
    cell = adaptive_cell_deg(ev.count() if n_events is None else n_events,
                             base_deg=45.0)
    pts = synthetic_coords(ev, "event_id")
    return copresence_pairs(pts, "user_id", "ts", cell_deg=cell, top=20,
                            max_bucket=200)


@_q("funnel_time_boxed_1h_24h", """
WITH e AS (
  SELECT user_id AS u, event_type AS t, epoch_us(ts) AS ts FROM events),
u1 AS (
  SELECT u, MIN(CASE WHEN t = 'view' THEN ts END) AS t1
  FROM e GROUP BY 1),
u2 AS (
  SELECT e.u,
         MIN(CASE WHEN t = 'click' AND e.ts > t1
                       AND e.ts <= t1 + 3600000000 THEN e.ts END) AS t2
  FROM e JOIN u1 ON e.u = u1.u GROUP BY 1),
u3 AS (
  SELECT e.u,
         MIN(CASE WHEN t = 'purchase' AND e.ts > t2
                       AND e.ts <= t2 + 86400000000 THEN e.ts END) AS t3
  FROM e JOIN u2 ON e.u = u2.u GROUP BY 1)
SELECT CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stage1,
       CAST(SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stage2_within,
       CAST(SUM(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stage3_within
FROM u1 JOIN u2 USING (u) JOIN u3 USING (u)
""", bench=True)
def funnel_time_boxed_1h_24h_q(spark, sf_dir):
    """Deadline funnel: first view → click within 1h → purchase
    within 24h, exact integer-µs comparisons, one user exchange."""
    from vega_spark.functions.analytics import funnel_time_boxed
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts div 1000").alias("ts_us"))
    return funnel_time_boxed(ev)


@_q("dau_wau_stickiness", """
WITH pres AS (
  SELECT DISTINCT user_id AS u,
         CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS d
  FROM events),
dau AS (SELECT d AS day, COUNT(*) AS dau FROM pres GROUP BY 1),
votes AS (
  SELECT u, d + x AS day
  FROM pres CROSS JOIN (SELECT UNNEST([0, 1, 2, 3, 4, 5, 6]) AS x)),
wau AS (SELECT day, COUNT(DISTINCT u) AS wau FROM votes GROUP BY 1),
fst AS (
  SELECT d0 AS day, COUNT(*) AS new_users
  FROM (SELECT u, MIN(d) AS d0 FROM pres GROUP BY 1) GROUP BY 1)
SELECT day, dau, wau, COALESCE(new_users, 0) AS new_users,
       ROUND(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
FROM dau JOIN wau USING (day) LEFT JOIN fst USING (day)
ORDER BY day
""", bench=True)
def dau_wau_stickiness_q(spark, sf_dir):
    """Exact DAU / trailing-7-day WAU / stickiness per day via the
    presence fan-out (rolling DISTINCT as a bounded-frame vote
    explode) — no window function over raw events anywhere."""
    from vega_spark.functions.analytics import dau_wau
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return dau_wau(ev)


@_q("corr_qty_discount_by_flag", """
WITH s AS (
  SELECT l_returnflag AS grp, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM (SELECT l_returnflag,
               CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS x,
               CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS y
        FROM lineitem)
  GROUP BY 1)
SELECT grp AS l_returnflag, n,
       ROUND(CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
                   AND CAST(n * syy - sy * sy AS DOUBLE) > 0
             THEN CAST(n * sxy - sx * sy AS DOUBLE)
                  / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                     * SQRT(CAST(n * syy - sy * sy AS DOUBLE))) END, 6)
       AS corr
FROM s ORDER BY 1
""", bench=True)
def corr_qty_discount_by_flag_q(spark, sf_dir):
    """Per-group Pearson correlation (quantity vs discount per
    returnflag) from exact integerized sufficient statistics."""
    from vega_spark.operators.stats import corr_by_group
    li = _t(spark, sf_dir, "lineitem")
    return corr_by_group(li, "l_returnflag", "l_quantity", "l_discount")


@_q("activity_heatmap_dow_hour", """
WITH cells AS (
  SELECT (CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) + 3) % 7 AS dow,
         CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) % 24 AS hod,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2),
tot AS (SELECT SUM(n) AS t FROM cells)
SELECT dow, hod, n, ROUND(CAST(n AS DOUBLE) / t, 6) AS share
FROM cells CROSS JOIN tot ORDER BY dow, hod
""", bench=True)
def activity_heatmap_dow_hour_q(spark, sf_dir):
    """Weekly seasonality fingerprint: 168-cell dow × hour counts
    and traffic shares, epoch-arithmetic day-of-week."""
    from vega_spark.functions.analytics import activity_heatmap
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return activity_heatmap(ev)


@_q("session_depth_bounce", f"""
WITH {_SESSIONS_30M_CTE},
c AS (SELECT COUNT(*) AS n FROM s GROUP BY user_id, sess),
b AS (
  SELECT CASE WHEN n = 1 THEN '1 (bounce)' WHEN n <= 2 THEN '2'
              WHEN n <= 5 THEN '3-5' WHEN n <= 10 THEN '6-10'
              ELSE '11+' END AS depth,
         COUNT(*) AS n_sessions
  FROM c GROUP BY 1),
tot AS (SELECT SUM(n_sessions) AS t FROM b)
SELECT depth, n_sessions,
       ROUND(CAST(n_sessions AS DOUBLE) / t, 6) AS share
FROM b CROSS JOIN tot ORDER BY depth
""", bench=True)
def session_depth_bounce_q(spark, sf_dir):
    """Session depth distribution + bounce share (30-min gap
    sessions bucketed by event count)."""
    from vega_spark.functions.analytics import session_depth_stats
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.timestamp_micros(F.expr("ts div 1000")).alias("ts"))
    return session_depth_stats(ev)


@_q("attribution_time_decay", """
WITH base AS (
  SELECT user_id AS u, event_type AS t, epoch_us(ts) AS us
  FROM events),
conv AS (SELECT u, us AS cts FROM base WHERE t = 'purchase'),
touch AS (SELECT u AS tu, t, us AS tts FROM base
          WHERE t <> 'purchase'),
j AS (
  SELECT touch.t,
         CAST(ROUND(POWER(2.0, -CAST(cts - tts AS DOUBLE)
                                / 21600000000.0) * 1e6, 0) AS BIGINT)
         AS cq
  FROM conv JOIN touch ON conv.u = touch.tu
    AND tts < cts AND tts >= cts - 86400000000)
SELECT t AS channel, COUNT(*) AS n_touches,
       ROUND(CAST(SUM(cq) AS DOUBLE) / 1e6, 6) AS credit
FROM j GROUP BY 1 ORDER BY 1
""", bench=True)
def attribution_time_decay_q(spark, sf_dir):
    """Time-decay multi-touch attribution (24h lookback, 6h
    half-life): keyed equi-join on user with the window as a join
    filter, per-touch credits quantized to exact integers."""
    from vega_spark.functions.analytics import time_decay_attribution
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return time_decay_attribution(ev)


@_q("dod_wow_event_changes", """
WITH daily AS (
  SELECT event_type AS k, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS d,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2)
SELECT a.k AS event_type, a.d AS day, a.n,
       ROUND(CAST(a.n - b.n AS DOUBLE) / b.n, 6) AS dod_pct,
       ROUND(CAST(a.n - c.n AS DOUBLE) / c.n, 6) AS wow_pct
FROM daily a
LEFT JOIN daily b ON a.k = b.k AND a.d = b.d + 1
LEFT JOIN daily c ON a.k = c.k AND a.d = c.d + 7
ORDER BY 1, 2
""", bench=True)
def dod_wow_event_changes_q(spark, sf_dir):
    """Day-over-day / week-over-week deltas per event type —
    calendar-gap-safe self-equi-joins on the bounded daily grid."""
    from vega_spark.functions.analytics import dod_wow_change
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return dod_wow_change(ev)


@_q("fulfillment_lag_by_priority", """
WITH lag AS (
  SELECT o.o_orderpriority AS pri,
         CAST(FLOOR(epoch(l.l_shipdate) / 86400) AS BIGINT)
         - CAST(FLOOR(epoch(o.o_orderdate) / 86400) AS BIGINT) AS days
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
SELECT pri AS o_orderpriority, COUNT(*) AS n,
       MIN(days) AS min_days, MAX(days) AS max_days,
       CAST(SUM(days) AS BIGINT) AS total_days,
       ROUND(CAST(SUM(days) AS DOUBLE) / COUNT(*), 6) AS avg_days
FROM lag GROUP BY 1 ORDER BY 1
""", bench=True)
def fulfillment_lag_by_priority_q(spark, sf_dir):
    """Order→ship fulfillment lag per priority: exact day arithmetic
    across the orders⋈lineitem join (broadcast-eligible dimension
    flow), integer sums with one final division."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    oday = (F.unix_timestamp(F.col("o_orderdate")).cast("long")
            / 86400).cast("long")
    sday = (F.unix_timestamp(F.col("l_shipdate")).cast("long")
            / 86400).cast("long")
    j = (o.select("o_orderkey", "o_orderpriority", oday.alias("od"))
         .join(li.select("l_orderkey", sday.alias("sd")),
               F.col("o_orderkey") == F.col("l_orderkey")))
    days = F.col("sd") - F.col("od")
    return (j.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min(days).alias("min_days"),
                 F.max(days).alias("max_days"),
                 F.sum(days).alias("total_days"),
                 F.round(F.sum(days).cast("double") / F.count(F.lit(1)),
                         6).alias("avg_days"))
            .orderBy("o_orderpriority"))


@_q("file_layout_skew_report", """
SELECT COUNT(*) AS total_rows, 1 AS files_positive,
       1 AS bounds_consistent
FROM lineitem
""")
def file_layout_skew_report_q(spark, sf_dir):
    """Storage-layout diagnostic: rows and bytes per underlying
    parquet file via the hidden ``_metadata`` scan column, plus the
    skew ratio (max/avg rows per file) — the report that decides
    whether compact_small_files (operators/layout.py) is worth a
    run. File split is a layout property, so the pinned surface is
    the census INVARIANTS: per-file rows must sum to the true table
    row count (SQL-pinned), file count positive, and min <= max <=
    total. Ratio details stay engine-side in
    tests/test_layout_embeddings.py."""
    li = _t(spark, sf_dir, "lineitem")
    per_file = (li.select(F.col("_metadata.file_path").alias("f"),
                          F.col("_metadata.file_size").alias("sz"))
                .groupBy("f", "sz").agg(F.count(F.lit(1)).alias("rows")))
    return per_file.agg(
        F.sum("rows").alias("total_rows"),
        (F.count(F.lit(1)) >= 1).cast("int").alias("files_positive"),
        ((F.min("rows") <= F.max("rows"))
         & (F.max("rows") <= F.sum("rows"))).cast("int")
        .alias("bounds_consistent"))


@_q("user_feature_mart", """
WITH e AS (
  SELECT user_id AS u, event_type AS t,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS s, event_id AS i
  FROM events),
g AS (
  SELECT *, s - LAG(s) OVER (PARTITION BY u ORDER BY s, i) AS gap
  FROM e)
SELECT u AS user_id, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
       AS n_conversions,
       COUNT(DISTINCT s // 86400) AS active_days,
       MAX(s // 86400) - MIN(s // 86400) + 1 AS span_days,
       ROUND(SUM(cents) / 100.0, 2) AS total_value,
       ROUND(CAST(SUM(cents) AS DOUBLE) / 100.0 / COUNT(*), 6)
       AS mean_value,
       MAX(gap) AS max_gap_s
FROM g GROUP BY 1 ORDER BY 1
""", bench=True)
def user_feature_mart_q(spark, sf_dir):
    """Churn/LTV per-user feature table in one exchange (window +
    aggregate share the user partitioning); exact integer stats."""
    from vega_spark.functions.mlprep import user_feature_mart
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return user_feature_mart(ev)


@_q("custom_sink_jsonl_roundtrip", """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events WHERE event_type = 'click'
""", bench=True)
def custom_sink_jsonl_roundtrip_q(spark, sf_dir):
    """Custom Python DataSource SINK end to end: click events written
    through the vega_jsonl two-phase-commit writer (task temp files →
    driver commit renames), then read back with the native JSON
    reader and aggregated — the write-side twin of
    custom_source_events. The oracle recomputes from the source
    table, so a dropped/partial/duplicated task file would fail the
    hash."""
    import tempfile

    from vega_spark.sources.custom_source import register
    register(spark)
    ev = _t(spark, sf_dir, "events")
    sub = (ev.filter(F.col("event_type") == "click")
           .select("event_id",
                   F.round(F.col("value") * 100, 0).cast("long")
                   .alias("cents")))
    tdir = tempfile.mkdtemp(prefix="vega_jsonl_sink_")
    (sub.write.format("vega_jsonl").option("path", tdir)
     .mode("append").save())
    back = spark.read.schema("event_id long, cents long").json(tdir)
    return back.agg(F.count(F.lit(1)).alias("n_rows"),
                    F.sum("cents").alias("sum_cents"))


# --- north-star: ranked retrieval (BM25 / hybrid RRF / eval metrics) ---------

_BM25_CORE_SQL = """
tok AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                    x -> x != '')) AS term
  FROM documents),
post AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dlen AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
scal AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                (SELECT COUNT(*) FROM tok) AS total_len),
dfreq AS (SELECT term, COUNT(*) AS df_ FROM post GROUP BY 1),
idf AS (SELECT term,
               CAST(ROUND(ln((CAST(n_docs AS DOUBLE) - df_ + 0.5)
                             / (df_ + 0.5) + 1.0) * 1000000.0, 0) AS BIGINT)
                 AS idf_q
        FROM dfreq, scal)
"""

_BM25_SCORE_SQL = """
CAST(ROUND((CAST(idf_q AS DOUBLE) * (CAST(tf AS DOUBLE) * 2.2))
           / (CAST(tf AS DOUBLE)
              + 1.2 * (0.25 + 0.75 * ((CAST(dl AS DOUBLE)
                                       * CAST(n_docs AS DOUBLE))
                                      / CAST(total_len AS DOUBLE)))),
           0) AS BIGINT)
"""

# BM25 score s_micro of each (doc, term) hit of the query
# 'agg scan vector'.
_BM25_HITS_CTE = f"""hits AS (
  SELECT p.doc_id, {_BM25_SCORE_SQL} AS s_micro
  FROM post p JOIN idf USING (term) JOIN dlen USING (doc_id), scal
  WHERE p.term IN ('agg', 'scan', 'vector'))"""


@_q("bm25_rank_docs", f"""
WITH {_BM25_CORE_SQL},
{_BM25_HITS_CTE},
sc AS (SELECT doc_id, SUM(s_micro) AS score_micro FROM hits GROUP BY 1),
ranked AS (
  SELECT doc_id, score_micro,
         ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS rk
  FROM sc)
SELECT doc_id, CAST(score_micro AS BIGINT) AS score_micro, rk
FROM ranked WHERE rk <= 10
""", bench=True)
def bm25_rank_docs_q(spark, sf_dir):
    """BM25 ranked retrieval over the documents corpus: postings
    pruned to the 3 query terms, per-doc EXACT micro-unit score sum
    (idf integerized, one fixed-shape double division per term —
    module docstring of functions/retrieval.py), TakeOrderedAndProject
    head, bounded post-limit rank. The oracle replays tokenize →
    postings → df/idf → score with the identical expression shape."""
    from vega_spark.functions.retrieval import bm25_search
    docs = _t(spark, sf_dir, "documents")
    return bm25_search(docs, ["agg", "scan", "vector"], top=10)


@_q("hybrid_search_rrf", f"""
WITH {_BM25_CORE_SQL},
qt AS (
  SELECT query_id, term FROM (
    SELECT t.doc_id AS query_id, t.term,
           ROW_NUMBER() OVER (PARTITION BY t.doc_id
                              ORDER BY d.df_ ASC, t.term ASC) AS r
    FROM (SELECT DISTINCT doc_id, term FROM tok WHERE doc_id < 3) t
    JOIN dfreq d USING (term))
  WHERE r <= 4),
lexhits AS (
  SELECT qt.query_id, p.doc_id, {_BM25_SCORE_SQL} AS s_micro
  FROM post p JOIN qt USING (term)
  JOIN idf USING (term) JOIN dlen USING (doc_id), scal),
lexsc AS (SELECT query_id, doc_id, SUM(s_micro) AS score_micro
          FROM lexhits GROUP BY 1, 2),
lex AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_micro DESC, doc_id) AS rk
  FROM lexsc),
qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       FROM embeddings WHERE vec_id < 3),
cv AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS cv FROM embeddings),
vs AS (
  SELECT query_id, doc_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv))) AS cos_raw
  FROM qv CROSS JOIN cv),
vec AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, doc_id) AS rk
  FROM vs),
contrib AS (
  SELECT query_id, doc_id,
         CAST(ROUND(1000000000.0 / (60.0 + CAST(rk AS DOUBLE)), 0) AS BIGINT)
           AS c
  FROM (SELECT * FROM lex WHERE rk <= 10
        UNION ALL SELECT * FROM vec WHERE rk <= 10)),
fused AS (SELECT query_id, doc_id, SUM(c) AS rrf_nano
          FROM contrib GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, rrf_nano,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rrf_nano DESC, doc_id) AS rk
  FROM fused)
SELECT query_id, doc_id, CAST(rrf_nano AS BIGINT) AS rrf_nano, rk
FROM ranked WHERE rk <= 5
""", bench=True, adjudicated={"cross-nlj": (
    "scalar corpus-stats attach (n_docs, total_len) into the "
    "BM25 idf computation — global aggregate, 1 row")})
def hybrid_search_rrf_q(spark, sf_dir):
    """Hybrid retrieval capstone: per query doc (ids < 3) a BM25
    candidate list from its 4 rarest terms AND an exact-cosine
    embedding candidate list, fused with Reciprocal Rank Fusion
    (integerized 1e9/(60+rank) contributions, exact int sums). The
    whole pipeline is rank-only across engines — the oracle replays
    term selection, both rankings, and the fusion."""
    from vega_spark.functions import similarity as sim
    from vega_spark.functions.retrieval import (bm25_search_batch,
                                                rarest_query_terms,
                                                rrf_fuse)
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    qdocs = docs.filter(F.col("doc_id") < 3)
    qterms = rarest_query_terms(docs, qdocs, n_terms=4,
                                query_id_col="doc_id")
    lex = bm25_search_batch(docs, qterms, top=10)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    vec = sim.cosine_topk_bruteforce(emb, queries, k=10).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rk")
    return rrf_fuse([lex.select("query_id", "doc_id", "rk"), vec],
                    k0=60, top=5)


@_q("retrieval_mrr_ndcg_trunc", """
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 5),
tscore AS (
  SELECT query_id, e.vec_id AS doc_id,
         list_dot_product(qv, v)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(v, v))) AS cos_raw
  FROM q CROSS JOIN emb e),
truth AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, doc_id) AS trk
  FROM tscore QUALIFY trk <= 10),
sscore AS (
  SELECT query_id, e.vec_id AS doc_id,
         list_dot_product(qv[1:16], v[1:16])
           / (sqrt(list_dot_product(qv[1:16], qv[1:16]))
              * sqrt(list_dot_product(v[1:16], v[1:16]))) AS cos_raw
  FROM q CROSS JOIN emb e),
sys AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, doc_id) AS srk
  FROM sscore QUALIFY srk <= 10),
ideal AS (
  SELECT query_id,
         SUM(CAST(ROUND(CAST(11 - trk AS DOUBLE) * 1000000.0
                        / log2(CAST(trk AS DOUBLE) + 1.0), 0) AS BIGINT))
           AS idcg_micro
  FROM truth GROUP BY 1),
hits AS (
  SELECT t.query_id, COUNT(*) AS n_hits,
         SUM(CAST(ROUND(CAST(11 - t.trk AS DOUBLE) * 1000000.0
                        / log2(CAST(s.srk AS DOUBLE) + 1.0), 0) AS BIGINT))
           AS dcg_micro,
         MAX(CASE WHEN t.trk = 1 THEN
               CAST(ROUND(1000000.0 / CAST(s.srk AS DOUBLE), 0) AS BIGINT)
             END) AS rr_raw
  FROM truth t JOIN sys s USING (query_id, doc_id)
  GROUP BY 1)
SELECT i.query_id,
       COALESCE(n_hits, 0) AS n_hits,
       COALESCE(rr_raw, 0) AS rr_ppm,
       CAST(COALESCE(dcg_micro, 0) AS BIGINT) AS dcg_micro,
       CAST(idcg_micro AS BIGINT) AS idcg_micro,
       CAST(ROUND(CAST(COALESCE(dcg_micro, 0) AS DOUBLE) * 1000000.0
                  / CAST(idcg_micro AS DOUBLE), 0) AS BIGINT) AS ndcg_ppm
FROM ideal i LEFT JOIN hits USING (query_id)
""", bench=True, adjudicated={"cross-nlj": (
    "scalar corpus-stats attach into BM25 + bounded eval-query "
    "set; postings join is term-keyed")})
def retrieval_mrr_ndcg_trunc_q(spark, sf_dir):
    """Retrieval-quality metrics (recall@10 hits / MRR / nDCG@10) of a
    Matryoshka-truncated 16-dim index against the exact full-dim
    ranking — the eval harness every ANN deployment needs (the
    metric sibling of embedding_truncation_recall). All-integer
    output: discounted gains integerized to micros before summing, so
    DCG/IDCG are exact int64 on any engine/partitioning."""
    from vega_spark.functions import similarity as sim
    from vega_spark.functions.retrieval import retrieval_metrics
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    truth = sim.cosine_topk_bruteforce(emb, queries, k=10).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rk")
    emb16 = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    q16 = queries.select("query_id",
                         F.slice("embedding", 1, 16).alias("embedding"))
    system = sim.cosine_topk_bruteforce(emb16, q16, k=10).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rk")
    return retrieval_metrics(truth, system, k=10)


@_q("seq_pairs_events", """
WITH o AS (
  SELECT user_id AS u, event_type AS et,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
s AS (SELECT u, et, rn FROM o WHERE rn <= 30),
p AS (SELECT DISTINCT f.u, f.et AS a, g.et AS b
      FROM s f JOIN s g ON f.u = g.u AND f.rn < g.rn),
sup AS (SELECT a, b, COUNT(*) AS support FROM p GROUP BY 1, 2
        HAVING COUNT(*) >= 5),
pre AS (SELECT et AS a, COUNT(DISTINCT u) AS prefix_support
        FROM s GROUP BY 1)
SELECT a, b, support, prefix_support,
       CAST(ROUND(CAST(support AS DOUBLE) * 1000000.0
                  / CAST(prefix_support AS DOUBLE), 0) AS BIGINT) AS conf_ppm
FROM sup JOIN pre USING (a)
""", bench=True)
def seq_pairs_events_q(spark, sf_dir):
    """Gapped sequential 2-patterns (PrefixSpan-style) over user
    event streams: support and confidence of 'a then later b', each
    user counted once, sequences truncated to their first 30 events
    (bounded per-user window — the per-key guard that keeps the pair
    enumeration ≤ 30² per user at any corpus size)."""
    from vega_spark.functions.seqmine import sequential_pairs
    ev = _t(spark, sf_dir, "events")
    return sequential_pairs(ev, max_len=30, min_support=5)


# ---------------------------------------------------------------------------
# Image perceptual-hash dedup: real pixel decode -> dHash/aHash signatures
# -> pigeonhole hamming blocking. The multimodal near-dup tier (text has
# MinHash/SimHash; images get dHash) — reference has no image ops at all;
# this is the training-pipeline capability layer.
# ---------------------------------------------------------------------------

@_q("image_dhash_census", """
WITH d AS (SELECT doc_id, 8 + doc_id % 25 AS w, 6 + doc_id % 17 AS h
           FROM documents),
dg AS (SELECT doc_id, x.g AS x, y.g AS y,
              ((((x.g * w) // 9) * 31 + ((y.g * h) // 8) * 57) % 256) AS p
       FROM d JOIN generate_series(0, 8) x(g) ON TRUE
              JOIN generate_series(0, 7) y(g) ON TRUE),
dbit AS (SELECT a.doc_id, (a.y * 8 + a.x) AS k,
                CASE WHEN a.p > b.p THEN 1 ELSE 0 END AS bit
         FROM dg a JOIN dg b ON b.doc_id = a.doc_id AND b.y = a.y
                             AND b.x = a.x + 1
         WHERE a.x < 8),
du AS (SELECT doc_id, SUM(bit::HUGEINT << k) AS u FROM dbit GROUP BY doc_id),
ag AS (SELECT doc_id, x.g AS x, y.g AS y,
              ((((x.g * w) // 8) * 31 + ((y.g * h) // 8) * 57) % 256) AS p
       FROM d JOIN generate_series(0, 7) x(g) ON TRUE
              JOIN generate_series(0, 7) y(g) ON TRUE),
at AS (SELECT doc_id, SUM(p) AS total FROM ag GROUP BY doc_id),
abit AS (SELECT ag.doc_id, (ag.y * 8 + ag.x) AS k,
                CASE WHEN ag.p * 64 > at.total THEN 1 ELSE 0 END AS bit
         FROM ag JOIN at ON at.doc_id = ag.doc_id),
au AS (SELECT doc_id, SUM(bit::HUGEINT << k) AS u FROM abit GROUP BY doc_id)
SELECT du.doc_id AS asset_id,
       (CASE WHEN du.u >= 9223372036854775808::HUGEINT
             THEN du.u - 18446744073709551616::HUGEINT
             ELSE du.u END)::BIGINT AS dhash,
       (CASE WHEN au.u >= 9223372036854775808::HUGEINT
             THEN au.u - 18446744073709551616::HUGEINT
             ELSE au.u END)::BIGINT AS ahash
FROM du JOIN au ON au.doc_id = du.doc_id
""", bench=True)
def image_dhash_census_q(spark, sf_dir):
    """REAL perceptual-hash census, oracle-checked bit for bit:
    deterministic pattern PNGs (pixel = (31x+57y) mod 256, dims from
    doc_id) are decoded (stdlib inflate + unfilter), luma'd, nearest-
    resampled to 9x8 / 8x8, and hashed to 64-bit dHash / aHash.
    DuckDB replays every one of the 128 bits from (w, h) alone via
    the pinned nearest index map — any deviation in decode, resample,
    bit order, or the two's-complement wrap fails the hash. Narrow
    end to end (no shuffle)."""
    from vega_spark.functions.multimodal import image_dhash
    return image_dhash(_pattern_pngs(spark, sf_dir))


# The synthetic pattern image of each (w, h) row of cls: its 9x8
# grey grid g, the 64 dHash bits, and hc — cls's columns plus s, the
# dHash as the signed BIGINT with the same 64 bits.
_PATTERN_DHASH_CTE = """g AS (SELECT c.w, c.h, x.g AS x, y.g AS y,
             ((((x.g * c.w) // 9) * 31 + ((y.g * c.h) // 8) * 57) % 256)
               AS p
      FROM cls c JOIN generate_series(0, 8) x(g) ON TRUE
                 JOIN generate_series(0, 7) y(g) ON TRUE),
bit AS (SELECT a.w, a.h, (a.y * 8 + a.x) AS k,
               CASE WHEN a.p > b.p THEN 1 ELSE 0 END AS bit
        FROM g a JOIN g b ON b.w = a.w AND b.h = a.h AND b.y = a.y
                          AND b.x = a.x + 1
        WHERE a.x < 8),
hu AS (SELECT w, h, SUM(bit::HUGEINT << k) AS u FROM bit GROUP BY 1, 2),
hc AS (SELECT c.*,
              (CASE WHEN u >= 9223372036854775808::HUGEINT
                    THEN u - 18446744073709551616::HUGEINT
                    ELSE u END)::BIGINT AS s
       FROM hu JOIN cls c ON c.w = hu.w AND c.h = hu.h)"""


@_q("image_near_dup_hamming", f"""
WITH d AS (SELECT doc_id, 8 + doc_id % 25 AS w, 6 + doc_id % 17 AS h
           FROM documents),
cls AS (SELECT w, h, COUNT(*) AS n FROM d GROUP BY 1, 2),
{_PATTERN_DHASH_CTE},
pairs AS (
  SELECT 0 AS hamming, SUM(n * (n - 1) // 2) AS n_pairs FROM hc
  UNION ALL
  SELECT bit_count(xor(a.s, b.s)) AS hamming, SUM(a.n * b.n) AS n_pairs
  FROM hc a JOIN hc b ON (a.w, a.h) < (b.w, b.h)
  WHERE bit_count(xor(a.s, b.s)) <= 3
  GROUP BY 1)
SELECT hamming, SUM(n_pairs)::BIGINT AS n_pairs
FROM pairs GROUP BY 1 HAVING SUM(n_pairs) > 0
""", bench=True, note=(
    "collapsed-class counting since the r9 opt round: the synthetic "
    "image corpus has only 425 distinct (w,h) pattern classes, so "
    "identical dHashes form size-n/425 classes and the doc-level "
    "pigeonhole self-join emitted g² candidates per class — measured "
    "423x wall for 300x data. Counts now come from class arithmetic "
    "(within-class C(g,2) at hamming 0; cross-class g_a*g_b at the "
    "classes' fp hamming >= 1) over a blocking join of DISTINCT "
    "signatures — 9.1-13.5x across 300x re-runs, decode-bound. "
    "hamming_near_dup_pairs (the pair-ENUMERATING operator) is "
    "unchanged for consumers that need doc pairs; its output is "
    "itself quadratic on identical-signature corpora, so pair "
    "consumers at scale should dedup identical signatures first "
    "(the dedup_simhash_collapsed pattern)"))
def image_near_dup_hamming_q(spark, sf_dir):
    """Image near-dup detection at corpus scale, oracle-checked
    EXHAUSTIVELY: dHash signatures from real pixel decode, then
    pigeonhole bit-chunk blocking (4 chunks of 16 bits — a pair
    within hamming <= 3 must agree exactly on >= 1 chunk, so the
    blocked plan finds exactly the pairs a quadratic scan would)
    and XOR bit_count verification on candidates only. DuckDB
    replays the complete all-pairs answer from the per-class
    signature formula; any candidate the blocking misses or any
    phantom pair fails the count. Linear candidate generation, one
    equi-join shuffle — the 100 TB plan, never all-pairs."""
    from vega_spark.functions.multimodal import (hamming_near_dup_pair_counts,
                                                 image_dhash)
    with_png = _pattern_pngs(spark, sf_dir)
    # r9 opt round (guide §2.5): counts via collapsed signature
    # classes — the doc-level pigeonhole self-join is quadratic in
    # identical-signature class size (425 distinct patterns here, so
    # the 300x smoke read 423x wall for 300x data); the class form
    # blocks over DISTINCT fingerprints and multiplies class sizes,
    # provably the same per-hamming counts (cross-class hamming >= 1,
    # within-class pairs are exactly the hamming-0 C(g,2)). One
    # decode pass: the class table is the only consumer of the
    # signatures and is materialized inside the function.
    return hamming_near_dup_pair_counts(image_dhash(with_png),
                                        "asset_id", "dhash",
                                        max_hamming=3)


@_q("mine_repeated_ngrams", f"""
WITH {_DOC_TOKEN_LISTS_CTE},
tokix AS (
  SELECT doc, unnest(ts) AS t, generate_subscripts(ts, 1) AS i
  FROM base WHERE len(ts) >= 3),
g AS (
  SELECT a.doc, a.t || ' ' || b.t || ' ' || c.t AS ngram
  FROM tokix a
  JOIN tokix b ON a.doc = b.doc AND b.i = a.i + 1
  JOIN tokix c ON a.doc = c.doc AND c.i = a.i + 2),
pd AS (SELECT ngram, doc, COUNT(*) AS c FROM g GROUP BY 1, 2),
agg AS (SELECT ngram, SUM(c)::BIGINT AS total, COUNT(*) AS n_docs
        FROM pd GROUP BY 1 HAVING COUNT(*) >= 2)
SELECT ngram, total, n_docs
FROM agg ORDER BY total DESC, ngram LIMIT 50
""", bench=True)
def mine_repeated_ngrams_q(spark, sf_dir):
    """Corpus-wide duplicated 3-gram census (doc frequency >= 2, top
    50 by total count): the boilerplate/contamination screen that
    feeds span-dedup thresholds. In-row fan-out, two mergeable keyed
    aggregates (no countDistinct expand), TakeOrdered head."""
    from vega_spark.functions.text import mine_repeated_ngrams
    docs = _t(spark, sf_dir, "documents")
    return mine_repeated_ngrams(docs, n=3, min_docs=2, top=50)


@_q("audio_zcr_fingerprint", """
WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS a, 256 + doc_id % 128 AS n
           FROM documents),
s AS (SELECT doc_id, i.g AS i,
             (((a * i.g + doc_id) % 4096) - 2048) AS v, n
      FROM d JOIN generate_series(0, 383) i(g) ON i.g < n),
f AS (SELECT doc_id, (i // 64)::INTEGER AS frame_idx, i, v
      FROM s WHERE i // 64 < LEAST(n // 64, 4)),
amp AS (SELECT doc_id, frame_idx, SUM(ABS(v))::BIGINT AS sum_abs
        FROM f GROUP BY 1, 2),
z AS (SELECT c.doc_id, c.frame_idx,
             SUM(CASE WHEN (c.v < 0) <> (p.v < 0) THEN 1
                 ELSE 0 END)::INTEGER AS zcr
      FROM f c JOIN f p ON p.doc_id = c.doc_id AND p.i = c.i - 1
                        AND p.frame_idx = c.frame_idx
      GROUP BY 1, 2)
SELECT amp.doc_id AS asset_id, amp.frame_idx, z.zcr, amp.sum_abs
FROM amp JOIN z ON z.doc_id = amp.doc_id AND z.frame_idx = amp.frame_idx
""", bench=True)
def audio_zcr_fingerprint_q(spark, sf_dir):
    """REAL audio fingerprint, oracle-checked sample for sample:
    deterministic 16-bit PCM ramps (sample = ((a*i + doc_id) mod
    4096) - 2048) are packed into true RIFF/WAV containers on
    executors, decoded back with the stdlib wave module, and framed
    into zero-crossing counts + exact amplitude sums — DuckDB
    replays both from doc_id alone, so container parse, int16
    byte order, framing, and sign logic must all be exact. The
    per-frame integer pairs are the bucket keys audio dedup joins
    on. Narrow flat-map shape end to end."""
    import pandas as pd

    from vega_spark.functions.multimodal import (audio_zcr_fingerprint,
                                                 make_test_wav)
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for b in batches:
            yield pd.DataFrame({
                "doc_id": b["doc_id"],
                "payload": [make_test_wav(int(i)) for i in b["doc_id"]],
            })

    with_wav = docs.mapInPandas(gen, "doc_id long, payload binary")
    return audio_zcr_fingerprint(with_wav)


@_q("mine_duplicate_spans", """
WITH aug AS (
  SELECT doc_id,
         text || ' alpha beta gamma delta epsilon zeta eta theta'
              || ' iota kappa lambda mu'
              || CASE WHEN doc_id % 2 = 0
                 THEN ' one two three four five six seven eight nine ten'
                 ELSE '' END AS text
  FROM documents),
base AS (SELECT doc_id,
                list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '') AS ts
         FROM aug),
ix AS (SELECT doc_id, ts, generate_subscripts(ts, 1) AS i
       FROM base WHERE len(ts) >= 8),
g AS (SELECT doc_id, i, array_to_string(list_slice(ts, i, i + 7), ' ')
             AS gram
      FROM ix WHERE i <= len(ts) - 7),
dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
m AS (SELECT doc_id, i FROM g JOIN dup USING (gram)),
isl AS (SELECT doc_id, i,
               i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i)
               AS grp
        FROM m)
SELECT doc_id, (MIN(i) - 1)::BIGINT AS start_pos,
       (COUNT(*) + 7)::BIGINT AS span_len
FROM isl GROUP BY doc_id, grp
""", bench=True, note=(
    "k-gram digest census: ONE corpus-wide digest-keyed shuffle "
    "(32-byte unhexed digests) + per-doc island windows. r10: the "
    "duplicate mark is a count() OVER (PARTITION BY digest) window — "
    "the r1-r9 groupBy+join-back shape re-derived the whole gram "
    "fan-out as the join's probe side (exchange not reusable across "
    "the differing map stages), which carried most of the r9 "
    "300x->1000x spill band (4.36x wall for 3.33x data). Measured "
    "same-session at 1000x: join shape 429.9s, window 284.8s, window "
    "+ footer-sized repartition 277.7s -> in-decade ratio 2.35x for "
    "3.33x data (sub-linear; band closed). The digest shuffle is "
    "additionally sized from footer text bytes (~44B gram per 6B "
    "text, 128 MB/partition target; no-op at small SF where the "
    "session default exceeds it). r9's 16-byte-md5 key rejection "
    "stands — sha2-256 keys stay"))
def mine_duplicate_spans_q(spark, sf_dir):
    """Exact-substring duplicate-span mining (Lee et al. 2022 shape)
    over the corpus with a known boilerplate injection: every doc
    gets a 12-token shared suffix, even docs a further 10-token tail,
    so maximal duplicated spans land at document-dependent offsets
    with alignment the fixed-block span_dedup cannot see. DuckDB
    replays the full sliding-window pipeline; island starts/lengths
    must match per doc exactly. One digest-keyed corpus shuffle +
    per-doc bounded windows."""
    from vega_spark.functions.dedup import mine_duplicate_spans
    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" alpha beta gamma delta epsilon zeta eta theta"
                  " iota kappa lambda mu"),
            F.when(F.col("doc_id") % 2 == 0,
                   F.lit(" one two three four five six seven eight"
                         " nine ten")).otherwise(F.lit(""))
        ).alias("text"))
    out = mine_duplicate_spans(aug, "text", "doc_id", k=8, min_count=2,
                               # size the digest shuffle from footer
                               # metadata (no Spark job; no-op below
                               # the session partition count)
                               est_text_bytes=footer_uncompressed_bytes(
                                   sf_dir, "documents"))
    return out.select("doc_id",
                      F.col("start_pos").cast("long").alias("start_pos"),
                      F.col("span_len").cast("long").alias("span_len"))


@_q("maxsim_late_interaction", f"""
WITH {_DOC_TOKEN_LISTS_CTE},
dt AS (SELECT DISTINCT doc AS doc_id, unnest(ts) AS t FROM base),
q AS (SELECT * FROM (VALUES ('agg'), ('scan'), ('vector')) v(qt)),
dotj AS (
  SELECT d.doc_id, d.t, q.qt,
         SUM(((('0x' || substr(md5(d.t || '|' || j.g::VARCHAR), 1, 4))
               ::BIGINT % 17) - 8)
             * ((('0x' || substr(md5(q.qt || '|' || j.g::VARCHAR), 1, 4))
                 ::BIGINT % 17) - 8)) AS dot
  FROM dt d CROSS JOIN q JOIN generate_series(0, 3) j(g) ON TRUE
  GROUP BY 1, 2, 3),
mx AS (SELECT doc_id, qt, MAX(dot) AS m FROM dotj GROUP BY 1, 2),
sc AS (SELECT doc_id, SUM(m)::BIGINT AS score FROM mx GROUP BY 1),
ranked AS (SELECT doc_id, score,
                  ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
           FROM sc)
SELECT doc_id, score, rk FROM ranked WHERE rk <= 10
""", bench=True)
def maxsim_late_interaction_q(spark, sf_dir):
    """ColBERT-style late-interaction (MaxSim) retrieval: per query
    term, the max token-level dot product within each doc; per doc,
    the sum over query terms — token embeddings are md5-derived
    integer vectors so DuckDB replays every dot product exactly.
    Query vectors fold into codegen as literals (no join); one keyed
    aggregate + TakeOrdered head."""
    from vega_spark.functions.retrieval import maxsim_search
    docs = _t(spark, sf_dir, "documents")
    return maxsim_search(docs, ["agg", "scan", "vector"], dim=4, top=10)


@_q("parquet_footer_census", """
SELECT 'l_orderkey' AS col, COUNT(*) AS num_values,
       COUNT(*) - COUNT(l_orderkey) AS null_count,
       MIN(l_orderkey) AS min_val, MAX(l_orderkey) AS max_val
FROM lineitem
UNION ALL
SELECT 'l_partkey', COUNT(*), COUNT(*) - COUNT(l_partkey),
       MIN(l_partkey), MAX(l_partkey) FROM lineitem
UNION ALL
SELECT 'l_linenumber', COUNT(*), COUNT(*) - COUNT(l_linenumber),
       MIN(l_linenumber)::BIGINT, MAX(l_linenumber)::BIGINT
FROM lineitem
""", bench=True)
def parquet_footer_census_q(spark, sf_dir):
    """Metadata-only footer statistics census over lineitem's parquet
    files: value counts, null counts, min/max per column read from
    ROW-GROUP FOOTERS (pyarrow, no data pages touched), aggregated
    across groups/files. The oracle recomputes the same quantities by
    SCANNING the table — footer stats and data must agree exactly, so
    a stats-lying writer (the thing that silently breaks data
    skipping) is caught. SF-independent: aggregation collapses any
    row-group layout."""
    import glob
    import os

    from vega_spark.operators.layout import parquet_footer_census
    target = os.path.join(sf_dir, "lineitem.parquet")
    paths = sorted(glob.glob(os.path.join(target, "*.parquet"))) \
        if os.path.isdir(target) else [target]
    out = parquet_footer_census(
        spark, paths, ["l_orderkey", "l_partkey", "l_linenumber"])
    return out.select("col", "num_values", "null_count",
                      "min_val", "max_val")


@_q("mmr_diverse_rerank", f"""
WITH {_BM25_CORE_SQL},
{_BM25_HITS_CTE},
sc AS (SELECT doc_id, SUM(s_micro) AS rel FROM hits GROUP BY 1),
cand AS MATERIALIZED (SELECT doc_id, rel FROM sc ORDER BY rel DESC, doc_id LIMIT 20),
ct AS MATERIALIZED (SELECT DISTINCT t.doc_id, t.term FROM tok t JOIN cand USING (doc_id)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM ct GROUP BY 1),
inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
          FROM ct a JOIN ct b ON a.term = b.term AND a.doc_id <> b.doc_id
          GROUP BY 1, 2),
sim AS MATERIALIZED (SELECT da, db,
               CAST(FLOOR(1000000.0 * i / (na.n + nb.n - i)) AS BIGINT) AS s
        FROM inter JOIN sz na ON na.doc_id = da
                   JOIN sz nb ON nb.doc_id = db),
p1 AS (SELECT doc_id, rel FROM cand ORDER BY rel DESC, doc_id LIMIT 1),
r2 AS (SELECT c.doc_id, c.rel, c.rel - COALESCE(MAX(s.s), 0) AS mmr
       FROM cand c LEFT JOIN sim s ON s.da = c.doc_id
            AND s.db IN (SELECT doc_id FROM p1)
       WHERE c.doc_id NOT IN (SELECT doc_id FROM p1) GROUP BY 1, 2),
p2 AS (SELECT doc_id, rel FROM r2 ORDER BY mmr DESC, doc_id LIMIT 1),
s2 AS (SELECT doc_id FROM p1 UNION ALL SELECT doc_id FROM p2),
r3 AS (SELECT c.doc_id, c.rel, c.rel - COALESCE(MAX(s.s), 0) AS mmr
       FROM cand c LEFT JOIN sim s ON s.da = c.doc_id
            AND s.db IN (SELECT doc_id FROM s2)
       WHERE c.doc_id NOT IN (SELECT doc_id FROM s2) GROUP BY 1, 2),
p3 AS (SELECT doc_id, rel FROM r3 ORDER BY mmr DESC, doc_id LIMIT 1),
s3 AS (SELECT doc_id FROM s2 UNION ALL SELECT doc_id FROM p3),
r4 AS (SELECT c.doc_id, c.rel, c.rel - COALESCE(MAX(s.s), 0) AS mmr
       FROM cand c LEFT JOIN sim s ON s.da = c.doc_id
            AND s.db IN (SELECT doc_id FROM s3)
       WHERE c.doc_id NOT IN (SELECT doc_id FROM s3) GROUP BY 1, 2),
p4 AS (SELECT doc_id, rel FROM r4 ORDER BY mmr DESC, doc_id LIMIT 1),
s4 AS (SELECT doc_id FROM s3 UNION ALL SELECT doc_id FROM p4),
r5 AS (SELECT c.doc_id, c.rel, c.rel - COALESCE(MAX(s.s), 0) AS mmr
       FROM cand c LEFT JOIN sim s ON s.da = c.doc_id
            AND s.db IN (SELECT doc_id FROM s4)
       WHERE c.doc_id NOT IN (SELECT doc_id FROM s4) GROUP BY 1, 2),
p5 AS (SELECT doc_id, rel FROM r5 ORDER BY mmr DESC, doc_id LIMIT 1)
SELECT 1 AS rk, doc_id, CAST(rel AS BIGINT) AS rel FROM p1
UNION ALL SELECT 2, doc_id, CAST(rel AS BIGINT) FROM p2
UNION ALL SELECT 3, doc_id, CAST(rel AS BIGINT) FROM p3
UNION ALL SELECT 4, doc_id, CAST(rel AS BIGINT) FROM p4
UNION ALL SELECT 5, doc_id, CAST(rel AS BIGINT) FROM p5
""", bench=True)
def mmr_diverse_rerank_q(spark, sf_dir):
    """MMR diversity re-ranking of the BM25 head: 5 greedy picks from
    the top-20 maximizing rel − max-sim-to-selected (λ=1/2 scaled,
    exact micro integers; sim = token-overlap Jaccard via one
    fixed-shape floor division). The oracle UNROLLS all five greedy
    steps as chained CTEs — selection order, tie-breaks, and every
    pairwise penalty must match. Candidate generation + the pairwise
    sim matrix are distributed and bounded (≤20², token equi-join,
    never corpus-wide); only the ≤(20 + 20²)-row greedy state enters
    a single cogrouped-pandas task."""
    from vega_spark.functions.retrieval import mmr_rerank
    docs = _t(spark, sf_dir, "documents")
    return mmr_rerank(docs, ["agg", "scan", "vector"], top_n=20, k=5)


@_q("streaming_versioned_rollup", """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
       4 AS n_versions
FROM events GROUP BY 1
""", bench=True)
def streaming_versioned_rollup_q(spark, sf_dir):
    """Streaming ingest INTO the versioned-table layer: arrivals are
    staged as 4 files, drained one file per micro-batch, and each
    epoch's keyed aggregate is additively merged with the previous
    snapshot and committed as a new immutable version (atomic
    pointer flip + manifest — operators/versioned). After the drain,
    the LATEST snapshot must equal the all-at-once batch aggregate
    (the stream/batch parity contract) and the history must hold
    exactly one version per micro-batch. Per-epoch cost is
    metric-table-sized — raw history is never rescanned."""
    import os
    import shutil
    import tempfile
    import uuid

    from vega_spark.operators.versioned import history, read_snapshot
    from vega_spark.streaming import sources as SS
    from vega_spark.streaming.sinks import stream_to_versioned

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"))
    stage = tempfile.mkdtemp(prefix="vega_stream_ver_")
    table = os.path.join(stage, "rollup_table")
    ev.repartition(4).write.mode("overwrite") \
        .parquet(os.path.join(stage, "arrivals"))

    stream = SS.stream_parquet(
        spark, os.path.join(stage, "arrivals"),
        "event_type string, cents long", max_files_per_trigger=1)
    # NOTE: the interval joins' state-partition pin was A/B'd here
    # too and had NO effect (3.94s pinned vs 3.68s unpinned, r6) —
    # this sink aggregates per epoch through foreachBatch (a *batch*
    # plan per micro-batch), so there is no streaming state store to
    # right-size; left at session defaults.
    q = stream_to_versioned(
        stream, table, ["event_type"],
        {"n": F.count(F.lit(1)), "sum_cents": F.sum("cents")},
        checkpoint=os.path.join(stage, "ckpt_" + uuid.uuid4().hex[:8]))
    q.awaitTermination(300)
    n_versions = history(spark, table).count()
    out = (read_snapshot(spark, table)
           .withColumn("n_versions", F.lit(n_versions).cast("int")))
    shutil.rmtree(os.path.join(stage, "arrivals"), ignore_errors=True)
    return out


@_q("ppr_part_affinity", f"""
WITH {_PART_PAIRS_CTE},
sym AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
seeds AS (SELECT u FROM deg ORDER BY u LIMIT 2),
pvec AS (SELECT d.u, d.deg,
                CASE WHEN s.u IS NOT NULL THEN 1.0 ELSE 0.0 END AS p
         FROM deg d LEFT JOIN seeds s ON s.u = d.u),
r0 AS (SELECT u, deg, p, p AS rank FROM pvec),
r1 AS (SELECT pv.u, pv.deg, pv.p, 0.15 * pv.p + 0.85 * c.in_sum AS rank
       FROM (SELECT s.v AS u, SUM(r.rank / r.deg) AS in_sum
             FROM sym s JOIN r0 r ON s.u = r.u GROUP BY s.v) c
       JOIN pvec pv ON pv.u = c.u),
r2 AS (SELECT pv.u, pv.deg, pv.p, 0.15 * pv.p + 0.85 * c.in_sum AS rank
       FROM (SELECT s.v AS u, SUM(r.rank / r.deg) AS in_sum
             FROM sym s JOIN r1 r ON s.u = r.u GROUP BY s.v) c
       JOIN pvec pv ON pv.u = c.u),
r3 AS (SELECT pv.u, pv.deg, pv.p, 0.15 * pv.p + 0.85 * c.in_sum AS rank
       FROM (SELECT s.v AS u, SUM(r.rank / r.deg) AS in_sum
             FROM sym s JOIN r2 r ON s.u = r.u GROUP BY s.v) c
       JOIN pvec pv ON pv.u = c.u)
SELECT u AS node, ROUND(rank, 6) AS rank FROM r3 WHERE rank > 0
""", bench=True)
def ppr_part_affinity_q(spark, sf_dir):
    """Personalized PageRank from the two lowest-id parts of the
    co-order affinity graph (3 supersteps, d=0.85): proximity scores
    concentrate around the seeds — the related-item / trust
    propagation primitive. Oracle unrolls the seeded supersteps as
    chained CTEs; the zero-mass tail is filtered on both sides so
    the check pins exactly the reached neighborhood."""
    from vega_spark.functions.analytics import cooccurrence_pairs
    from vega_spark.functions.graph import personalized_pagerank
    li = _t(spark, sf_dir, "lineitem")
    # materialize the co-occurrence edge derivation ONCE (r9 opt,
    # guide §2.4): it used to run 4x in this query — twice in the
    # seed-derivation union below, twice again inside the function's
    # edge symmetrization (before-plan: 16 lineitem scans)
    edges = cooccurrence_pairs(li, "l_orderkey", "l_partkey", min_count=2,
                               max_basket=200).localCheckpoint(eager=True)
    seeds = (edges.select(F.explode(F.array("item_a", "item_b"))
                          .alias("u"))
             .distinct().orderBy("u").limit(2))
    out = personalized_pagerank(edges, "item_a", "item_b", seeds,
                                iters=3, damping=0.85)
    return (out.filter(F.col("rank") > 0)
            .select("node", F.round("rank", 6).alias("rank")))


@_q("theil_sen_event_trend", """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n FROM events GROUP BY 1),
slopes AS (
  SELECT CAST(FLOOR(1000000.0 * (b.n - a.n) / (b.d - a.d)) AS BIGINT)
           AS slope
  FROM daily a JOIN daily b ON a.d < b.d),
c AS (SELECT COUNT(*) AS n_pairs FROM slopes),
nd AS (SELECT COUNT(*) AS n_days FROM daily),
med AS (SELECT slope AS slope_micro FROM slopes, c
        ORDER BY slope LIMIT 1 OFFSET ((SELECT (n_pairs + 1) // 2 - 1
                                        FROM c)))
SELECT nd.n_days, c.n_pairs, med.slope_micro FROM nd, c, med
""", bench=True)
def theil_sen_event_trend_q(spark, sf_dir):
    """Theil–Sen robust daily-activity trend: exact lower-median of
    the integerized pairwise slopes. The oracle replays the daily
    grid, every pairwise floor-division, and the order statistic.
    Grid-bounded pair fan-out; one keyed count over the raw table."""
    from vega_spark.functions.analytics import theil_sen_daily_trend
    ev = _t(spark, sf_dir, "events")
    return theil_sen_daily_trend(ev)


@_q("image_curation_pipeline", f"""
WITH d AS (SELECT doc_id, 8 + doc_id % 25 AS w, 6 + doc_id % 17 AS h
           FROM documents),
f AS (SELECT * FROM d WHERE w >= 12),
cls AS (SELECT w, h, MIN(doc_id) AS mindoc FROM f GROUP BY 1, 2),
{_PATTERN_DHASH_CTE},
keep AS (SELECT s, MIN(mindoc) AS keeper FROM hc GROUP BY s),
surv AS (SELECT k.keeper AS doc_id, d.w, d.h
         FROM keep k JOIN d ON d.doc_id = k.keeper),
px AS (SELECT sv.doc_id,
              SUM((x.g * 31 + y.g * 57) % 256) AS spx
       FROM surv sv
       JOIN generate_series(0, 32) x(g) ON x.g < sv.w
       JOIN generate_series(0, 22) y(g) ON y.g < sv.h
       GROUP BY 1)
SELECT (SELECT COUNT(*) FROM d) AS n_images,
       (SELECT COUNT(*) FROM f) AS n_pass_size,
       (SELECT COUNT(*) FROM keep) AS n_kept,
       (SELECT SUM(spx) FROM px)::BIGINT AS total_px_kept
""", bench=True)
def image_curation_pipeline_q(spark, sf_dir):
    """END-TO-END image curation flagship, oracle-exact at every
    stage: synthetic pattern PNGs → REAL container-header gate
    (width >= 12, parsed from IHDR bytes) → REAL pixel decode →
    dHash → exact near-dup collapse (keep-first by signature — note
    DIFFERENT (w,h) patterns may legitimately collide on dHash, and
    the oracle models exactly that) → pixel census of the surviving
    canonical images. DuckDB replays header dims, all 64 hash bits,
    the keep-first rule, and the survivors' exact luma sums from
    doc_id alone. Every stage is narrow or digest-keyed; payloads
    never enter a shuffle wider than the survivor fetch."""
    from vega_spark.functions.multimodal import (image_dhash,
                                                 image_header_metadata,
                                                 image_pixel_stats)
    # materialize the synthesized PNG frame ONCE (r9 opt round, guide
    # §5): it feeds THREE differently-shaped consumers (header gate,
    # gated decode, survivor fetch) plus the n_pass count action —
    # un-materialized, make_pattern_png re-encoded the whole corpus
    # per consumer (no exchange-reuse applies: the subtrees differ).
    # Payloads are ~KB PNGs, so the pinned copy is corpus-bounded
    # and released with the session; at 100 TB the equivalent is a
    # staged parquet of the decoded-once assets (guide §8 pattern).
    with_png = _pattern_pngs(spark, sf_dir).localCheckpoint(eager=True)
    hdr = image_header_metadata(with_png)
    passing = (hdr.filter(F.col("width") >= 12)
               .select(F.col("asset_id").alias("doc_id"))
               .localCheckpoint(eager=True))
    sub = with_png.join(passing, "doc_id")
    hashes = image_dhash(sub)
    keep = (hashes.groupBy("dhash")
            .agg(F.min("asset_id").alias("doc_id")))
    surv = with_png.join(keep.select("doc_id"), "doc_id")
    stats = image_pixel_stats(surv)
    # n_images is the raw documents row count — parquet footer stats
    # instead of a count job (r9 opt, the footer_rows estimator
    # pattern; docs is the unfiltered table projected to doc_id, so
    # the values agree by construction; count() fallback when footers
    # are unreadable). n_pass counts a checkpointed frame — cheap.
    meta_docs = footer_rows(sf_dir, "documents")
    n_images = docs.count() if meta_docs is None else meta_docs
    n_pass = passing.count()
    return (stats.agg(F.count(F.lit(1)).alias("n_kept"),
                      F.sum("sum_px").alias("total_px_kept"))
            .select(F.lit(n_images).alias("n_images"),
                    F.lit(n_pass).alias("n_pass_size"),
                    "n_kept", "total_px_kept"))


@_q("diff_in_diff_purchases", """
WITH cells AS (
  SELECT (user_id % 2 = 0)::INTEGER AS treated,
         (CAST(ts AS DATE) >= DATE '2024-01-16')::INTEGER AS post,
         COUNT(*) AS n,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS s
  FROM events GROUP BY 1, 2),
m AS (SELECT treated, post,
             CAST(FLOOR(10000.0 * s / n) AS BIGINT) AS mean_micro
      FROM cells)
SELECT
  MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_micro END) AS t_pre,
  MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_micro END) AS t_post,
  MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_micro END) AS c_pre,
  MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_micro END) AS c_post,
  (MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_micro END)
   - MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_micro END))
  - (MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_micro END)
     - MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_micro END))
    AS did_micro
FROM m
""", bench=True)
def diff_in_diff_purchases_q(spark, sf_dir):
    """Difference-in-differences over event values (treatment = even
    user ids, post = on/after 2024-01-16): the 2x2 cell means in
    exact micro units and the DiD estimate. One 4-cell aggregation
    pass; the oracle replays cells, floor-divisions, and the
    estimate."""
    from vega_spark.functions.analytics import diff_in_diff
    ev = _t(spark, sf_dir, "events")
    return diff_in_diff(ev)


@_q("trimmed_mean_event_values", f"""
WITH {_RANKED_CENTS_CTE},
mid AS (SELECT grp, c, n, (n // 10) AS k FROM r
        WHERE rn > n // 10 AND rn <= n - n // 10)
SELECT grp AS event_type, MAX(n) AS n, MAX(k) AS k_trimmed,
       COUNT(*) AS n_kept,
       CAST(FLOOR(10000.0 * SUM(c) / COUNT(*)) AS BIGINT)
         AS trimmed_mean_micro
FROM mid GROUP BY 1
""", bench=True)
def trimmed_mean_event_values_q(spark, sf_dir):
    """10% two-sided trimmed mean of event values per type — exact
    micro-unit robust location. Partitioned rank window + one keyed
    aggregate; oracle replays ranks, the trim bounds, and the single
    floor-division."""
    from vega_spark.operators.stats import trimmed_mean_by
    ev = _t(spark, sf_dir, "events")
    return trimmed_mean_by(ev, "event_type", "value", "event_id",
                           trim_frac=0.1)


@_q("cuped_event_values", """
WITH pu AS (
  SELECT user_id AS u,
         SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
             THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS sx,
         COUNT(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
               THEN 1 END) AS nx,
         SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
             THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS sy,
         COUNT(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
               THEN 1 END) AS ny
  FROM events GROUP BY 1),
xy AS (SELECT u, (u % 2 = 0)::INTEGER AS variant,
              CAST(FLOOR(sx / nx) AS BIGINT) AS x,
              CAST(FLOOR(sy / ny) AS BIGINT) AS y
       FROM pu WHERE nx > 0 AND ny > 0),
tot AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM xy),
pv AS (SELECT variant, COUNT(*) AS nv, SUM(x) AS sxv, SUM(y) AS syv
       FROM xy GROUP BY 1)
SELECT variant, nv AS n_users,
       CAST(ROUND((CAST(syv AS DOUBLE) / CAST(nv AS DOUBLE)) * 10000, 0)
            AS BIGINT) AS mean_y_micro,
       CAST(ROUND((CAST(syv AS DOUBLE) / CAST(nv AS DOUBLE)
             - (CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE))
               * (CAST(sxv AS DOUBLE) / CAST(nv AS DOUBLE)
                  - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) * 10000, 0)
            AS BIGINT) AS adj_mean_y_micro,
       CAST(ROUND((CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE)) * 1000000, 0)
            AS BIGINT) AS theta_micro
FROM pv, tot
""", bench=True)
def cuped_event_values_q(spark, sf_dir):
    """CUPED variance-reduced experiment readout: pre-period per-user
    means as the covariate, θ from exact int64 sufficient stats, the
    adjusted post-period mean per variant. One per-user keyed
    aggregate; the oracle replays the whole double-step chain
    operation for operation."""
    from vega_spark.functions.analytics import cuped_adjusted_means
    ev = _t(spark, sf_dir, "events")
    return cuped_adjusted_means(ev)


@_q("oov_rate_by_lang", """
WITH tok AS (
  SELECT lang, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS term
  FROM documents),
tf AS (SELECT term, COUNT(*) AS n FROM tok GROUP BY 1),
vocab AS (SELECT term FROM tf ORDER BY n DESC, term LIMIT 1000)
SELECT t.lang, COUNT(*) AS total_tokens,
       CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS oov_tokens,
       CAST(FLOOR(1000000.0
                  * SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                  / COUNT(*)) AS BIGINT) AS oov_ppm
FROM tok t LEFT JOIN vocab v ON v.term = t.term
GROUP BY 1
""", bench=True)
def oov_rate_by_lang_q(spark, sf_dir):
    """Vocabulary coverage per language: OOV token share against the
    corpus-wide top-1000 vocabulary (bounded TakeOrdered head →
    broadcast join → one keyed aggregate). The oracle replays
    vocab selection and the per-language OOV counts exactly."""
    from vega_spark.functions.text import oov_rate_by_group
    docs = _t(spark, sf_dir, "documents")
    return oov_rate_by_group(docs, "lang", "text", vocab_size=1000)


@_q("write_size_targeted_roundtrip", """
SELECT COUNT(*) AS n_rows, COUNT(*) AS n_reread,
       1 AS roundtrip_ok, 1 AS sizing_in_band
FROM lineitem
""", bench=True)
def write_size_targeted_roundtrip_q(spark, sf_dir):
    """Size-targeted write contract: lineitem rewritten at a
    256 KiB/file target must re-read to the exact source row count,
    and the MEAN written file size must land within a 4x band of the
    target (the sizer estimates bytes-per-row from a sampled head, so
    exact hits are impossible but a 4x miss means the sizer is
    broken). Counts are SQL-pinned; the layout flag is engine-computed
    and oracle-pinned to 1 (approx_accuracy_contract pattern).
    Tighter layout bands live in tests/test_layout_embeddings.py."""
    import os
    import shutil
    import tempfile

    from vega_spark.operators.layout import write_size_targeted
    target = 256 * 1024
    li = _t(spark, sf_dir, "lineitem")
    # r9 opt (guide §6): li is a bare parquet scan, so the sizer's two
    # estimator jobs (count + head sample-write) are replaced by the
    # source FOOTER stats — exact row count, whole-table bytes/row.
    # Falls back to the measured path if the footer can't be read.
    meta_n = footer_rows(sf_dir, "lineitem")
    bpr = None
    if meta_n:
        src = os.path.join(sf_dir, "lineitem.parquet")
        try:
            sz = (sum(os.path.getsize(os.path.join(src, f))
                      for f in os.listdir(src) if f.endswith(".parquet"))
                  if os.path.isdir(src) else os.path.getsize(src))
            bpr = sz / meta_n if sz else None
        except OSError:
            bpr = None
    out = tempfile.mkdtemp(prefix="vega_sized_q_") + "/data"
    info = write_size_targeted(li, out, target_file_bytes=target,
                               n_rows=meta_n if bpr else None,
                               est_row_bytes=bpr)
    n_back = spark.read.parquet(out).count()
    sizes = [os.path.getsize(os.path.join(out, f))
             for f in os.listdir(out) if f.endswith(".parquet")]
    shutil.rmtree(out, ignore_errors=True)
    mean_size = sum(sizes) / max(1, len(sizes))
    in_band = int(len(sizes) == info["n_files"]
                  and (target / 4 <= mean_size <= target * 4
                       # a table smaller than one target file is a
                       # single correctly-sized file regardless
                       or info["n_files"] == 1))
    return spark.createDataFrame(
        [(info["n_rows"], n_back, int(info["n_rows"] == n_back), in_band)],
        "n_rows long, n_reread long, roundtrip_ok int, sizing_in_band int")


@_q("approx_accuracy_contract", """
SELECT event_type, COUNT(DISTINCT user_id) AS exact_ndv,
       1 AS ndv_within_2pct, 1 AS p50_within_1pct
FROM events GROUP BY 1
""", bench=True)
def approx_accuracy_contract_q(spark, sf_dir):
    """Accuracy CONTRACT for the approximate surface: per group,
    HyperLogLog++ distinct (rsd=0.01) must land within 2% of the
    exact count, and percentile_approx(0.5, acc=10k) within 1% of
    the exact median — the flags are computed ENGINE-side from both
    the sketch and the exact value, and the oracle pins them to 1:
    a sketch drifting out of its advertised band fails the hash, so
    the driver check enforces the error bound itself (the
    count_approx/BoundedDouble family's contract, ref
    src/partial/count_evaluator.rs, made driver-visible)."""
    ev = _t(spark, sf_dir, "events")
    out = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_ndv"),
        F.expr("approx_count_distinct(user_id, 0.01)").alias("__andv"),
        F.expr("percentile(value, 0.5)").alias("__p50"),
        F.expr("percentile_approx(value, 0.5, 10000)").alias("__p50a"))
    return out.select(
        "event_type", "exact_ndv",
        (F.abs(F.col("__andv") - F.col("exact_ndv"))
         <= 0.02 * F.col("exact_ndv")).cast("int")
        .alias("ndv_within_2pct"),
        (F.abs(F.col("__p50a") - F.col("__p50"))
         <= 0.01 * F.abs(F.col("__p50"))).cast("int")
        .alias("p50_within_1pct"))


@_q("optimize_table_orders", f"""
{_PRIORITY_CENTS},
       1 AS content_unchanged, 1 AS pruning_improved
FROM orders GROUP BY 1
""", bench=True)
def optimize_table_orders_q(spark, sf_dir):
    """OPTIMIZE on a versioned table, contract-checked: orders is
    committed as v1 in a fragmented random layout (16 hash-split
    files — per-file o_custkey ranges all overlap, so a point-range
    predicate prunes nothing), then optimize_table re-clusters by
    o_custkey into v2. The query returns the per-priority aggregate
    of the OPTIMIZED snapshot (content must equal the raw table —
    pinned by the oracle), an engine-computed flag that v1 and v2
    aggregates agree, and a flag that metadata-only pruning for a
    custkey range now skips MOST files (both pinned to 1). Layout
    changes; content provably doesn't."""
    import tempfile

    from vega_spark.operators.versioned import (commit_snapshot,
                                                optimize_table,
                                                plan_pruned_files,
                                                read_snapshot)
    orders = _t(spark, sf_dir, "orders")
    table = tempfile.mkdtemp(prefix="vega_opt_") + "/orders_t"
    commit_snapshot(orders.repartition(16), table,
                    stats_cols=["o_custkey"])
    kept_before, total_before = plan_pruned_files(
        table, {"o_custkey": (0, 50)})
    optimize_table(spark, table, ["o_custkey"], n_files=8)
    kept_after, total_after = plan_pruned_files(
        table, {"o_custkey": (0, 50)})
    agg = lambda df: (df.groupBy("o_orderpriority")  # noqa: E731
                      .agg(F.count(F.lit(1)).alias("n"),
                           F.sum(F.round(F.col("o_totalprice") * 100, 0)
                                 .cast("long")).alias("sum_cents")))
    v1 = {tuple(r) for r in agg(read_snapshot(spark, table, 1)).collect()}
    v2rows = agg(read_snapshot(spark, table, 2))
    v2 = {tuple(r) for r in v2rows.collect()}
    unchanged = int(v1 == v2)
    improved = int(len(kept_before) == total_before
                   and len(kept_after) <= total_after // 2)
    return (v2rows
            .withColumn("content_unchanged", F.lit(unchanged))
            .withColumn("pruning_improved", F.lit(improved)))


@_q("incremental_join_view_orders", """
SELECT c.c_mktsegment,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
""", bench=True)
def incremental_join_view_orders_q(spark, sf_dir):
    """Incremental JOIN-view maintenance, parity-checked: the
    orders⋈customer view is built on 80% of each table, then
    refreshed with the remaining 20% via the delta algebra
    V ∪ ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR — no rescan of the old join. The
    maintained view's per-segment aggregate must equal the
    from-scratch join over the FULL tables (the oracle), so a
    missing or double-counted delta term fails the hash. Splits are
    deterministic (modulo on the keys)."""
    from vega_spark.operators.incremental import (join_view,
                                                  refresh_join_view)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    o_old = orders.filter(F.col("o_orderkey") % 5 != 0)
    o_new = orders.filter(F.col("o_orderkey") % 5 == 0)
    c_old = cust.filter(F.col("c_custkey") % 5 != 0)
    c_new = cust.filter(F.col("c_custkey") % 5 == 0)
    keys = ["ck"]
    v0 = join_view(o_old.withColumnRenamed("o_custkey", "ck"),
                   c_old.withColumnRenamed("c_custkey", "ck"), keys)
    v1 = refresh_join_view(
        v0,
        o_old.withColumnRenamed("o_custkey", "ck"),
        o_new.withColumnRenamed("o_custkey", "ck"),
        c_old.withColumnRenamed("c_custkey", "ck"),
        c_new.withColumnRenamed("c_custkey", "ck"),
        keys)
    return (v1.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.round(F.col("o_totalprice") * 100, 0)
                       .cast("long")).alias("sum_cents")))


@_q("join_view_signed_retractions", """
WITH l1 AS (
  SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
  WHERE o_orderkey % 7 <> 0),
r1 AS (
  SELECT c_custkey, c_mktsegment FROM customer
  WHERE c_custkey % 9 <> 0)
SELECT l1.o_orderpriority, r1.c_mktsegment, COUNT(*) AS n
FROM l1 JOIN r1 ON l1.o_custkey = r1.c_custkey
GROUP BY 1, 2
""", bench=True)
def join_view_signed_retractions_q(spark, sf_dir):
    """Retraction-capable join-view maintenance, parity-checked: the
    orders⋈customer view is built on the FULL tables, then a signed
    delta DELETES orders with orderkey%7=0 and customers with
    custkey%9=0 (negative multiplicities) — the maintained view must
    equal the from-scratch join over the surviving rows (the
    oracle). A delete propagating wrong multiplicities (the classic
    fan-out bug) breaks the count."""
    from vega_spark.operators.incremental import (
        refresh_join_view_signed, to_multiset)
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey"), F.col("o_custkey").alias("ck"),
        F.col("o_orderpriority"))
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"), F.col("c_mktsegment"))
    v0 = to_multiset(orders.join(cust, "ck"))
    dl = (orders.filter(F.col("o_orderkey") % 7 == 0)
          .withColumn("__mult", F.lit(-1).cast("long")))
    dr = (cust.filter(F.col("ck") % 9 == 0)
          .withColumn("__mult", F.lit(-1).cast("long")))
    v1 = refresh_join_view_signed(v0, to_multiset(orders), dl,
                                  to_multiset(cust), dr, ["ck"])
    return (v1.groupBy("o_orderpriority", "c_mktsegment")
            .agg(F.sum("__mult").alias("n")))


@_q("secure_view_customers", """
WITH v AS (
  SELECT sha256('pepper' || CAST(c_custkey AS VARCHAR)) AS c_custkey,
         CASE WHEN LENGTH(c_name) <= 2 THEN c_name
              ELSE REPEAT('*', LENGTH(c_name) - 2)
                   || SUBSTR(c_name, LENGTH(c_name) - 1, 2) END AS c_name,
         (FLOOR(c_acctbal / 1000) * 1000)::BIGINT AS c_acctbal,
         c_mktsegment
  FROM customer WHERE c_nationkey < 10)
SELECT c_mktsegment, COUNT(*) AS n,
       COUNT(DISTINCT c_custkey) AS n_tokens,
       CAST(SUM(c_acctbal) AS BIGINT) AS sum_bucketed,
       MIN(c_name) AS first_masked_name
FROM v GROUP BY 1
""", bench=True)
def secure_view_customers_q(spark, sf_dir):
    """Row/column-level security view: analysts see nation<10 rows
    only, custkeys as salted sha256 tokens (still countable-distinct
    and joinable), names star-masked to the last 2 chars, balances
    generalized to $1000 buckets, nationkey dropped entirely. The
    oracle replays every mask byte for byte; the aggregate proves
    masked data stays analytically useful."""
    from vega_spark.operators.security import (mask_bucket, mask_hash,
                                               mask_last, secure_view)
    cust = _t(spark, sf_dir, "customer")
    v = secure_view(
        cust,
        row_filter=F.col("c_nationkey") < 10,
        column_masks={
            "c_custkey": mask_hash(F.col("c_custkey"), salt="pepper"),
            "c_name": mask_last(F.col("c_name"), keep=2),
            "c_acctbal": mask_bucket(F.col("c_acctbal"), 1000),
        },
        drop_columns=("c_nationkey",))
    return (v.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.count_distinct("c_custkey").alias("n_tokens"),
                 F.sum("c_acctbal").alias("sum_bucketed"),
                 F.min("c_name").alias("first_masked_name")))


@_q("stl_residual_anomalies", f"""
WITH {_HOURLY_DENSE_CTE},
t AS (
  SELECT event_type, xh, y,
         CAST(SUM(y) OVER w AS DOUBLE)
           / CAST(COUNT(*) OVER w AS DOUBLE) AS trend
  FROM dense WINDOW w AS ({_TREND_WINDOW})),
t2 AS (SELECT *, CAST(ROUND((y - trend) * 1000000, 0) AS BIGINT) AS det
       FROM t),
seas AS (
  SELECT event_type, xh % 24 AS hod,
         CAST(ROUND(CAST(SUM(det) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE), 0) AS BIGINT)
           AS seas_micro
  FROM t2 GROUP BY 1, 2),
res AS (
  SELECT t2.event_type, t2.xh, t2.y,
         t2.det - seas.seas_micro AS res_micro
  FROM t2 JOIN seas
    ON t2.event_type = seas.event_type AND t2.xh % 24 = seas.hod),
rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY ABS(res_micro), xh) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM res),
mad AS (
  SELECT event_type,
         GREATEST(ABS(res_micro), 1000) AS mad_micro
  FROM rk WHERE r = (cnt + 1) // 2)
SELECT res.event_type, res.xh, res.y, res.res_micro, mad.mad_micro
FROM res JOIN mad ON mad.event_type = res.event_type
WHERE ABS(res.res_micro) > 4 * mad.mad_micro
""", bench=True)
def stl_residual_anomalies_q(spark, sf_dir):
    """Seasonality-aware burst detection: hours whose STL residual
    exceeds 4x the series MAD (exact micro-integers; lower-median
    order statistic with a 0.001-event floor) — bursts a plain
    z-score hides inside daily seasonality. Bounded per-key windows;
    the oracle replays the full decomposition, the median rank, and
    the flags."""
    from vega_spark.functions.analytics import stl_residual_anomalies
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stl_residual_anomalies(ev, k_mad=4)


@_q("winsorized_mean_event_values", f"""
WITH {_RANKED_CENTS_CTE},
b AS (SELECT grp, MIN(c) AS lo, MAX(c) AS hi
      FROM r WHERE rn = n // 10 + 1 OR rn = n - n // 10
      GROUP BY 1)
SELECT r.grp AS event_type, MAX(r.n) AS n,
       CAST(FLOOR(10000.0 * SUM(LEAST(GREATEST(r.c, b.lo), b.hi))
                  / COUNT(*)) AS BIGINT) AS winsorized_mean_micro
FROM r JOIN b ON b.grp = r.grp
GROUP BY 1
""", bench=True)
def winsorized_mean_event_values_q(spark, sf_dir):
    """10% two-sided winsorized mean per event type: extremes clamped
    to the boundary order statistics instead of dropped. Partitioned
    rank windows + one keyed aggregate; the oracle replays ranks,
    clamp bounds, and the floor division."""
    from vega_spark.operators.stats import winsorized_mean_by
    ev = _t(spark, sf_dir, "events")
    return winsorized_mean_by(ev, "event_type", "value", "event_id",
                              trim_frac=0.1)


"""TPC-H query-shape coverage (adapted to the driver's slimmed star
schema — no partsupp table, no l_commitdate/l_receiptdate/l_shipmode,
no c_phone/comments; every query keeps the canonical join/agg shape
and is oracle-checked against DuckDB with identical SQL semantics).

The reference (rajasekarv/vega) ships no SQL layer at all — its only
benchmark-shaped workload is one group-avg (examples/file_read.rs:13-29)
— so this module is capability-superset surface: the multi-join /
subquery / window planning a Spark-first engine gets from Catalyst.

Scale notes (100 TB): dimension sides (region/nation/supplier/part/
customer) are explicitly broadcast — they stay small relative to the
fact tables even at SF100k. The lineitem ⋈ orders spine is left to
Catalyst/AQE (sort-merge or shuffled-hash on the orderkey, skew-split
by AQE) — force-broadcasting orders would NOT survive 1000×. Scans
project only needed columns and carry pushed-down filters (verified by
plan tests in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vega_spark.registry import _q, _t


# --- Q6: forecasting revenue change (pure scan + pushed filter) ------------

@_q("tpch_q6_forecast_revenue", """
SELECT ROUND(SUM(l_extendedprice * l_discount), 1) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""", bench=True)
def tpch_q6_forecast_revenue(spark, sf_dir):
    """Scan-only aggregate: every predicate reaches the parquet scan
    (PushedFilters), projection is 4 columns of 11 — the plan is one
    WholeStageCodegen over the scan with a single-row final agg."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_shipdate") >= "1996-01-01") &
                      (F.col("l_shipdate") < "1997-01-01") &
                      (F.col("l_discount").between(0.03, 0.07)) &
                      (F.col("l_quantity") < 24))
            .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 1)
                 .alias("revenue")))


# --- Q7: volume shipping between two nations -------------------------------

@_q("tpch_q7_volume_shipping", """
SELECT supp_nation, cust_nation, l_year,
       ROUND(SUM(volume), 1) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         EXTRACT(YEAR FROM l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
""")
def tpch_q7_volume_shipping(spark, sf_dir):
    """Nation-pair trade volume. The disjunctive nation-pair filter is
    applied AFTER the broadcast joins (it references both sides); the
    shipdate range is pushed to the lineitem scan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") &
        (F.col("l_shipdate") <= "1996-12-31")).select(
        "l_suppkey", "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    j = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
         .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
         .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
         .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
         .filter(((F.col("supp_nation") == "NATION_3") &
                  (F.col("cust_nation") == "NATION_7")) |
                 ((F.col("supp_nation") == "NATION_7") &
                  (F.col("cust_nation") == "NATION_3"))))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").alias("l_year"))
            .agg(F.round(F.sum(F.col("l_extendedprice") *
                               (1 - F.col("l_discount"))), 1).alias("revenue")))


# --- Q8: national market share ---------------------------------------------

@_q("tpch_q8_market_share", """
SELECT o_year,
       ROUND(SUM(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END)
             / SUM(volume), 4) AS mkt_share
FROM (
  SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
) all_nations
GROUP BY o_year
""", bench=True)
def tpch_q8_market_share(spark, sf_dir):
    """Market share of one supplier nation inside one region's
    market: 7 joins, all dimension sides broadcast, one shuffle for
    the lineitem ⋈ orders spine + the final year rollup."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_extendedprice", "l_discount")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") &
        (F.col("o_orderdate") <= "1996-12-31")).select(
        "o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation"))
    j = (li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
         .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
         .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
         .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
         .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
         .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key")))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (j.groupBy(F.year("o_orderdate").alias("o_year"))
            .agg(F.round(
                F.sum(F.when(F.col("nation") == "NATION_5", vol).otherwise(0.0))
                / F.sum(vol), 4).alias("mkt_share")))


# --- Q10: returned-item reporting ------------------------------------------

@_q("tpch_q10_returned_items", """
SELECT c_custkey, c_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 1) AS revenue,
       n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
""")
def tpch_q10_returned_items(spark, sf_dir):
    """Top-20 customers by returned revenue. TakeOrderedAndProject
    after one grouped shuffle; returnflag + date filters pushed down."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") &
        (F.col("o_orderdate") < "1996-07-01")).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
         .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")))
    return (j.groupBy("c_custkey", "c_name", "n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") *
                               (1 - F.col("l_discount"))), 1).alias("revenue"))
            .select("c_custkey", "c_name", "revenue", "n_name")
            .orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(20))


# --- Q4 (adapted): order-priority checking via EXISTS ----------------------

@_q("tpch_q4_order_priority", """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
""")
def tpch_q4_order_priority(spark, sf_dir):
    """Canonical Q4 uses l_commitdate < l_receiptdate (absent here);
    adapted late-shipment predicate: a lineitem shipped >60 days after
    the order date. EXISTS → LEFT SEMI join (no row duplication), the
    semi-join's lineitem side is pre-projected to 2 columns."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") &
        (F.col("o_orderdate") < "1996-04-01")).select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey")) &
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi")
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count"))


# --- Q12 (adapted): late shipments by priority class -----------------------

@_q("tpch_q12_late_shipments", """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
""")
def tpch_q12_late_shipments(spark, sf_dir):
    """Canonical Q12 groups by l_shipmode (absent); adapted to group
    very-late 1997 shipments by returnflag, preserving the
    conditional-count shape (high/low priority split)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") &
        (F.col("l_shipdate") < "1998-01-01")).select("l_orderkey", "l_shipdate",
                                                     "l_returnflag")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = li.join(o, (F.col("l_orderkey") == F.col("o_orderkey")) &
                (F.col("l_shipdate") >
                 F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")))
    return j.groupBy("l_returnflag").agg(
        F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"))


# --- Q13: customer order-count distribution --------------------------------

@_q("tpch_q13_customer_distribution", """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
""", bench=True)
def tpch_q13_customer_distribution(spark, sf_dir):
    """Two-level aggregate: orders-per-customer, then the histogram of
    that count. LEFT join keeps zero-order customers (COUNT of a
    nullable key counts non-null only — matches SQL COUNT(col))."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per_cust = (c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --- Q14: promotion effect --------------------------------------------------

@_q("tpch_q14_promo_effect", """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 3) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate < TIMESTAMP '1997-10-01'
""")
def tpch_q14_promo_effect(spark, sf_dir):
    """Percentage of a month's revenue from PROMO parts. part is
    broadcast; the month filter prunes the lineitem scan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") &
        (F.col("l_shipdate") < "1997-10-01")).select(
        "l_partkey", "l_extendedprice", "l_discount")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    return j.agg(F.round(
        100.0 * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
        / F.sum(vol), 3).alias("promo_revenue"))


# --- Q15: top supplier (view + max subquery) -------------------------------

@_q("tpch_q15_top_supplier", """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 1) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""")
def tpch_q15_top_supplier(spark, sf_dir):
    """Supplier(s) with the quarter's max revenue. Revenue is rounded
    to 1 decimal BEFORE the max comparison on both engines so an
    ulp-level summation-order difference can't flip the winner. The
    scalar-max is a broadcast of a 1-row aggregate, not a collect."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") &
        (F.col("l_shipdate") < "1997-04-01")).select(
        "l_suppkey", "l_extendedprice", "l_discount")
    rev = (li.groupBy(F.col("l_suppkey").alias("supplier_no"))
           .agg(F.round(F.sum(F.col("l_extendedprice") *
                              (1 - F.col("l_discount"))), 1)
                .alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
            .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
            .select("s_suppkey", "s_name", "total_revenue"))


# --- Q16 (adapted): supplier count by part attributes ----------------------

@_q("tpch_q16_supplier_part_count", """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (5, 10, 15, 20, 25, 30)
GROUP BY p_brand, p_type, p_size
""")
def tpch_q16_supplier_part_count(spark, sf_dir):
    """Canonical Q16 reads partsupp (absent); adapted to derive the
    part→supplier relation from lineitem. COUNT(DISTINCT) expands to
    Spark's two-phase distinct aggregate — partial per partition, no
    driver materialization."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") &
        F.col("p_size").isin(5, 10, 15, 20, 25, 30)).select(
        "p_partkey", "p_brand", "p_type", "p_size")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    return (j.groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


# --- Q17: small-quantity-order revenue (correlated avg) --------------------

@_q("tpch_q17_small_qty_revenue", """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 1) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey)
""", bench=True)
def tpch_q17_small_qty_revenue(spark, sf_dir):
    """Correlated per-part average decorrelated into a window: one
    shuffle on l_partkey computes AVG over the part's lines, the
    filter runs narrow after it. l_quantity values are whole numbers
    (exact in fp) so the 0.2*avg threshold is bit-identical across
    engines."""
    from pyspark.sql import Window
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3").select(
        "p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    w = Window.partitionBy("l_partkey")
    with_avg = li.withColumn("part_avg_qty", F.avg("l_quantity").over(w))
    j = with_avg.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    return (j.filter(F.col("l_quantity") < 0.2 * F.col("part_avg_qty"))
            .agg(F.round(F.sum("l_extendedprice") / 7.0, 1).alias("avg_yearly")))


# --- Q19: discounted revenue (disjunctive multi-attribute predicate) -------

@_q("tpch_q19_discounted_revenue", """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 1) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
""")
def tpch_q19_discounted_revenue(spark, sf_dir):
    """Disjunction across join-crossing predicates (container/shipmode
    legs dropped — columns absent). Catalyst pushes the derivable
    brand/size disjunction to the part side and quantity bounds to the
    lineitem scan; the residual OR evaluates post-join."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    j = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    leg = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand) & F.col("p_size").between(1, smax) &
        F.col("l_quantity").between(qlo, qhi))
    return (j.filter(leg("Brand#5", 15, 1, 11) |
                     leg("Brand#13", 25, 10, 20) |
                     leg("Brand#20", 35, 20, 30))
            .agg(F.round(F.sum(F.col("l_extendedprice") *
                               (1 - F.col("l_discount"))), 1).alias("revenue")))


# --- Q20 (adapted): suppliers with significant PROMO volume ----------------

@_q("tpch_q20_promo_suppliers", """
SELECT s_name FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'PROMO'
  GROUP BY l_suppkey
  HAVING SUM(l_quantity) > 400)
ORDER BY s_name
""")
def tpch_q20_promo_suppliers(spark, sf_dir):
    """Canonical Q20 thresholds on partsupp availability (absent);
    adapted: suppliers who shipped >400 units of PROMO-type parts.
    IN-subquery → HAVING-filtered aggregate + LEFT SEMI join."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    big = (li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
           .groupBy("l_suppkey").agg(F.sum("l_quantity").alias("qty"))
           .filter(F.col("qty") > 400))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (s.join(big, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
            .select("s_name").orderBy("s_name"))


# --- Q21 (adapted): last-to-ship supplier in multi-supplier orders ---------

@_q("tpch_q21_waiting_suppliers", """
SELECT s_name, COUNT(*) AS numwait
FROM (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem l1
  WHERE l_shipdate = (SELECT MAX(l2.l_shipdate) FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey)
    AND EXISTS (SELECT 1 FROM lineitem l3
                WHERE l3.l_orderkey = l1.l_orderkey
                  AND l3.l_suppkey <> l1.l_suppkey)
) last_ship
JOIN supplier ON s_suppkey = l_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name LIMIT 20
""", bench=True)
def tpch_q21_waiting_suppliers(spark, sf_dir):
    """Canonical Q21's commit/receipt dates are absent; the kept shape
    is the exists/not-exists per-order supplier comparison: the
    supplier(s) whose line shipped last in orders served by >1
    supplier. Both correlated subqueries decorrelate into ONE window
    pass partitioned by l_orderkey (max shipdate + distinct-supplier
    count) — a single shuffle instead of two self-joins."""
    from pyspark.sql import Window
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    w = Window.partitionBy("l_orderkey")
    marked = (li.withColumn("max_ship", F.max("l_shipdate").over(w))
              .withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(w))))
    last = (marked.filter((F.col("l_shipdate") == F.col("max_ship")) &
                          (F.col("n_supp") > 1))
            .select("l_orderkey", "l_suppkey").distinct())
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (last.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_name").agg(F.count(F.lit(1)).alias("numwait"))
            .orderBy(F.col("numwait").desc(), "s_name").limit(20))


# --- Q22 (adapted): wealthy customers without orders -----------------------

@_q("tpch_q22_global_sales_opportunity", """
SELECT c_nationkey, COUNT(*) AS numcust,
       ROUND(SUM(c_acctbal), 1) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY c_nationkey
""", bench=True)
def tpch_q22_global_sales_opportunity(spark, sf_dir):
    """Above-average-balance customers with no RECENT orders (canonical
    Q22's "no orders in 7 years", window shifted so the driver data
    yields matches; phone-prefix grouping replaced by nationkey —
    c_phone absent). Scalar subquery → broadcast 1-row aggregate;
    NOT EXISTS → LEFT ANTI join with the date filter pushed to the
    orders scan."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    avg_bal = (c.filter(F.col("c_acctbal") > 0.0)
               .agg(F.avg("c_acctbal").alias("avg_bal")))
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1999-01-01").select("o_custkey")
    rich = (c.join(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("avg_bal")))
    no_orders = rich.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    return (no_orders.groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.round(F.sum("c_acctbal"), 1).alias("totacctbal")))


# --- Q2 (adapted): best supplier per part ----------------------------------

@_q("tpch_q2_min_cost_supplier", """
SELECT p_partkey, p_brand, s_suppkey, s_name, s_acctbal
FROM (
  SELECT p_partkey, p_brand, s_suppkey, s_name, s_acctbal,
         ROW_NUMBER() OVER (PARTITION BY p_partkey
                            ORDER BY s_acctbal, s_suppkey) AS rn
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  WHERE p_size = 25
) ranked
WHERE rn = 1
""")
def tpch_q2_min_cost_supplier(spark, sf_dir):
    """Canonical Q2's min-supplycost over partsupp (absent) becomes
    min-acctbal over the observed part→supplier relation. Ordering key
    (s_acctbal, s_suppkey) is raw parquet data — deterministic across
    engines, no float-sum ties. ROW_NUMBER = one shuffle on
    l_partkey; dims broadcast."""
    from pyspark.sql import Window
    ps = (_t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct())
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 25).select(
        "p_partkey", "p_brand")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    j = (ps.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
         .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey")))
    w = Window.partitionBy("p_partkey").orderBy("s_acctbal", "s_suppkey")
    return (j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("p_partkey", "p_brand", "s_suppkey", "s_name", "s_acctbal"))


# --- Q11 (adapted): important parts by inventory value ---------------------

@_q("tpch_q11_important_parts", """
SELECT l_partkey, ROUND(SUM(l_extendedprice), 1) AS value
FROM lineitem
GROUP BY l_partkey
HAVING SUM(l_extendedprice) > (
  SELECT 1.5 * SUM(l_extendedprice) / COUNT(DISTINCT l_partkey) FROM lineitem)
""")
def tpch_q11_important_parts(spark, sf_dir):
    """Canonical Q11 values partsupp stock (absent); adapted to parts
    whose shipped value exceeds 1.5× the average per-part value — a
    RELATIVE threshold, so the selectivity survives scale-up (part
    count grows with SF; a fixed fraction of total would select
    nothing at 100×). The scalar is a second aggregate over the same
    scan, broadcast into the HAVING filter — no driver round-trip."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    per_part = li.groupBy("l_partkey").agg(
        F.sum("l_extendedprice").alias("raw_value"))
    total = li.agg((1.5 * F.sum("l_extendedprice") /
                    F.countDistinct("l_partkey")).alias("threshold"))
    return (per_part.join(F.broadcast(total))
            .filter(F.col("raw_value") > F.col("threshold"))
            .select("l_partkey", F.round("raw_value", 1).alias("value")))


# --- MERGE INTO / upsert (operators/merge.py) ------------------------------

_MERGE_SQL = """
WITH src AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 97 = 0
), merged AS (
  SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
         COALESCE(t.o_custkey, s.o_custkey) AS o_custkey,
         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
              ELSE t.o_orderstatus END AS o_orderstatus,
         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
              ELSE t.o_totalprice END AS o_totalprice
  FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
)
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(20,4))), 1) AS DOUBLE)
         AS total_value
FROM merged GROUP BY o_orderstatus
"""


@_q("merge_upsert_orders", _MERGE_SQL, bench=True)
def merge_upsert_orders(spark, sf_dir):
    """MERGE a synthetic delta into the orders snapshot (10% price
    updates + ~1% inserts with new keys), then summarize by status.
    Broadcast path: the snapshot is never shuffled for the update leg;
    the oracle replays the merge as a FULL OUTER JOIN."""
    from vega_spark.operators.merge import merge_into
    o = _t(spark, sf_dir, "orders")
    updates = (o.filter(F.col("o_orderkey") % 10 == 0)
               .withColumn("o_totalprice", F.col("o_totalprice") * 1.1))
    inserts = (o.filter(F.col("o_orderkey") % 97 == 0)
               .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
               .withColumn("o_orderstatus", F.lit("N")))
    delta = updates.unionByName(inserts)
    merged = merge_into(o, delta, keys=["o_orderkey"],
                        update_cols=["o_orderstatus", "o_totalprice"])
    # money sum goes through a per-row DECIMAL cast (identical IEEE
    # double on both engines) so the aggregate is accumulation-order
    # exact — double sums diverge in the last ulp across engines.
    return (merged.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum(F.col("o_totalprice").cast("decimal(20,4)")), 1)
                 .cast("double").alias("total_value")))


# --- corpus / events analytics (functions/text.tf_idf, functions/analytics) --

@_q("tfidf_top_terms", """
WITH toks AS (
  SELECT doc_id AS doc, unnest(list_filter(
           string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc, term, COUNT(*) AS tf FROM toks GROUP BY doc, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc, term, tf, df,
         ROUND(tf * (LN((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc, term, tf, df, tfidf, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc
                               ORDER BY tfidf DESC, term) AS rk
  FROM scored) WHERE rk <= 3
""", bench=True)
def tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document (functions/text.tf_idf);
    the oracle replays tokenization, smoothing and the tie-broken
    per-doc window in DuckDB."""
    from vega_spark.functions.text import tf_idf
    return tf_idf(_t(spark, sf_dir, "documents"), "text", "doc_id", top_k=3)


@_q("funnel_view_click_purchase", """
WITH s1 AS (
  SELECT user_id AS u, event_type AS t, ts,
         MIN(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events
), s2 AS (
  SELECT *, MIN(CASE WHEN t = 'click' AND ts > t1 THEN ts END)
              OVER (PARTITION BY u) AS t2 FROM s1
), s3 AS (
  SELECT *, MIN(CASE WHEN t = 'purchase' AND ts > t2 THEN ts END)
              OVER (PARTITION BY u) AS t3 FROM s2
), per_user AS (
  SELECT u, ANY_VALUE(t1) AS t1, ANY_VALUE(t2) AS t2, ANY_VALUE(t3) AS t3
  FROM s3 GROUP BY u
)
SELECT CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stage1,
       CAST(SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stage2,
       CAST(SUM(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stage3
FROM per_user
""", bench=True)
def funnel_view_click_purchase(spark, sf_dir):
    """Ordered view→click→purchase funnel over events — one hash
    exchange on user (chained unordered windows; see
    functions/analytics.funnel_stages)."""
    from vega_spark.functions.analytics import funnel_stages
    return funnel_stages(_t(spark, sf_dir, "events"))


@_q("fk_integrity_audit", """
SELECT 'lineitem.orderkey' AS relation,
       (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
         (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
UNION ALL
SELECT 'lineitem.partkey',
       (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
         (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'orders.custkey',
       (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
         (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'events.user_id',
       (SELECT COUNT(*) FROM events e WHERE NOT EXISTS
         (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
""")
def fk_integrity_audit(spark, sf_dir):
    """Referential-integrity audit across the star schema: orphan
    counts per FK relation via LEFT ANTI joins (parent side pruned to
    its key column; functions/analytics.fk_orphans)."""
    from vega_spark.functions.analytics import fk_orphans
    li = _t(spark, sf_dir, "lineitem")
    return fk_orphans([
        ("lineitem.orderkey", li, "l_orderkey",
         _t(spark, sf_dir, "orders"), "o_orderkey"),
        ("lineitem.partkey", li, "l_partkey",
         _t(spark, sf_dir, "part"), "p_partkey"),
        ("orders.custkey", _t(spark, sf_dir, "orders"), "o_custkey",
         _t(spark, sf_dir, "customer"), "c_custkey"),
        ("events.user_id", _t(spark, sf_dir, "events"), "user_id",
         _t(spark, sf_dir, "customer"), "c_custkey"),
    ])

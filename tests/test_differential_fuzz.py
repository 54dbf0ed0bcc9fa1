"""Seeded random differential fuzzing: random aggregation shapes run
from the SAME SQL string on Spark and DuckDB must agree exactly
(tools/fuzz_differential.py is the CLI twin; 200 cases swept there —
the pytest leg keeps a fast deterministic sample in CI)."""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle import duck_views  # noqa: E402
from tools.fuzz_differential import (gen_decimal_query,  # noqa: E402
                                     gen_join_query, gen_map_null_query,
                                     gen_nested_query, gen_pivot_query,
                                     gen_query,
                                     gen_range_frame_query,
                                     gen_setop_query,
                                     gen_string_date_query,
                                     gen_subquery_query,
                                     gen_three_way_join_query,
                                     gen_tied_rank_query,
                                     gen_window_query, run_case)


def test_random_query_shapes_agree_with_duckdb(spark, sf_dir):
    from vega_spark.tables import load_table

    for t in ("lineitem", "orders", "customer", "documents",
              "embeddings"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    con = duck_views(sf_dir)
    rng = random.Random(1234)
    gens = [gen_query, gen_join_query, gen_window_query,
            gen_setop_query, gen_three_way_join_query,
            gen_tied_rank_query, gen_decimal_query,
            gen_string_date_query, gen_subquery_query,
            gen_nested_query, gen_map_null_query,
            gen_range_frame_query, gen_pivot_query]
    for i in range(52):
        sql = gens[i % len(gens)](rng)
        ok, why = run_case(spark, con, sql)
        assert ok, f"{sql}: {why}"


def test_pivot_absent_value_count_divergence(spark, sf_dir):
    """Pins the upstream divergence that keeps COUNT out of the
    pivot generator's absent-value branch: for a pivot IN value with
    no matching rows, DuckDB evaluates the aggregate over the empty
    set (COUNT = 0, per the standard), while Spark synthesizes NULL
    for every missing cell — including COUNT. SUM/MAX agree (NULL
    both sides). If either engine changes, this test fails and the
    generator's carve-out should be revisited."""
    from vega_spark.tables import load_table

    load_table(spark, sf_dir, "lineitem") \
        .createOrReplaceTempView("lineitem")
    con = duck_views(sf_dir)
    q = ("SELECT * FROM (SELECT l_linenumber AS g, l_linestatus AS p,"
         " l_orderkey AS m0 FROM lineitem) "
         "PIVOT (COUNT(m0) AS a0, SUM(m0) AS a1 FOR p IN ('ZZ')) "
         "ORDER BY g LIMIT 1")
    duck = con.sql(q).fetchall()[0]
    spk = tuple(spark.sql(q).collect()[0])
    assert duck[1] == 0 and duck[2] is None       # DuckDB: 0 / NULL
    assert spk[1] is None and spk[2] is None      # Spark: NULL / NULL

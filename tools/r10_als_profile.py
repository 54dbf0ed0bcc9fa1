"""Phase profiler for als_recommend_parts (r10 opt round, guide §1):
time each driver-visible phase of the contract query once in a fresh
session — training half-steps, users leg, recommend leg, RMSE leg,
final flag assembly — so the optimization targets the phase that
actually carries the wall, not the one VERDICT guessed.

Usage: python tools/r10_als_profile.py [--sf DIR]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    sf_dir = "/root/testdata/sf0.1"
    if "--sf" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf") + 1]
    from vega_spark.session import get_session
    from vega_spark.functions.recommender import (
        als_explicit, als_rmse_vs_baseline, recommend_top_k, _solve_side)
    from vega_spark.registry import _t

    spark = get_session("r10-als-profile")
    spark.range(1000).count()

    for _pass in range(2):
        print(f"## pass {_pass}")
        _run_once(spark, sf_dir)


def _run_once(spark, sf_dir):
    from vega_spark.functions.recommender import (
        als_rmse_vs_baseline, recommend_top_k, _solve_side)
    from vega_spark.registry import _t
    from vega_spark.tables import footer_rows

    t = {}

    def mark(name, t0):
        t[name] = round(time.monotonic() - t0, 3)
        print(f"# {name}: {t[name]}s", flush=True)

    t0 = time.monotonic()
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ratings = (orders.select("o_orderkey", "o_custkey")
               .join(li.select("l_orderkey", "l_partkey", "l_quantity"),
                     F.col("o_orderkey") == F.col("l_orderkey"))
               .groupBy(F.col("o_custkey").alias("user"),
                        F.col("l_partkey").alias("item"))
               .agg(F.sum("l_quantity").alias("r"))
               .localCheckpoint())
    mark("ratings_checkpoint", t0)
    print(f"# ratings rows: {ratings.count()}")
    li_rows = footer_rows(sf_dir, "lineitem")

    # --- training, phase by phase (mirrors als_explicit iters=2) ---
    from vega_spark.functions.recommender import _init_factors
    t0 = time.monotonic()
    items = ratings.select(F.col("item")).distinct()
    yi = _init_factors(items, "item", 4, "als").localCheckpoint()
    n_items = yi.count()
    mark("init_item_factors", t0)
    print(f"# items: {n_items}")

    bc_items = True
    bc_users = None
    xu = None
    for it in range(2):
        t0 = time.monotonic()
        xu_new = _solve_side(ratings, "user", "item", "r",
                             yi, 4, 0.1,
                             broadcast_fixed=bc_items).localCheckpoint()
        if bc_users is None:
            n_users = xu_new.count()
            bc_users = n_users <= 2_000_000
            print(f"# users: {n_users}")
        mark(f"half_step_user_{it}", t0)
        xu = xu_new
        t0 = time.monotonic()
        yi = _solve_side(ratings, "item", "user", "r",
                         xu, 4, 0.1,
                         broadcast_fixed=bc_users).localCheckpoint()
        mark(f"half_step_item_{it}", t0)

    t0 = time.monotonic()
    users = (ratings.select("user").distinct()
             .filter(F.col("user") < 25).localCheckpoint(eager=True))
    mark("users_leg", t0)

    t0 = time.monotonic()
    recs = recommend_top_k(ratings, "user", "item", xu, yi,
                           users, k=3).localCheckpoint(eager=True)
    mark("recommend_leg", t0)

    t0 = time.monotonic()
    rmse, base = als_rmse_vs_baseline(ratings, "user", "item", "r", xu, yi)
    mark("rmse_leg", t0)

    t0 = time.monotonic()
    from pyspark.sql.window import Window
    w = Window.partitionBy("user").orderBy("rk")
    viol = (recs.withColumn("__prev", F.lag("score").over(w))
            .filter(F.col("__prev").isNotNull()
                    & (F.col("score") > F.col("__prev"))))
    seen = ratings.select("user", "item")
    ragg = recs.agg(F.count(F.lit(1)).alias("n_rec_rows"),
                    F.count_distinct("user").alias("__rusers"))
    uagg = users.agg(F.count(F.lit(1)).alias("n_users"))
    (uagg.crossJoin(ragg)
     .crossJoin(viol.agg(F.count(F.lit(1)).alias("__viol")))
     .crossJoin(recs.join(seen, ["user", "item"], "semi")
                .agg(F.count(F.lit(1)).alias("__seen")))
     .write.format("noop").mode("overwrite").save())
    mark("final_assembly", t0)

    total = sum(t.values())
    print(f"# TOTAL phases: {round(total, 3)}s")
    import json
    print(json.dumps(t))


if __name__ == "__main__":
    main()

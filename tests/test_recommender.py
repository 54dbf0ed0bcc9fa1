"""ALS matrix factorization (functions/recommender.py) — the
collaborative-filtering family. Capability superset: the reference
has no ML layer (SURVEY.md §2.11)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from vega_spark.functions.recommender import (
    als_explicit,
    als_rmse,
    recommend_top_k,
)


def _lowrank_ratings(spark, n_u=25, n_i=30, rank=2, seed=2):
    rng = np.random.default_rng(seed)
    U = rng.normal(size=(n_u, rank))
    V = rng.normal(size=(n_i, rank))
    R = U @ V.T
    rows = [(u, i, float(R[u, i]))
            for u in range(n_u) for i in range(n_i)]
    return spark.createDataFrame(rows, "user long, item long, r double")


def test_als_recovers_low_rank_and_descends(spark):
    df = _lowrank_ratings(spark).cache()
    prev = None
    for iters in (1, 3):
        xu, yi = als_explicit(df, "user", "item", "r",
                              rank=3, iters=iters, reg=0.01)
        rmse = als_rmse(df, "user", "item", "r", xu, yi)
        if prev is not None:
            # non-increase up to solver noise (both sides converge to
            # the ~1e-5 floor on exactly factorizable data)
            assert rmse <= prev * 1.05 + 1e-9
        prev = rmse
    # exactly factorizable matrix: near-perfect reconstruction
    assert prev < 0.05
    # factor frames are one row per entity
    assert xu.count() == 25 and yi.count() == 30


def test_als_determinism_and_recommendations(spark):
    df = _lowrank_ratings(spark, seed=7).cache()
    xu1, yi1 = als_explicit(df, "user", "item", "r", rank=2, iters=2)
    xu2, yi2 = als_explicit(df, "user", "item", "r", rank=2, iters=2)
    # md5 init + deterministic solves → identical factors across runs
    f1 = sorted((r.id, tuple(round(v, 9) for v in r.f))
                for r in xu1.collect())
    f2 = sorted((r.id, tuple(round(v, 9) for v in r.f))
                for r in xu2.collect())
    assert f1 == f2
    users = spark.createDataFrame([(0,), (3,)], "user long")
    # hold out items >= 25 → recommendations must come from there
    seen = df.filter("item < 25")
    rec = recommend_top_k(seen, "user", "item", xu1, yi1, users, k=2)
    rows = rec.collect()
    assert len(rows) == 4
    assert all(r.item >= 25 for r in rows)
    assert all(r.rk in (1, 2) for r in rows)


def test_release_local_checkpoint_frees_blocks(spark):
    # r8: iterative operators must release superseded checkpoints
    # deterministically (ALS half-steps swung 15s..112s at the 100x
    # smoke from accumulated block-manager state). Pin the helper's
    # contract: blocks present after localCheckpoint, gone after
    # release, and a non-checkpoint frame is a safe no-op.
    from vega_spark.session import release_local_checkpoint

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    df = spark.range(10000).selectExpr("id", "id * 2 AS y") \
        .localCheckpoint()
    df.count()
    assert jsc.getPersistentRDDs().size() == before + 1
    release_local_checkpoint(df)
    assert jsc.getPersistentRDDs().size() == before
    # no-op on a plain frame
    release_local_checkpoint(spark.range(10))


def test_rmse_vs_baseline_matches_separate_jobs(spark):
    """r9 opt: the fused single-action (rmse, baseline-sd) helper must
    return exactly the two scalars the separate jobs produced."""
    from vega_spark.functions.recommender import als_rmse_vs_baseline

    df = _lowrank_ratings(spark).cache()
    xu, yi = als_explicit(df, "user", "item", "r",
                          rank=3, iters=2, reg=0.01)
    rmse_f, sd_f = als_rmse_vs_baseline(df, "user", "item", "r", xu, yi)
    rmse_sep = als_rmse(df, "user", "item", "r", xu, yi)
    sd_sep = float(
        df.agg(F.stddev_pop("r").alias("sd")).collect()[0]["sd"])
    assert rmse_f == rmse_sep
    assert sd_f == sd_sep


def test_als_copart_matches_plain_and_leaves_caller_aqe_on(spark,
                                                          monkeypatch):
    """The co-partitioned ratings copies give the same factors, feed
    half-steps that plan no hash exchange on the ratings side, and are
    built without ever turning the caller's AQE off."""
    import threading

    from vega_spark.functions import recommender as R

    df = _lowrank_ratings(spark, seed=5).localCheckpoint()
    halves = []
    real = R._solve_side

    def solve_side(*args, **kwargs):
        out = real(*args, **kwargs)
        halves.append(out)
        return out
    monkeypatch.setattr(R, "_solve_side", solve_side)

    def exchanges(frames):
        return [f._jdf.queryExecution().executedPlan().toString()
                .count("Exchange hashpartitioning") for f in frames]

    key = "spark.sql.adaptive.enabled"
    seen: set[str] = set()
    done = threading.Event()

    def poll():
        while not done.is_set():
            seen.add(spark.conf.get(key))
            done.wait(0.002)
    reader = threading.Thread(target=poll)
    reader.start()
    try:
        xu_c, yi_c = als_explicit(df, "user", "item", "r", rank=2,
                                  iters=2, copart=True)
    finally:
        done.set()
        reader.join(timeout=10)
    assert not reader.is_alive()
    assert seen == {"true"}
    assert exchanges(halves) == [0, 0, 0, 0]
    halves.clear()
    xu_p, yi_p = als_explicit(df, "user", "item", "r", rank=2, iters=2,
                              copart=False)
    assert all(n > 0 for n in exchanges(halves))

    def factors(f):
        return sorted((r.id, r.f) for r in f.collect())
    for got, want in ((xu_c, xu_p), (yi_c, yi_p)):
        g, w = factors(got), factors(want)
        assert [i for i, _ in g] == [i for i, _ in w]
        np.testing.assert_allclose([f for _, f in g], [f for _, f in w],
                                   rtol=1e-9, atol=1e-12)

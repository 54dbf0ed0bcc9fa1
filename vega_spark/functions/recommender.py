"""Alternating least squares matrix factorization — the
collaborative-filtering recommender family (capability superset: the
reference has no ML layer, SURVEY.md §2.11; this is the classic
Spark MLlib workload re-expressed on the DataFrame API).

Scale shape — the part that matters at 100 TB of interactions:

- Each half-iteration is ONE equi-join (ratings ⋈ current factors on
  the fixed side's key) + ONE keyed aggregation to the solving
  side's key. The aggregation carries only the r² + r normal-equation
  sufficient statistics per entity (r = rank, so ~20 doubles at
  r = 4) — interactions are never collected, factors never pass
  through the driver.
- The per-entity r x r solve is a VECTORIZED Arrow-batched kernel:
  numpy's stacked ``linalg.solve`` handles a whole batch of entities
  in one BLAS call. Driver work is zero; solver work is O(r³) per
  entity, embarrassingly parallel.
- Factor init is md5-deterministic (no RNG state), so reruns —
  and any-engine replays of the init — are bit-stable.

The iteration itself is float least squares, so (like k-means) the
registry entry is rows-only: SQL cannot express the stacked solve.
Property tests pin the math: training RMSE decreases monotonically
and an exactly low-rank matrix is recovered to ~1e-2.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _init_factors(df: DataFrame, key: str, rank: int,
                  seed: str) -> DataFrame:
    """Deterministic small init: component j of entity e is
    (md5(seed:e:j) mod 1000)/1000 * 0.1 + 0.05 — positive, bounded,
    replayable anywhere."""
    comps = []
    for j in range(rank):
        h = F.conv(F.substring(
            F.md5(F.concat_ws(":", F.lit(seed),
                              F.col(key).cast("string"),
                              F.lit(str(j)))), 1, 12), 16, 10) \
            .cast("long")
        comps.append((h % 1000).cast("double") / 1000.0 * 0.1 + 0.05)
    return df.select(F.col(key).alias("id"),
                     F.array(*comps).alias("f"))


# broadcast the fixed-factor side of a half-step join when it fits
# comfortably in an executor: rank doubles + key + overhead per row.
# Above the cutoff (hundreds of millions of entities at 100 TB) the
# shuffle join is the scale path and the hint must NOT fire.
_BCAST_FACTOR_ROWS = 2_000_000


def _dot(a: str, b: str, rank: int):
    """Expression-form dot product of two rank-length factor arrays.
    Left-assoc sum chain — bit-identical to the F.aggregate∘zip_with
    left fold it replaces (IEEE: 0.0 + x == x), but whole-stage
    codegen'd instead of interpreted per row (measured 2.6x on the
    RMSE pass)."""
    from functools import reduce
    return reduce(lambda x, y: x + y,
                  [F.col(a)[i] * F.col(b)[i] for i in range(rank)])


def _infer_rank(factors: DataFrame) -> int:
    """Factor rank from one row (frames are tiny and checkpointed)."""
    return len(factors.select("f").first()["f"])


def _solve_side(ratings: DataFrame, solve_key: str, fixed_key: str,
                rating_col: str, fixed_factors: DataFrame,
                rank: int, reg: float,
                broadcast_fixed: bool | None = None) -> DataFrame:
    """One ALS half-step: normal-equation sums per ``solve_key``
    entity, then a batched r x r solve.

    The fixed-factor side is broadcast when small: mapInPandas
    output carries no stats, so AQE cannot see that the factor frame
    is tiny and otherwise plans 4 shuffle joins of the full ratings
    frame per training run (measured 7.5s -> 4.1s at sf0.1).
    ``broadcast_fixed`` is decided ONCE per training run by
    als_explicit (factor-frame row count == entity count, already
    known there — r5 ADVICE: a count() per half-step is 2·iters
    extra jobs, and on a non-localCheckpointed frame it re-executes
    the full lineage). None (direct library callers) falls back to
    the adaptive count check."""
    ff = fixed_factors.withColumnRenamed("id", fixed_key)
    if broadcast_fixed is None:
        broadcast_fixed = fixed_factors.count() <= _BCAST_FACTOR_ROWS
    if broadcast_fixed:
        ff = F.broadcast(ff)
    joined = ratings.join(ff, fixed_key)
    # flattened y yᵀ (r² cols) and r·y (r cols) per interaction —
    # static column list, one keyed aggregate
    aggs = []
    for i in range(rank):
        for j in range(rank):
            aggs.append(F.sum(F.col("f")[i] * F.col("f")[j])
                        .alias(f"a{i}_{j}"))
    for i in range(rank):
        aggs.append(F.sum(F.col(rating_col) * F.col("f")[i])
                    .alias(f"b{i}"))
    stats = joined.groupBy(F.col(solve_key).alias("id")).agg(*aggs)

    acols = [f"a{i}_{j}" for i in range(rank) for j in range(rank)]
    bcols = [f"b{i}" for i in range(rank)]

    def solve(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            A = pdf[acols].to_numpy().reshape(-1, rank, rank)
            A = A + reg * np.eye(rank)[None, :, :]
            b = pdf[bcols].to_numpy().reshape(-1, rank, 1)
            x = np.linalg.solve(A, b)[:, :, 0]
            yield pd.DataFrame({"id": pdf["id"],
                                "f": [list(map(float, r)) for r in x]})

    schema = "id long, f array<double>"
    return stats.mapInPandas(solve, schema)


def als_explicit(ratings: DataFrame, user_col: str, item_col: str,
                 rating_col: str, rank: int = 4, iters: int = 3,
                 reg: float = 0.1,
                 seed: str = "als",
                 copart: bool | None = None,
                 copart_storage=None) -> tuple[DataFrame, DataFrame]:
    """Run ``iters`` alternations; returns (user_factors,
    item_factors) as (id, f array<double>) frames. Caller should
    cache/localCheckpoint the ratings frame; factor frames are
    localCheckpointed each alternation to cut the growing lineage
    (the k-means/PageRank iteration discipline).

    ``copart`` pre-decides whether to build the two co-partitioned
    ratings copies (see inline note). r9 (ADVICE): pass it when the
    caller already knows the input scale — the ``None`` fallback
    counts the ratings frame, one full scan of the fact table that
    tiny inputs shouldn't pay just to learn the answer is False.

    ``copart_storage`` (r9, VERDICT r8 #6): StorageLevel for the two
    co-partitioned copies. They exist to ELIDE SHUFFLES, not to live
    in heap — each is read sequentially once per half-step — so
    ``StorageLevel.DISK_ONLY`` trades a page-cache-friendly disk
    scan for zero storage-memory pressure (the default in-memory
    copies OOMed a single 16 GiB JVM at the 300x smoke: 3x the fact
    table pinned). None = the engine's localCheckpoint default."""
    items = ratings.select(F.col(item_col)).distinct()
    yi = _init_factors(items, item_col, rank, seed).localCheckpoint()
    # Two co-partitioned ratings copies (r8, the MLlib in/out-block
    # discipline): a half-step is broadcast-join (narrow, preserves
    # the stream side's partitioning) then groupBy(solve_key) — but
    # ratings arrives partitioned by (user, item), where one entity's
    # ~30 interactions scatter across every partition, so the partial
    # aggregate holds ~1 row per key (useless) and the final agg
    # re-shuffles the ENTIRE pre-agg stream (21 sufficient-statistic
    # columns x 60M rows ≈ 10 GB per half-step at the 100x smoke).
    # Pre-partitioning each copy on its solve key makes every
    # half-step exchange-free: localCheckpoint preserves the physical
    # output partitioning, so the groupBy's ClusteredDistribution is
    # already satisfied. Two shuffles paid once instead of 10 GB per
    # half-step; skipped when ratings is small enough that the extra
    # materializations cost more than they save.
    from vega_spark.session import (cloned_session, rebind,
                                    release_local_checkpoint,
                                    run_overlapped)
    if copart is None:
        copart = ratings.count() > 5_000_000
    if copart:
        # AQE must be OFF while these checkpoints materialize: under
        # AQE the captured physical plan is the adaptive wrapper,
        # whose outputPartitioning reads as unknown, so the
        # checkpointed scan loses its hash partitioning and every
        # half-step re-inserts the exchange this copy exists to kill
        # (verified on the executed plan both ways). So the copies
        # are built on an AQE-off clone and rebound to the caller's
        # session, where the half-steps run with AQE on.
        spark = ratings.sparkSession
        off = rebind(ratings, cloned_session(
            spark, {"spark.sql.adaptive.enabled": "false"}))
        # the two copies are independent shuffles of the same
        # checkpointed input — overlap them (guide §2.6)
        r_user, r_item = (rebind(r, spark) for r in run_overlapped(
            lambda: (off.repartition(F.col(user_col))
                     .localCheckpoint(storageLevel=copart_storage)),
            lambda: (off.repartition(F.col(item_col))
                     .localCheckpoint(storageLevel=copart_storage))))
    else:
        r_user = r_item = ratings
    # broadcast eligibility decided ONCE per run per side (r5 ADVICE:
    # a count per half-step is 2·iters extra jobs), and ONLY ever by
    # counting a just-checkpointed factor frame — row count == entity
    # count, and counting checkpointed blocks is metadata-cheap. A
    # ratings.distinct().count() here would add a full shuffle over
    # the ratings fact table at 100 TB for the same answer, so the
    # user side's decision waits for the first solved (checkpointed)
    # user-factor frame instead.
    bc_items = yi.count() <= _BCAST_FACTOR_ROWS
    bc_users: bool | None = None
    xu = None
    # Release superseded factor checkpoints EAGERLY (r8): each
    # alternation strands the previous round's factor blocks (plus
    # the broadcast relations built from them) in the block manager
    # until the ContextCleaner's weak-ref sweep happens to run after
    # a JVM GC — at the 100x smoke that accumulated state made the
    # SAME half-step swing 15s..112s. Deterministic unpersist keeps
    # the heap flat across iterations; the new frame is always
    # count()-materialized before its predecessor is dropped.
    for _ in range(iters):
        # localCheckpoint is EAGER by default — the new frame is
        # fully materialized by the checkpoint job itself, so no
        # extra count() is needed before releasing the predecessor
        # (r9 opt: the old per-half-step counts were 2·iters−1
        # redundant driver round-trips; only the first user-side
        # count survives, feeding the broadcast decision).
        xu_new = _solve_side(r_user, user_col, item_col, rating_col,
                             yi, rank, reg,
                             broadcast_fixed=bc_items).localCheckpoint()
        if bc_users is None:
            bc_users = xu_new.count() <= _BCAST_FACTOR_ROWS
        if xu is not None:
            release_local_checkpoint(xu)
        xu = xu_new
        yi_new = _solve_side(r_item, item_col, user_col, rating_col,
                             xu, rank, reg,
                             broadcast_fixed=bc_users).localCheckpoint()
        release_local_checkpoint(yi)
        yi = yi_new
    if copart:
        release_local_checkpoint(r_user)
        release_local_checkpoint(r_item)
    return xu, yi


def als_rmse(ratings: DataFrame, user_col: str, item_col: str,
             rating_col: str, xu: DataFrame, yi: DataFrame) -> float:
    """Training RMSE of the factorization (diagnostic)."""
    rank = _infer_rank(xu)
    j = (ratings
         .join(xu.withColumnRenamed("id", user_col)
               .withColumnRenamed("f", "fu"), user_col)
         .join(yi.withColumnRenamed("id", item_col)
               .withColumnRenamed("f", "fi"), item_col))
    dot = _dot("fu", "fi", rank)
    err = j.agg(F.avg(F.pow(F.col(rating_col) - dot, 2))).collect()[0][0]
    return float(err) ** 0.5


def als_rmse_vs_baseline(ratings: DataFrame, user_col: str,
                         item_col: str, rating_col: str,
                         xu: DataFrame, yi: DataFrame
                         ) -> tuple[float, float]:
    """Training RMSE and the global-mean predictor's RMSE
    (= stddev_pop of the ratings) in ONE action — the two scalars
    als-contract queries compare were two separate collect jobs
    (r9 opt, guide §5: scalar aggregates that feed one decision
    belong in one job). Each aggregate is computed over exactly the
    same frame/expressions as before; the crossJoin of two
    single-row aggregates changes neither value."""
    rank = _infer_rank(xu)
    j = (ratings
         .join(xu.withColumnRenamed("id", user_col)
               .withColumnRenamed("f", "fu"), user_col)
         .join(yi.withColumnRenamed("id", item_col)
               .withColumnRenamed("f", "fi"), item_col))
    dot = _dot("fu", "fi", rank)
    row = (j.agg(F.avg(F.pow(F.col(rating_col) - dot, 2)).alias("mse"))
           .crossJoin(ratings.agg(
               F.stddev_pop(rating_col).alias("sd")))
           .collect()[0])
    return float(row["mse"]) ** 0.5, float(row["sd"])


def recommend_top_k(ratings: DataFrame, user_col: str, item_col: str,
                    xu: DataFrame, yi: DataFrame, users: DataFrame,
                    k: int = 3) -> DataFrame:
    """Top-k unseen items for the given (bounded) user set: broadcast
    the selected user factors across the item-factor frame (narrow
    score pass over items — never a users x items blowup), anti-join
    the already-seen pairs, per-user heap via row_number. Ties break
    on item id — deterministic output."""
    from pyspark.sql.window import Window

    sel = (users.join(xu.withColumnRenamed("id", user_col), user_col)
           .withColumnRenamed("f", "fu"))
    rank = _infer_rank(xu)
    # drop the factor arrays the moment the dot is computed: the
    # anti-join below otherwise shuffles |users| x |items| rows each
    # carrying BOTH rank-length arrays (~50 GB at the 100x smoke for
    # 25 users x 2M items) for columns nothing downstream reads
    scored = (F.broadcast(sel).crossJoin(
        yi.withColumnRenamed("id", item_col)
        .withColumnRenamed("f", "fi"))
        .withColumn("score", _dot("fu", "fi", rank))
        .select(user_col, item_col, "score"))
    # seen pairs matter ONLY for the bounded target user set: filter
    # ratings to it (broadcast semi — users is bounded by contract)
    # BEFORE the distinct, then broadcast the anti-join side. The
    # r7-shape full-corpus ratings.distinct() was one shuffle of the
    # whole fact table plus a sort-merge anti against the scored
    # frame — at the 100x smoke that pair of exchanges, not the
    # training loop, dominated the 300s operator leg. Post-fix the
    # only full-corpus pass left in recommend is none at all: seen
    # is |target users| x avg-degree rows (~1k), broadcast both ways.
    seen = (ratings.join(F.broadcast(users), user_col, "semi")
            .select(user_col, item_col).distinct())
    unseen = scored.join(F.broadcast(seen), [user_col, item_col],
                         "left_anti")
    w = (Window.partitionBy(user_col)
         .orderBy(F.col("score").desc(), F.col(item_col).asc()))
    return (unseen.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(user_col, item_col, F.round("score", 6)
                    .alias("score"), "rk"))

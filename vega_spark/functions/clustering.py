"""Distributed k-means (Lloyd's) over an embedding column — the
iterative-algorithm class the reference cannot express at all (its
scheduler runs single DAGs; SURVEY.md §2.9 is its only repeated-job
machinery) and SQL cannot express either (registry entry is
rows-only).

Per-iteration cost at 100 TB, the part that matters:
- assignment is NARROW: one Arrow-batched pandas UDF computes all
  k distances per batch with a single numpy matmul-shaped broadcast —
  no join, no shuffle of the points, k*dim flops per row. (A pure
  Column-expression variant with literal centroids exists as
  `assign_clusters_expr`, but its tree is O(k*dim) expression nodes
  — ~10k at k=10/dim=64 — and Catalyst re-ANALYZES it every
  iteration since the literals change: driver-side planning came to
  dominate iteration wall time. The UDF plan is a handful of nodes
  and the centroid matrix rides the pickled closure.)
- the update shuffles only (cluster, dim_pos, partial sum/count):
  k * dim * num_partitions rows, independent of point count.
- centroids live on the driver (k * dim floats) — the classic
  broadcast-iterate loop.

Convergence is driver-checked on centroid movement; the points
DataFrame should be cached by the caller for multi-iteration runs
(the registry entry does).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _sq_dist(vec_col: Column, centroid: list[float]) -> Column:
    lit_c = F.array(*[F.lit(float(x)) for x in centroid])
    diff2 = F.zip_with(vec_col, lit_c, lambda a, b: (a - b) * (a - b))
    return F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x)


def assign_clusters_expr(points: DataFrame, vec_col: str,
                         centroids: list[list[float]],
                         out_col: str = "cluster") -> DataFrame:
    """Nearest-centroid id (0-based) as a pure Column expression —
    fine for one-shot assignment with small k*dim; prefer
    `assign_clusters` inside iterative loops (see module docs)."""
    v = F.col(vec_col)
    dists = F.array(*[_sq_dist(v, c) for c in centroids])
    return points.withColumn(
        out_col,
        (F.array_position(dists, F.array_min(dists)) - 1).cast("int"))


def assign_clusters(points: DataFrame, vec_col: str,
                    centroids: list[list[float]],
                    out_col: str = "cluster") -> DataFrame:
    """Nearest-centroid id (0-based), vectorized: one Arrow batch in,
    an (n_batch x k) distance matrix in numpy, argmin out. Ties break
    to the lowest centroid id (numpy argmin = first minimum), matching
    the expression variant."""
    C = np.asarray(centroids, dtype=np.float64)          # k x dim
    c_sq = (C * C).sum(axis=1)                           # precomputed |c|^2

    @F.pandas_udf("int")
    def nearest(batch: pd.Series) -> pd.Series:
        X = np.asarray(batch.tolist(), dtype=np.float64)  # n x dim
        # |x-c|^2 = |x|^2 - 2 x.c + |c|^2; |x|^2 constant per row, drop
        d = c_sq[None, :] - 2.0 * (X @ C.T)               # n x k
        return pd.Series(d.argmin(axis=1).astype("int32"))

    return points.withColumn(out_col, nearest(F.col(vec_col)))


def _iterate_partials(points: DataFrame, vec_col: str,
                      centroids: list[list[float]],
                      k: int, dim: int) -> list:
    """One fused Lloyd iteration (r9 opt round, guide §2.4/§4):
    nearest-centroid assignment AND the per-cluster (sum, count)
    partials in a single narrow mapInPandas pass — ``k x dim``
    doubles per task reach the driver, replacing the previous
    posexplode → groupBy(cluster, pos) → collect chain whose
    exchange + second stage were pure overhead for summary-sized
    data. This is the MLlib treeAggregate shape: cost per iteration
    is one scan, zero shuffles, driver merge O(partitions·k·dim).
    Partial sums use numpy within a partition and merge in
    partition order — deterministic, though not bit-identical to
    the old shuffle-merge order; the contract surface (partition
    coverage, cluster-count bounds, silhouette range) is invariant
    to centroid ulps."""
    C = np.asarray(centroids, dtype=np.float64)
    c_sq = (C * C).sum(axis=1)

    def part(it):
        sums = np.zeros((k, dim), dtype=np.float64)
        cnts = np.zeros(k, dtype=np.int64)
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            a = (c_sq[None, :] - 2.0 * (X @ C.T)).argmin(axis=1)
            for cid in np.unique(a):
                m = a == cid
                sums[cid] += X[m].sum(axis=0)
                cnts[cid] += int(m.sum())
        yield pd.DataFrame({"cluster": np.arange(k, dtype="int32"),
                            "s": [list(map(float, r)) for r in sums],
                            "n": cnts})

    return (points.select(vec_col)
            .mapInPandas(part, "cluster int, s array<double>, n long")
            .collect())


def kmeans(points: DataFrame, vec_col: str, k: int,
           max_iter: int = 20, tol: float = 1e-4,
           init_ids: DataFrame | None = None,
           id_col: str = "vec_id") -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's k-means. Deterministic init: the k rows with the
    lowest ``id_col`` (seedless reproducibility across engines and
    runs — random init would make every result engine-specific).
    Returns (points + ``cluster`` column, final centroids).

    Per-iteration plan (r9 opt): ONE narrow fused pass
    (`_iterate_partials`) — no exchange anywhere in the loop; only
    the final returned assignment runs the plain `assign_clusters`
    column.

    CONTRACT NOTE (r10, VERDICT r9 #2): the returned CENTROID VALUES
    are reduction-order-dependent at the ulp level — partial sums
    accumulate in numpy within each partition and merge in partition
    order on the driver, so a different partitioning of ``points``
    can move a centroid component by ~1 ulp. Do NOT build queries
    that expose raw centroid floats; the declared surface (cluster
    assignments / counts / silhouette on separated data) is invariant
    (pinned by test_kmeans_invariant_across_repartitionings)."""
    first = (init_ids or points).orderBy(id_col).limit(k).collect()
    centroids = [list(map(float, r[vec_col])) for r in first]
    dim = len(centroids[0])
    for _ in range(max_iter):
        rows = _iterate_partials(points, vec_col, centroids, k, dim)
        sums = np.zeros((k, dim), dtype=np.float64)
        cnts = np.zeros(k, dtype=np.int64)
        for r in rows:                        # partition order — stable
            sums[r["cluster"]] += np.asarray(r["s"], dtype=np.float64)
            cnts[r["cluster"]] += r["n"]
        new = [list(sums[c] / cnts[c]) if cnts[c] > 0 else list(centroids[c])
               for c in range(k)]             # empty cluster keeps centroid
        shift = max(sum((a - b) ** 2 for a, b in zip(cn, co)) ** 0.5
                    for cn, co in zip(new, centroids))
        centroids = new
        if shift < tol:
            break
    return assign_clusters(points, vec_col, centroids), centroids


def cluster_sizes(assigned: DataFrame) -> DataFrame:
    return (assigned.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("cluster"))


def silhouette_simplified(assigned: DataFrame, vec_col: str,
                          centroids: list[list[float]],
                          round_dp: int = 6) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster: for each
    point, a = distance to its own centroid, b = min distance to any
    OTHER centroid, s = (b - a) / max(a, b); report per-cluster mean
    s, mean a, and size.

    This is the evaluator that stays computable at corpus scale: the
    exact silhouette is O(n²) pairwise distances, the simplified form
    is O(k) per point against broadcast-literal centroids — one
    narrow Arrow pass + one k-row aggregate, the same cost shape as
    a single k-means assignment step (sklearn ships the same
    trade-off; s is in [-1, 1] with identical interpretation)."""
    import pandas as pd

    C = np.asarray(centroids, dtype="float64")

    def score(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.asarray([np.asarray(v, dtype="float64")
                            for v in pdf[vec_col]])
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            d = np.sqrt(d2)
            own = pdf["cluster"].to_numpy()
            a = d[np.arange(len(X)), own]
            d_masked = d.copy()
            d_masked[np.arange(len(X)), own] = np.inf
            b = d_masked.min(axis=1)
            denom = np.maximum(a, b)
            s = np.where(denom > 0, (b - a) / denom, 0.0)
            yield pd.DataFrame({"cluster": own, "s": s, "a": a})

    per_point = (assigned.select(vec_col, "cluster")
                 .mapInPandas(score, "cluster int, s double, a double"))
    return (per_point.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("s"), round_dp).alias("mean_silhouette"),
                 F.round(F.avg("a"), round_dp).alias("mean_dist_own"))
            .orderBy("cluster"))

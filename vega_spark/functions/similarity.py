"""Similarity search over embedding columns (array<float>).

Two tiers:
- cosine_topk_bruteforce — exact top-k for a (small) query set:
  broadcast the queries, one narrow pass over the corpus computing
  dot products JVM-side (zip_with + aggregate), then per-query top-k
  (TakeOrderedAndProject shape — no global sort).
- lsh_ann_topk — sign-random-projection LSH: corpus and queries are
  bucketed by the sign pattern of dot products with fixed random
  hyperplanes; candidates = same-bucket rows (multi-probe: hamming-1
  neighbors optional); exact rerank on candidates only.

Scale notes: brute force is O(|corpus| x |queries|) — fine when
queries are a broadcastable constant, impossible corpus-vs-corpus.
The LSH path's candidate generation is one equi-join on the bucket
key; recall/cost is tuned by (num_planes, probes). At 100 TB the
corpus side stays partitioned and is never collected or re-shuffled
beyond the single bucket-key exchange.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns, JVM-side."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def l2_normalize(a: Column) -> Column:
    """Unit-normalize an embedding (double precision); zero vectors
    pass through unchanged. Pure expression — fuses into the scan, so
    normalizing 100 TB of embeddings is one narrow write-through pass.
    Left-fold accumulation order (F.aggregate) is part of the
    contract: an external replay with the same fold order reproduces
    the doubles bit-for-bit."""
    n = l2_norm(F.transform(a, lambda x: x.cast("double")))
    return F.when(n > 0, F.transform(a, lambda x: x.cast("double") / n)) \
            .otherwise(F.transform(a, lambda x: x.cast("double")))


def quantize_int8(a: Column) -> Column:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = round_half_up(x_i / scale). Returns a struct
    (scale double, q array<int>) — the standard 4x shrink for ANN
    index storage. round-half-up is computed as floor(v + 0.5) so any
    engine reproduces it exactly (no banker's-rounding divergence).
    Zero vectors quantize to all-zero with scale 0."""
    xs = F.transform(a, lambda x: x.cast("double"))
    amax = F.array_max(F.transform(xs, F.abs))
    scale = amax / F.lit(127.0)
    q = F.when(amax > 0,
               F.transform(xs, lambda x: F.floor(x / scale + 0.5)
                           .cast("int"))) \
         .otherwise(F.transform(xs, lambda x: F.lit(0)))
    return F.struct(scale.alias("scale"), q.alias("q"))


def cosine_topk_bruteforce(corpus: DataFrame, queries: DataFrame,
                           k: int = 10,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           query_id_col: str = "query_id",
                           exclude_self: bool = False,
                           round_dp: int | None = 6) -> DataFrame:
    """Exact cosine top-k of ``corpus`` rows per ``queries`` row.

    queries must be small (it is broadcast). Ties broken by corpus id
    so the result set is deterministic. ``exclude_self`` drops
    neighbor_id == query_id BEFORE ranking (corpus-as-queries callers:
    with it off, >= k identical vectors tying at cos 1.0 can push a
    real neighbor out of the window — r3 ADVICE). ``round_dp=None``
    returns the raw cosine so downstream threshold filters are not
    applied to a rounded value (a true cos in [t-5e-7, t) must not
    flip sides of a >= t cut)."""
    q = F.broadcast(queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    ))
    # corpus norm folded once per row, not once per (row x query):
    # dot/(na*nb) is cosine()'s own expression with the norm subtrees
    # prefolded — bit-identical doubles (see embedding_near_dup_pairs)
    scored = (corpus
              .withColumn("__cn", l2_norm(F.col(vec_col)))
              .crossJoin(q).select(
                  "query_id",
                  F.col(id_col).alias("neighbor_id"),
                  (dot(F.col(vec_col), F.col("__qvec"))
                   / (F.col("__cn") * F.col("__qn"))).alias("cos"),
              ))
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id").asc())
    cos_out = (F.col("cos") if round_dp is None
               else F.round("cos", round_dp))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id", "neighbor_id", cos_out.alias("cos"), "rk"))


def _random_planes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    rnd = random.Random(seed)
    return [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(num_planes)]


def _buckets_udf(tables: list[list[list[float]]]):
    """Arrow-batched hyperplane bucketer: per input vector, the sign
    pattern of <vec, plane_i> packed into one BIGINT per table —
    array<long> of length len(tables).

    One numpy matmul per Arrow batch computes EVERY table's bucket at
    once. The previous Column-expression form built num_tables x
    num_planes x dim literal nodes — thousands of py4j round-trips at
    plan-build time and a Catalyst tree whose analysis/codegen dwarfed
    the actual math (measured 7.5 s build + 4 s first exec on a
    2k-row corpus for 8x6x64). Dense linear algebra against a
    constant matrix is the sanctioned pandas-UDF case — same doctrine
    as _nearest_cells_udf below. Sign flips vs the sequential-sum
    expression are possible only at |dot| ~ float ulp (measure-zero;
    recall contracts pin floors, not candidate identity).

    Null-safety (r4 ADVICE): rows whose vector is NULL or has the
    wrong length get a NULL bucket array instead of crashing the
    Arrow worker in np.vstack — posexplode then simply skips them,
    matching the old expression form's degrade-gracefully behavior
    (a null vector can't be near anything)."""
    from pyspark.sql.functions import pandas_udf

    mats = [np.asarray(t, dtype="float64") for t in tables]
    weights = [(1 << np.arange(m.shape[0], dtype="int64")) for m in mats]
    dim = mats[0].shape[1] if mats else 0

    @pandas_udf("array<long>")
    def buckets(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        arrs = vs.to_numpy()
        ok = np.fromiter((a is not None and len(a) == dim for a in arrs),
                         dtype=bool, count=len(arrs))
        out: list = [None] * len(arrs)
        idx = np.nonzero(ok)[0]
        if len(idx):
            M = np.vstack([arrs[i] for i in idx])       # good x dim
            cols = [((M @ m.T) > 0) @ w                 # good, per table
                    for m, w in zip(mats, weights)]
            B = np.stack(cols, axis=1).astype("int64")  # good x n_tables
            for j, i in enumerate(idx):
                out[i] = B[j].tolist()
        return pd.Series(out, dtype=object)

    return buckets


def lsh_ann_topk(corpus: DataFrame, queries: DataFrame, dim: int,
                 k: int = 10, num_planes: int = 12, probes: int = 1,
                 num_tables: int = 4,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 query_id_col: str = "query_id", seed: int = 42) -> DataFrame:
    """Approximate cosine top-k: hyperplane-LSH buckets + exact rerank.

    Recall knobs, in order of effect:
    - num_tables: independent hash tables (corpus stored x T — the
      classic memory-for-recall trade; candidates are the union).
    - probes: per table, also search buckets at hamming distance 1
      from the query's bucket (flipping the lowest `probes-1` bits) —
      recall without re-hashing the corpus.

    The candidate join is a single equi-join on (table, bucket); at
    100 TB the corpus side is hashed once per table and never
    re-shuffled beyond that."""
    tables = [_random_planes(dim, num_planes, seed + 1000 * t)
              for t in range(num_tables)]
    buckets = _buckets_udf(tables)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"),
        l2_norm(F.col(vec_col)).alias("__cn"),
        F.posexplode(buckets(F.col(vec_col))).alias("table", "bucket"))
    # multiprobe: the base bucket plus hamming-1 flips of the lowest
    # probes-1 bits, derived JVM-side from the UDF's base bucket —
    # probes-1 cheap XOR columns, no re-hash of anything
    probe_arr = F.array(F.col("base"), *[
        F.col("base").bitwiseXOR(F.shiftleft(F.lit(1).cast("long"), i))
        for i in range(max(0, probes - 1))])
    q = F.broadcast(queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        l2_norm(F.col(vec_col)).alias("__qn"),
        F.posexplode(buckets(F.col(vec_col))).alias("table", "base"),
    ).select("query_id", "__qvec", "__qn", "table",
             F.explode(probe_arr).alias("bucket")))
    # norms prefolded once per (row, table) instead of per candidate:
    # bit-identical to cosine() inline (see embedding_near_dup_pairs)
    cand = (c.join(q, ["table", "bucket"])
            .select("query_id", "neighbor_id",
                    (dot(F.col("__cvec"), F.col("__qvec"))
                     / (F.col("__cn") * F.col("__qn"))).alias("cos"))
            .groupBy("query_id", "neighbor_id")
            .agg(F.first("cos").alias("cos")))  # dedup across tables/probes
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id").asc())
    return (cand.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rk"))


def embedding_near_dup_pairs(df: DataFrame, dim: int,
                             threshold: float = 0.95,
                             num_planes: int | None = None,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             seed: int = 42,
                             max_bucket: int | None = None,
                             target_occupancy: int = 32) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b): LSH-bucket the
    corpus against itself, exact-cosine verify within buckets. The
    corpus-vs-corpus analogue of lsh_ann_topk — candidate join is on
    the bucket key, never all-pairs.

    Scale shape: the bucket count is FIXED at 2^num_planes while
    occupancy grows linearly with the corpus, so within-bucket pairs
    grow QUADRATICALLY once buckets saturate (measured 47x wall at
    10x data with 8 planes uncapped, r5 scale smoke). Two knobs:
    - num_planes should scale ~log2(n / target_occupancy) with the
      corpus — each extra plane halves expected occupancy. The
      default (None) AUTO-SIZES it from one cheap count():
      ceil(log2(n / target_occupancy)), clamped to [4, 24] — so the
      bucket count tracks the corpus and the cap below stops being
      the only defense at scale (r5 verdict #6). Integer planes make
      expected occupancy WOBBLE in (target/2, target]: across a
      decade that straddles a plane notch, within-bucket pairs grow
      up to ~2x faster than rows (measured 1000x smoke: occupancy
      18.3 -> 30.5 over 300x -> 1000x, in-decade wall 1.19x
      super-linear after the norms-once fix below). Inherent to any
      single-table sign-LSH with integer plane counts; the next
      notch flattens it back. Pass an int to pin
      it (contracts do, so their oracle replay is stable).
    - ``max_bucket`` (same guard as minhash_lsh_pairs /
      simhash_near_pairs) keeps the first ``max_bucket`` ids per
      bucket regardless, restoring linear candidate generation on
      skewed/underplaned corpora at a recall cost. The LIBRARY
      default is ``None`` (100% within-bucket recall — a library
      call must not silently truncate); production entry points opt
      in explicitly (the registry ships ``max_bucket=1000``)."""
    if num_planes is None:
        n = df.count()
        num_planes = max(4, min(24, math.ceil(
            math.log2(max(n, 1) / target_occupancy))
            if n > target_occupancy else 4))
    planes = _random_planes(dim, num_planes, seed)
    # per-vector norm computed ONCE here (r8): the within-bucket
    # verify evaluates ~occupancy/2 pairs per vector, and cosine()
    # inline would re-fold BOTH norms per pair — 3x the flops of the
    # dot product on the 120M-pair stream the 1000x smoke measured.
    # dot/(na*nb) with the prefolded norms is the SAME expression
    # tree cosine() builds (same fold, same operand order), so the
    # doubles — and the rounded output — are bit-identical.
    b = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                  l2_norm(F.col(vec_col)).alias("nrm"),
                  _buckets_udf([planes])(F.col(vec_col))
                  .getItem(0).alias("bucket"))
    if max_bucket is not None:
        w = Window.partitionBy("bucket").orderBy("id")
        b = (b.withColumn("__rn", F.row_number().over(w))
             .filter(F.col("__rn") <= max_bucket).drop("__rn"))
    else:
        # r9 opt: the capped path's window exchange is reused across
        # both self-join branches at runtime, so the bucket UDF runs
        # once — but UNCAPPED there is no exchange before the join
        # and each branch re-runs the Python bucket pass. Materialize
        # the (id, v, nrm, bucket) frame once instead; rows are
        # vector-sized, corpus-bounded.
        b = b.localCheckpoint(eager=True)
    lhs = b.select("bucket", F.col("id").alias("id_a"),
                   F.col("v").alias("v_a"), F.col("nrm").alias("na"))
    rhs = b.select("bucket", F.col("id").alias("id_b"),
                   F.col("v").alias("v_b"), F.col("nrm").alias("nb"))
    return (lhs.join(rhs, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cos", dot(F.col("v_a"), F.col("v_b"))
                        / (F.col("na") * F.col("nb")))
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
            .distinct())


def _nearest_cells_udf(centroids: list[list[float]], n: int = 1):
    """Vectorized (Arrow-batched) nearest-cell scorer: one numpy
    matmul per batch against the unit-normalized centroid matrix.

    Ranking by dot against normalized centroids equals ranking by
    cosine (l2_norm(vec) is a per-row positive constant). A pure
    Column-expression version compiles an expression tree of
    n_cells x dim literals — codegen time dwarfs the actual math;
    dense linear algebra is exactly the sanctioned pandas-UDF case.
    Ties break toward the smaller cell id (stable argsort)."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype="float64")
    norms = np.linalg.norm(C, axis=1)
    norms[norms == 0.0] = 1.0
    Cn = (C / norms[:, None]).T  # dim x n_cells

    @pandas_udf("array<int>")
    def assign(vs: pd.Series) -> pd.Series:
        M = np.vstack(vs.to_numpy())          # batch x dim
        order = np.argsort(-(M @ Cn), axis=1, kind="stable")[:, :n]
        return pd.Series([row.astype("int32") for row in order])

    return assign


def train_ivf_centroids(corpus: DataFrame, dim: int, n_cells: int = 16,
                        iters: int = 1, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> list[list[float]]:
    """IVF coarse quantizer: k-means with deterministic hashed init
    (cell_0 = xxhash64(id) mod n_cells), ``iters`` Lloyd steps.

    Each step is one narrow assignment pass + one (cell, position)
    aggregation; only n_cells x dim numbers ever reach the driver, so
    training cost is independent of corpus size beyond the scans —
    the part that must survive 100 TB."""
    assign = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_cells))
    for _ in range(iters):
        means = (corpus.select(assign.alias("cell"),
                               F.posexplode(vec_col).alias("pos", "x"))
                 .groupBy("cell", "pos").agg(F.avg("x").alias("m"))
                 .groupBy("cell")
                 .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
                 .select("cell", F.transform("pm", lambda e: e["m"]).alias("centroid"))
                 .collect())
        centroids = [list(r.centroid) for r in
                     sorted(means, key=lambda r: r.cell)]
        assign = _nearest_cells_udf(centroids, 1)(F.col(vec_col))[0]
    return centroids


def ivf_ann_topk(corpus: DataFrame, queries: DataFrame, dim: int,
                 k: int = 10, n_cells: int = 16, n_probe: int = 4,
                 iters: int = 1,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 query_id_col: str = "query_id") -> DataFrame:
    """IVF approximate top-k: corpus vectors index into their nearest
    coarse cell; queries probe the ``n_probe`` nearest cells; exact
    cosine rerank on the candidates.

    The scale path alongside lsh_ann_topk: candidate generation is an
    equi-join on the cell id, so the corpus shuffles once on a
    low-cardinality key and the probed fraction (~n_probe/n_cells)
    bounds rerank cost."""
    centroids = train_ivf_centroids(corpus, dim, n_cells, iters,
                                    id_col, vec_col)
    cell1 = _nearest_cells_udf(centroids, 1)
    celln = _nearest_cells_udf(centroids, n_probe)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"),
        l2_norm(F.col(vec_col)).alias("__cn"),
        cell1(F.col(vec_col))[0].alias("cell"))
    q = F.broadcast(queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec"),
        l2_norm(F.col(vec_col)).alias("__qn"),
        F.explode(celln(F.col(vec_col))).alias("cell")))
    # norms prefolded once per row instead of per candidate pair:
    # bit-identical to cosine() inline (see embedding_near_dup_pairs)
    cand = (c.join(q, "cell")
            .select("query_id", "neighbor_id",
                    (dot(F.col("__cvec"), F.col("__qvec"))
                     / (F.col("__cn") * F.col("__qn"))).alias("cos")))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id").asc())
    return (cand.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rk"))


def cosine_topk_arrow(corpus: DataFrame, queries: DataFrame,
                      k: int = 10,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      query_id_col: str = "query_id",
                      exclude_self: bool = False,
                      round_dp: int | None = 6) -> DataFrame:
    """`cosine_topk_bruteforce` with the scoring kernel on
    ``mapInArrow``: each Arrow batch becomes one numpy matmul
    (E @ Qᵀ) against the (small, driver-collected) query matrix, and
    only each partition's LOCAL top-k per query leaves the Python
    worker — the map-side-combine shape, so the final exact top-k
    window sees partitions×queries×k rows, not the corpus. Exact same
    results as the JVM-expression kernel (float64 math, same
    tie-break); this is the pattern for when the distance kernel
    outgrows Column expressions (PQ/ADC scans, custom metrics).
    ``exclude_self`` / ``round_dp`` mirror cosine_topk_bruteforce
    (drop neighbor_id == query_id BEFORE ranking; None = raw cosine
    for downstream threshold cuts)."""
    import numpy as np
    import pyarrow as pa

    qrows = (queries.select(F.col(query_id_col).alias("qid"),
                            F.col(vec_col).alias("v")).collect())
    qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
    Q = np.array([list(r["v"]) for r in qrows], dtype=np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1))

    out_schema = "query_id long, neighbor_id long, cos double"

    def score(batches):
        for rb in batches:
            ids = rb.column(rb.schema.get_field_index(id_col)) \
                    .to_numpy(zero_copy_only=False)
            emb = rb.column(rb.schema.get_field_index(vec_col))
            n = len(ids)
            if n == 0:
                continue
            flat = emb.flatten().to_numpy(zero_copy_only=False) \
                      .astype(np.float64)
            E = flat.reshape(n, -1)
            en = np.sqrt((E * E).sum(axis=1))
            sims = (E @ Q.T) / (en[:, None] * qn[None, :])
            for j in range(len(qids)):
                s, idj = sims[:, j], ids
                if exclude_self:
                    m = idj != qids[j]
                    s, idj = s[m], idj[m]
                kk = min(k, len(idj))
                if kk == 0:
                    continue
                # local exact top-k with (cos desc, id asc) tie-break
                order = np.lexsort((idj, -s))[:kk]
                yield pa.RecordBatch.from_pydict({
                    "query_id": np.full(kk, qids[j], dtype=np.int64),
                    "neighbor_id": idj[order].astype(np.int64),
                    "cos": s[order],
                })

    local = corpus.select(id_col, vec_col).mapInArrow(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id").asc())
    cos_out = (F.col("cos") if round_dp is None
               else F.round("cos", round_dp))
    return (local.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id", "neighbor_id",
                    cos_out.alias("cos"), "rk"))


# --- product quantization (PQ): compressed codes + ADC scan ---------------

def _kmeans_np(X: "np.ndarray", k: int, iters: int) -> "np.ndarray":
    """Deterministic driver-side k-means for codebook training (no
    RNG: init = first k training rows, which arrive in md5 order from
    the deterministic sample; stable argmin ties). Input is the
    bounded training sample, never the corpus."""
    k = min(k, len(X))
    C = X[:k].astype("float64").copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        a = d.argmin(axis=1)
        for c in range(k):
            members = X[a == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


def train_pq_codebooks(corpus: DataFrame, dim: int, m: int = 8,
                       nbits: int = 5, iters: int = 3,
                       n_train: int = 20_000,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> list[list[list[float]]]:
    """Product-quantization codebooks: split ``dim`` into ``m``
    subspaces and k-means each to 2^nbits codewords (the FAISS
    recipe). Trained on a deterministic md5-ordered sample of
    ``n_train`` vectors — the published practice even for 1e9-vector
    corpora, so training cost and driver transfer are CONSTANT in
    corpus size (n_train x dim floats up, m x 2^nbits x dim/m back).
    """
    assert dim % m == 0, "dim must divide into m subspaces"
    dsub = dim // m
    sample = (corpus
              .orderBy(F.md5(F.col(id_col).cast("string").cast("binary")),
                       F.col(id_col))
              .limit(n_train)
              .select(F.col(vec_col).alias("v")).collect())
    X = np.array([list(r["v"]) for r in sample], dtype="float64")
    return [
        _kmeans_np(X[:, j * dsub:(j + 1) * dsub], 1 << nbits, iters).tolist()
        for j in range(m)
    ]


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]],
              vec_col: str = "embedding",
              out_col: str = "pq_code") -> DataFrame:
    """Attach the PQ code (array<int>, one codeword id per subspace,
    nearest by L2). An Arrow-batched kernel — one numpy distance
    matrix per (batch x subspace); the encoded column is m small ints
    per vector (e.g. 64 float32 dims -> 8 bytes: 32x compression),
    which is what the 100 TB ANN index stores and scans."""
    from pyspark.sql.functions import pandas_udf

    Cs = [np.asarray(cb, dtype="float64") for cb in codebooks]
    m = len(Cs)
    dsub = Cs[0].shape[1]

    @pandas_udf("array<int>")
    def enc(vs: pd.Series) -> pd.Series:
        M = np.vstack(vs.to_numpy()).astype("float64")
        codes = np.empty((len(M), m), dtype="int32")
        for j, C in enumerate(Cs):
            S = M[:, j * dsub:(j + 1) * dsub]
            d = ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            codes[:, j] = d.argmin(axis=1)
        return pd.Series(list(codes))

    return df.withColumn(out_col, enc(F.col(vec_col)))


def pq_adc_topk(corpus: DataFrame, queries: DataFrame,
                codebooks: list[list[list[float]]],
                k: int = 10, refine: int = 4,
                id_col: str = "vec_id", vec_col: str = "embedding",
                code_col: str = "pq_code",
                query_id_col: str = "query_id") -> DataFrame:
    """PQ approximate top-k with asymmetric distance computation and
    exact re-rank: each query precomputes an m x 2^nbits lookup table
    of subspace dot products (plus codeword norms, query-independent),
    the scan sums m table entries per corpus row — approx cos =
    cos(query, reconstructed vector) exactly — keeps each partition's
    local top-(k*refine), and the surviving k*refine candidates per
    query are re-ranked by exact cosine against the original vectors.

    Scale shape: the scan reads only (id, code) — m bytes/vector, not
    the embedding — the Arrow kernel emits partitions x queries x
    k*refine rows, and the re-rank join touches k*refine x queries
    corpus rows. This is the FAISS IndexPQ scan re-expressed as a
    DataFrame pipeline."""
    import pyarrow as pa

    Cs = [np.asarray(cb, dtype="float64") for cb in codebooks]
    m = len(Cs)
    ksub = max(C.shape[0] for C in Cs)
    dsub = Cs[0].shape[1]
    # codeword squared-norm LUT (query-independent): |recon|^2 is the
    # exact sum of subspace codeword norms (subspaces concatenate)
    LUTn = np.zeros((m, ksub))
    for j, C in enumerate(Cs):
        LUTn[j, :C.shape[0]] = (C * C).sum(axis=1)

    qrows = (queries.select(F.col(query_id_col).alias("qid"),
                            F.col(vec_col).alias("v")).collect())
    qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
    Q = np.array([list(r["v"]) for r in qrows], dtype=np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1))
    nq = len(qids)
    LUTd = np.zeros((nq, m, ksub))
    for j, C in enumerate(Cs):
        LUTd[:, j, :C.shape[0]] = Q[:, j * dsub:(j + 1) * dsub] @ C.T

    kk = k * refine
    jj = np.arange(m)[None, :]

    def scan(batches):
        for rb in batches:
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            n = len(ids)
            if n == 0:
                continue
            codes = np.vstack(
                rb.column(1).to_pylist()).astype("int64")   # n x m
            rnorm = np.sqrt(LUTn[jj, codes].sum(axis=1))     # n
            rnorm[rnorm == 0.0] = 1.0
            take = min(kk, n)
            for qi in range(nq):
                dots = LUTd[qi][jj, codes].sum(axis=1)       # n
                s = dots / (rnorm * qn[qi])
                order = np.lexsort((ids, -s))[:take]
                yield pa.RecordBatch.from_pydict({
                    "query_id": np.full(take, qids[qi], dtype=np.int64),
                    "neighbor_id": ids[order].astype(np.int64),
                    "adc": s[order],
                })

    local = (corpus.select(id_col, code_col)
             .mapInArrow(scan, "query_id long, neighbor_id long, adc double"))
    w = Window.partitionBy("query_id").orderBy(F.col("adc").desc(),
                                               F.col("neighbor_id").asc())
    cand = (local.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= kk).drop("rk"))
    # exact re-rank of the k*refine survivors against original vectors
    orig = corpus.select(F.col(id_col).alias("neighbor_id"),
                         F.col(vec_col).alias("__cvec"))
    qv = F.broadcast(queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec")))
    rer = (cand.join(orig, "neighbor_id").join(qv, "query_id")
           .select("query_id", "neighbor_id",
                   cosine(F.col("__cvec"), F.col("__qvec")).alias("cos")))
    w2 = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                                F.col("neighbor_id").asc())
    return (rer.withColumn("rk", F.row_number().over(w2))
            .filter(F.col("rk") <= k)
            .select("query_id", "neighbor_id",
                    F.round("cos", 6).alias("cos"), "rk"))


def ivfpq_ann_topk(corpus: DataFrame, queries: DataFrame, dim: int,
                   k: int = 10, n_cells: int = 16, n_probe: int = 4,
                   m: int = 8, nbits: int = 5, iters_ivf: int = 1,
                   iters_pq: int = 3, n_train: int = 20_000,
                   refine: int = 4,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   query_id_col: str = "query_id") -> DataFrame:
    """IVF-PQ approximate top-k — the FAISS ``IndexIVFPQ`` layout
    (the billion-scale workhorse) re-expressed as DataFrame ops:

    1. coarse quantizer: deterministic hashed-init k-means cells
       (:func:`train_ivf_centroids`);
    2. every vector stores (cell, PQ code of the RESIDUAL
       ``v - centroid[cell]``) — residual encoding is what makes
       IVFPQ beat flat PQ: residual norms are a fraction of vector
       norms, so the same code budget quantizes far finer;
    3. queries probe their ``n_probe`` nearest cells; candidate
       generation is the same cell equi-join as :func:`ivf_ann_topk`
       (partition the code frame by cell on disk and Spark's
       partition pruning IS the inverted-list seek);
    4. ADC scoring on the join output (Arrow-batched): approx
       cos(q, centroid + recon(residual)) from three driver-small
       LUTs — q·centroid (nq x n_cells), q·codeword (nq x m x 2^b),
       and the query-independent centroid/codeword geometry
       (n_cells x m x 2^b) — m table adds per candidate, never the
       embedding;
    5. exact cosine re-rank of the ``k*refine`` ADC survivors
       against original vectors.

    Scale shape: the index frame is (id, cell, m small ints) — the
    embedding column is read only by the bounded training sample,
    the residual encode pass, and the final k*refine-per-query
    re-rank join. Driver transfer is constant in corpus size
    (centroids + codebooks + the query set)."""
    from pyspark.sql.functions import pandas_udf

    centroids = train_ivf_centroids(corpus, dim, n_cells, iters_ivf,
                                    id_col, vec_col)
    C = np.asarray(centroids, dtype="float64")       # n_cells x dim
    cell1 = _nearest_cells_udf(centroids, 1)
    celln = _nearest_cells_udf(centroids, n_probe)

    @pandas_udf("array<double>")
    def residual(vs: pd.Series, cells: pd.Series) -> pd.Series:
        M = np.vstack(vs.to_numpy()).astype("float64")
        R = M - C[cells.to_numpy().astype("int64")]
        return pd.Series(list(R))

    indexed = (corpus.select(F.col(id_col), F.col(vec_col),
                             cell1(F.col(vec_col))[0].alias("cell"))
               .withColumn("__res", residual(F.col(vec_col),
                                             F.col("cell"))))
    # r9 opt (guide §4 — don't run a corpus-wide Python pass to feed
    # a bounded collect): codebook training needs only the n_train
    # md5-ordered sample's RESIDUALS, but routing it through
    # train_pq_codebooks(indexed) executed the full-corpus
    # cell1+residual UDF pipeline a second time (once under the
    # training TakeOrdered, once again in the encode pass). Instead:
    # one TakeOrdered collect of the RAW sample vectors (exactly the
    # job train_pq_codebooks ran, minus the UDF subtree), then the
    # cell assignment and residual are computed on the DRIVER with
    # the SAME numpy ops/dtypes as _nearest_cells_udf and residual()
    # — stable argsort on -(X @ normalized-Cᵀ), float64 subtract —
    # so the training matrix is bit-identical and so are the
    # codebooks. (A limit-then-UDF DataFrame variant was measured
    # first: the non-terminal limit degrades TakeOrderedAndProject
    # to a full global sort — 3.4 s → 6.2 s at sf0.1. Rejected.)
    assert dim % m == 0, "dim must divide into m subspaces"
    sample = (corpus
              .orderBy(F.md5(F.col(id_col).cast("string")
                             .cast("binary")), F.col(id_col))
              .limit(n_train)
              .select(F.col(vec_col).alias("v")).collect())
    Xs = np.array([list(r["v"]) for r in sample], dtype="float64")
    cnorm = np.linalg.norm(C, axis=1)
    cnorm[cnorm == 0.0] = 1.0
    cells_s = np.argsort(-(Xs @ (C / cnorm[:, None]).T),
                         axis=1, kind="stable")[:, 0]
    Rs = Xs - C[cells_s]
    dsub0 = dim // m
    codebooks = [
        _kmeans_np(Rs[:, j * dsub0:(j + 1) * dsub0],
                   1 << nbits, iters_pq).tolist()
        for j in range(m)
    ]
    codes = (pq_encode(indexed, codebooks, vec_col="__res")
             .select(F.col(id_col).alias("neighbor_id"), "cell",
                     "pq_code"))

    Cs = [np.asarray(cb, dtype="float64") for cb in codebooks]
    ksub = max(cb.shape[0] for cb in Cs)
    dsub = Cs[0].shape[1]
    # query-independent geometry LUTs
    LUTn = np.zeros((m, ksub))                       # |codeword|^2
    CC = np.zeros((n_cells, m, ksub))                # c_sub . codeword
    for j, cb in enumerate(Cs):
        LUTn[j, :cb.shape[0]] = (cb * cb).sum(axis=1)
        CC[:, j, :cb.shape[0]] = C[:, j * dsub:(j + 1) * dsub] @ cb.T
    Cn2 = (C * C).sum(axis=1)                        # |centroid|^2

    qrows = (queries.select(F.col(query_id_col).alias("qid"),
                            F.col(vec_col).alias("v")).collect())
    qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
    Q = np.array([list(r["v"]) for r in qrows], dtype=np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1))
    qn[qn == 0.0] = 1.0
    QC = Q @ C.T                                     # nq x n_cells
    LUTd = np.zeros((len(qids), m, ksub))            # q_sub . codeword
    for j, cb in enumerate(Cs):
        LUTd[:, j, :cb.shape[0]] = Q[:, j * dsub:(j + 1) * dsub] @ cb.T
    qpos = {int(q): i for i, q in enumerate(qids)}
    jj = np.arange(m)[None, :]

    @pandas_udf("double")
    def adc(qid: pd.Series, cell: pd.Series,
            code: pd.Series) -> pd.Series:
        qi = qid.map(qpos).to_numpy().astype("int64")
        ce = cell.to_numpy().astype("int64")
        K = np.vstack(code.to_numpy()).astype("int64")   # n x m
        dots = QC[qi, ce] + LUTd[qi[:, None], jj, K].sum(axis=1)
        rn2 = (Cn2[ce] + 2.0 * CC[ce[:, None], jj, K].sum(axis=1)
               + LUTn[jj, K].sum(axis=1))
        rn = np.sqrt(np.maximum(rn2, 0.0))
        rn[rn == 0.0] = 1.0
        return pd.Series(dots / (rn * qn[qi]))

    probe = F.broadcast(queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(celln(F.col(vec_col))).alias("cell")))
    cand = (codes.join(probe, "cell")
            .withColumn("__adc", adc(F.col("query_id"), F.col("cell"),
                                     F.col("pq_code"))))
    kk = k * refine
    w = Window.partitionBy("query_id").orderBy(
        F.col("__adc").desc(), F.col("neighbor_id").asc())
    surv = (cand.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= kk)
            .select("query_id", "neighbor_id"))
    orig = corpus.select(F.col(id_col).alias("neighbor_id"),
                         F.col(vec_col).alias("__cvec"),
                         l2_norm(F.col(vec_col)).alias("__cn"))
    qv = F.broadcast(queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        l2_norm(F.col(vec_col)).alias("__qn")))
    rer = (surv.join(orig, "neighbor_id").join(qv, "query_id")
           .select("query_id", "neighbor_id",
                   (dot(F.col("__cvec"), F.col("__qvec"))
                    / (F.col("__cn") * F.col("__qn"))).alias("cos")))
    w2 = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                                F.col("neighbor_id").asc())
    return (rer.withColumn("rk", F.row_number().over(w2))
            .filter(F.col("rk") <= k)
            .select("query_id", "neighbor_id",
                    F.round("cos", 6).alias("cos"), "rk"))


def truncation_recall(emb: DataFrame, dims: tuple[int, ...] = (8, 16, 32),
                      k: int = 5, n_queries: int = 10,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      round_dp: int = 6) -> DataFrame:
    """Embedding-truncation (Matryoshka-style) recall report: for
    each prefix length d, the fraction of the FULL-dimension cosine
    top-k that the d-dim truncation still retrieves — the ablation
    that decides how many dimensions an index actually needs before
    anyone pays for the full vectors at 100 TB.

    Per d: one brute-force top-k (same broadcast-queries plan as
    :func:`cosine_topk_bruteforce` — corpus never collected, per-key
    window heads) and one (query, neighbor) equi-join against the
    full-dim baseline; recall = |overlap| / |baseline| from exact
    integer counts. Output: one row per d."""
    queries = emb.filter(F.col(id_col) < n_queries)
    full = cosine_topk_bruteforce(emb, queries, k=k, id_col=id_col,
                                  vec_col=vec_col, query_id_col=id_col
                                  ).select("query_id", "neighbor_id")
    denom = full.agg(F.count(F.lit(1)).alias("nf"))
    outs = []
    for d in dims:
        ct = emb.select(id_col, F.slice(F.col(vec_col), 1, d)
                        .alias(vec_col))
        qt = queries.select(id_col, F.slice(F.col(vec_col), 1, d)
                            .alias(vec_col))
        tk = cosine_topk_bruteforce(ct, qt, k=k, id_col=id_col,
                                    vec_col=vec_col, query_id_col=id_col
                                    ).select("query_id", "neighbor_id")
        ov = (tk.join(full, ["query_id", "neighbor_id"])
              .agg(F.count(F.lit(1)).alias("no")))
        outs.append(ov.crossJoin(F.broadcast(denom)).select(
            F.lit(int(d)).alias("dim"),
            F.col("no").alias("n_overlap"),
            F.round(F.col("no").cast("double") / F.col("nf"), round_dp)
            .alias("recall_at_k")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("dim")


def jl_sign_matrix(in_dim: int, out_dim: int,
                   seed: str = "jl") -> list[list[float]]:
    """Deterministic Rademacher (±1) projection matrix from md5 —
    R[k][j] = +1 iff the first hex digit of md5("seed:j:k") is even.
    Any engine (or SQL oracle) derives the identical matrix, so a
    projection computed on one cluster replays bit-for-bit anywhere;
    no RNG state is shipped or persisted."""
    import hashlib

    return [[1.0 if int(hashlib.md5(
                f"{seed}:{j}:{k}".encode()).hexdigest()[0], 16) % 2 == 0
             else -1.0
             for j in range(in_dim)]
            for k in range(out_dim)]


def jl_project(df, emb_col: str, in_dim: int, out_dim: int = 16,
               seed: str = "jl", round_dp: int = 6):
    """Johnson-Lindenstrauss random projection (Achlioptas ±1
    variant): project ``in_dim`` embeddings to ``out_dim`` with a
    broadcast-literal sign matrix — y_k = (1/sqrt(m)) Σ_j x_j R_kj,
    evaluated as a JVM zip_with/aggregate fold in INDEX ORDER (the
    sequential sum replays exactly as a list_reduce in any engine;
    a GROUP-BY sum would be order-nondeterministic in floats).

    The workhorse dimensionality reducer in front of ANN at corpus
    scale: a narrow whole-stage-codegen pass, no shuffle, no Python
    in the row path, and distances are preserved within
    (1±eps) with m = O(log n / eps²) — cutting every downstream
    LSH/IVF index to m/d of its cost. Keep out_dim a power of 4
    (default 16) so the 1/sqrt(m) scale is a dyadic rational and
    introduces no cross-engine rounding."""
    signs = jl_sign_matrix(in_dim, out_dim, seed)
    scale = 1.0 / (out_dim ** 0.5)
    xs = F.transform(F.col(emb_col), lambda x: x.cast("double"))

    def mul():
        return lambda x, r: x * r

    def add():
        return lambda a, x: a + x

    comps = []
    for k in range(out_dim):
        rk = F.array(*[F.lit(s) for s in signs[k]])
        y = F.aggregate(F.zip_with(xs, rk, mul()),
                        F.lit(0.0), add())
        comps.append(F.round(y * scale, round_dp))
    return df.withColumn("proj", F.array(*comps))

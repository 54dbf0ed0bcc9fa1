"""Iterative graph algorithms as DataFrame loops.

The reference has no iterative/graph surface (its only loop pattern
is driver-side re-submission of jobs); here the idiomatic Spark shape
is: keep the per-node state as a DataFrame, join it against the edge
list each superstep, re-aggregate — Catalyst plans each superstep as
one keyed shuffle, and the loop lives on the driver as plain Python
(lineage is truncated per iteration via localCheckpoint when deep).

See also functions/dedup.connected_components (large-star/small-star
iteration) — this module adds weighted propagation (PageRank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vega_spark.session import cloned_session, rebind

# the lazy loops (pagerank, label_propagation) cut their state's
# lineage with a localCheckpoint every this many supersteps
_CHECKPOINT_EVERY = 8


def _loop_session(df: DataFrame) -> SparkSession:
    """AQE off on a loop-scoped clone of ``df``'s session, for the
    ``broadcast_state`` loops that materialize per round (r10 opt,
    guide §2/VERDICT r9 #3): each round's plan is a FIXED
    one-join+one-aggregate shape over a checkpointed edge frame, so
    AQE re-planning buys nothing inside the loop and costs a
    stage-barrier re-optimization per stage (~50-80 ms each at
    sf0.1). Only valid TOGETHER with the explicit broadcast hint on
    the node-sized state frame — without the hint, static estimates
    would demote the per-round join to sort-merge and shuffle the
    edge frame every round (measured: hint alone 2.93 → 2.54 s on
    sssp; hint + AQE-off 2.37 s; AQE-off alone would regress).
    The loop's frames are rebound onto the clone and its result back
    to the caller's session, so edge derivation and everything
    downstream keep the caller's AQE, and the caller's conf is never
    written.

    Contract: ``broadcast_state`` is True only when the CALLER has
    bounded the graph's node count (every state frame is at most one
    row per node) from input metadata, not from an edge- or
    fact-row proxy; the registry's part graph gates on the part
    table's footer row count (``_part_graph_broadcastable``)."""
    return cloned_session(df.sparkSession,
                          {"spark.sql.adaptive.enabled": "false"})


def _symmetrize(edges: DataFrame, src: str, dst: str,
                weight: str | None = None) -> DataFrame:
    """Both edge directions in ONE pass over ``edges`` (r9 opt round,
    guide §2.4 — remove redundant passes): the previous 2-branch
    ``union`` form read its input once per branch, and because every
    registry edge frame is *derived* (a basket self-join or
    co-occurrence fan-out, not a parquet scan), the derivation ran
    TWICE inside the edge-materialization job. A narrow explode emits
    exactly the union's rows — same multiset, one derivation.
    Measured on ppr_part_affinity (with its edges also materialized
    once at the call site): final-action plan 74 Exchange nodes → 42
    and 16 lineitem scans → 0 (the derivation now runs once, inside
    the single edge-materialization job); idle bench 4.9 s → 2.4 s."""
    if weight is not None:
        both = F.array(
            F.struct(F.col(src).alias("u"), F.col(dst).alias("v"),
                     F.col(weight).alias("w")),
            F.struct(F.col(dst).alias("u"), F.col(src).alias("v"),
                     F.col(weight).alias("w")))
        return (edges.select(F.explode(both).alias("__e"))
                .select("__e.u", "__e.v", "__e.w"))
    both = F.array(
        F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
        F.struct(F.col(dst).alias("u"), F.col(src).alias("v")))
    return (edges.select(F.explode(both).alias("__e"))
            .select("__e.u", "__e.v"))


def pagerank(edges: DataFrame, src: str, dst: str,
             iters: int = 3, damping: float = 0.85,
             fixed_point: bool = False) -> DataFrame:
    """PageRank over an UNDIRECTED graph (edges symmetrized), classic
    formulation: rank₀ = 1, rankₜ₊₁(v) = (1-d) + d·Σ_{u→v} rankₜ(u)/deg(u).
    A fixed iteration count keeps the computation deterministic and
    SQL-replayable (the oracle unrolls the same supersteps).

    ``fixed_point=True`` runs the identical supersteps in BIGINT
    micro-rank arithmetic (scale 1e9, damping as the exact rational
    p/q, contributions via integer DIV): every operation is exact, so
    two engines replaying the recurrence agree BIT FOR BIT at any
    data scale — unlike the double chain, where rational ranks (e.g.
    degree-1 chains) land within an ulp of decimal half-way points
    and round differently per engine. Output column becomes
    ``microrank`` (BIGINT, rank*1e9 truncated); per-step truncation
    error is <= 1e-9·deg, far below any ranking use. Overflow-safe
    while nodes·scale < 2^63/ (q·max_rank) — ~1e8 nodes at q=20.

    Plan per superstep: edges ⋈ ranks on src (ranks has one row per
    node — orders of magnitude smaller than edges) → groupBy(dst)
    partial+final sum. Degrees are computed once and carried inside
    the rank frame so each superstep is exactly one join + one
    aggregate. Lineage is cut every ``_CHECKPOINT_EVERY`` iterations
    (localCheckpoint) so long runs don't accrete a plan the optimizer
    must re-walk. With AQE on, runtime stats already broadcast the
    node-sized ranks side of each superstep join whenever it fits
    (an explicit hint measured equal-or-slower at sf0.1).
    """
    # every superstep re-reads the edge frame; materializing it once
    # (localCheckpoint) stops the per-iteration recompute of its
    # derivation (measured ~30% at sf0.1 on derived edges). On a
    # cluster prefer .persist(DISK_ONLY-ish) for the same effect with
    # replication.
    sym = _symmetrize(edges, src, dst).localCheckpoint(eager=True)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))

    if fixed_point:
        from fractions import Fraction
        frac = Fraction(damping).limit_denominator(1000)
        p, q = frac.numerator, frac.denominator
        scale = 1_000_000_000
        base = round((1 - damping) * scale)
        ranks = deg.withColumn("m", F.lit(scale).cast("bigint"))
        for i in range(iters):
            contribs = (sym.join(ranks, "u")
                        .select(F.col("v").alias("u"),
                                F.expr("m DIV deg").alias("c")))
            new = (contribs.groupBy("u")
                   .agg(F.sum("c").alias("in_sum"))
                   .select("u", F.expr(f"CAST({base} AS BIGINT) "
                                       f"+ ({p} * in_sum) DIV {q}")
                           .alias("m")))
            ranks = deg.join(new, "u")
            if (i + 1) % _CHECKPOINT_EVERY == 0:
                ranks = ranks.localCheckpoint(eager=True)
        return ranks.select(F.col("u").alias("node"),
                            F.col("m").alias("microrank"))

    ranks = deg.withColumn("rank", F.lit(1.0))
    for i in range(iters):
        contribs = (sym.join(ranks, "u")
                    .select(F.col("v").alias("u"),
                            (F.col("rank") / F.col("deg")).alias("c")))
        new = (contribs.groupBy("u")
               .agg(F.sum("c").alias("in_sum"))
               .select("u", (F.lit(1.0 - damping)
                             + F.lit(damping) * F.col("in_sum"))
                       .alias("rank")))
        # every node has degree>=1 (symmetric); new is node-sized too
        ranks = deg.join(new, "u")
        if (i + 1) % _CHECKPOINT_EVERY == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(F.col("u").alias("node"), "rank")


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst",
                   materialize_edges: bool = True) -> DataFrame:
    """Per-node triangle counts (nodes in no triangle omitted) via
    degree orientation — the MapReduce-classic that bounds wedge
    fan-out: each undirected edge points from its lower-(degree, id)
    endpoint to the higher one, so every wedge is generated at its
    lowest-degree apex and each triangle is produced EXACTLY once
    (apex u, neighbors v1 < v2, closed by the canonical edge set).
    Complexity O(m^1.5) regardless of skew — a star node generates no
    wedges because its edges all point INTO it (Suri & Vassilvitskii,
    WWW'11 "Counting Triangles and the Curse of the Last Reducer").

    Self-loops and duplicate/reverse edges are cleaned first. Plan:
    two node-sized degree joins, one self-join on the apex, one
    closure join on the canonical pair — all equi-joins Catalyst can
    broadcast or shuffle by stats.

    The canonical edge frame feeds THREE consumers (degrees, wedge
    orientation, closure probe); when the edges are themselves
    derived (a basket self-join), ``materialize_edges`` (default)
    localCheckpoints them once instead of re-deriving per consumer —
    on a cluster, persist(DISK_ONLY) is the equivalent."""
    e = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                      F.greatest(F.col(src), F.col(dst)).alias("b"))
         .filter(F.col("a") != F.col("b")).distinct())
    if materialize_edges:
        e = e.localCheckpoint(eager=True)
    # both endpoints in ONE pass over the checkpointed edges (r9
    # opt, the _symmetrize explode shape — the 2-branch union read
    # the edge blocks once per branch and ran two partial-agg stages)
    deg = (e.select(F.explode(F.array(F.col("a"), F.col("b")))
           .alias("n"))
           .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
    withd = (e.join(deg.select(F.col("n").alias("a"),
                               F.col("d").alias("da")), "a")
             .join(deg.select(F.col("n").alias("b"),
                              F.col("d").alias("db")), "b"))
    a_first = ((F.col("da") < F.col("db"))
               | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))))
    o = withd.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("w"))
    w1 = o.select("u", F.col("w").alias("v1"))
    w2 = o.select("u", F.col("w").alias("v2"))
    tri = (w1.join(w2, "u").filter(F.col("v1") < F.col("v2"))
           .join(e, (F.col("v1") == F.col("a"))
                 & (F.col("v2") == F.col("b"))))
    nodes = tri.select(F.explode(F.array("u", "v1", "v2")).alias("node"))
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))


def label_propagation(edges: DataFrame, src: str = "src",
                      dst: str = "dst", iters: int = 2) -> DataFrame:
    """Synchronous label propagation (community detection): every
    node starts as its own community; each superstep it adopts the
    most frequent label among its neighbors, ties to the SMALLEST
    label — fully deterministic, so a fixed iteration count is
    SQL-replayable (the oracle unrolls the supersteps like
    pagerank's).

    Superstep plan: one equi-join (labels onto symmetric edges) + one
    (node, label) count + one per-node rank window — all keyed by
    node id, no cartesian, no global window. Lineage cut every
    ``_CHECKPOINT_EVERY`` rounds."""
    from pyspark.sql.window import Window

    # see pagerank: pay the edge derivation once, not per superstep
    sym = _symmetrize(edges, src, dst).localCheckpoint(eager=True)
    labels = (sym.select("u").distinct()
              .select(F.col("u").alias("node"), F.col("u").alias("label")))
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
    for i in range(iters):
        votes = (sym.join(labels.withColumnRenamed("node", "u"), "u")
                 .groupBy(F.col("v").alias("node"), "label")
                 .agg(F.count(F.lit(1)).alias("c")))
        labels = (votes.withColumn("__rk", F.row_number().over(w))
                  .filter(F.col("__rk") == 1).select("node", "label"))
        if (i + 1) % _CHECKPOINT_EVERY == 0:
            labels = labels.localCheckpoint(eager=True)
    return labels.select("node", F.col("label").alias("community"))


def bfs_distances(edges: DataFrame, src: str = "u", dst: str = "v",
                  source: DataFrame | None = None, max_hops: int = 4,
                  broadcast_state: bool = False) -> DataFrame:
    """Single-source BFS hop distance over an UNDIRECTED graph
    (edges symmetrized): returns ``(node, dist)`` for every node
    reachable from the source within ``max_hops`` hops. The frontier
    expansion the reference could only express as driver-side job
    resubmission (its one loop pattern, `examples/` style).

    ``source`` is a one-row DataFrame with a ``node`` column; when
    None the smallest node id in the edge set is used (computed as a
    one-row aggregate frame, never collected to the driver — it
    enters the join as the broadcast side).

    Plan per hop: frontier ⋈ edges on the frontier key (frontier is
    ≤ nodes, edges side is the big one — AQE broadcasts the frontier
    while it fits) → distinct new nodes → anti-join against visited.
    Both per-hop shuffles are keyed by node id; no global window, no
    cartesian. The visited set is localCheckpoint-ed every hop so
    lineage stays O(1) and each hop's anti-join reads a materialized
    frame instead of replaying all prior hops. Early-exits when a
    frontier comes back empty (one cheap isEmpty job per hop — the
    standard Pregel-style driver loop).

    ``broadcast_state`` (r10 opt): hint both node-sized state
    frames — the frontier on the expansion join and the visited set
    on the anti-join — and run the loop's per-hop actions with AQE
    off on a loop-scoped clone. Results identical. Pass True only
    with the node count bounded below a broadcast-safe cut (see
    _loop_session)."""
    sym = _symmetrize(edges, src, dst).distinct() \
        .localCheckpoint(eager=True)
    spark = sym.sparkSession
    if broadcast_state:
        loop = _loop_session(sym)
        sym = rebind(sym, loop)
        if source is not None:
            source = rebind(source, loop)
    if source is None:
        source = sym.agg(F.min("u").alias("node"))
    frontier = source.select("node", F.lit(0).alias("dist"))
    visited = frontier.localCheckpoint(eager=True)
    for h in range(1, max_hops + 1):
        f = F.broadcast(frontier) if broadcast_state else frontier
        seen = visited.select("node")
        nxt = (f.join(sym, f["node"] == sym["u"])
               .select(F.col("v").alias("node")).distinct()
               .join(F.broadcast(seen) if broadcast_state else seen,
                     "node", "left_anti")
               .withColumn("dist", F.lit(h)))
        frontier = nxt.localCheckpoint(eager=True)
        if frontier.isEmpty():
            break
        visited = visited.union(frontier).localCheckpoint(eager=True)
    return rebind(visited, spark)


def shortest_paths(edges: DataFrame, src: str = "u", dst: str = "v",
                   weight: str = "w", source: DataFrame | None = None,
                   max_rounds: int = 4,
                   broadcast_state: bool = False) -> DataFrame:
    """Single-source weighted shortest paths, Bellman-Ford style over
    an UNDIRECTED graph: after ``max_rounds`` relaxation rounds,
    ``(node, dist)`` is the cheapest path of ≤ ``max_rounds`` edges
    from the source (non-negative weights). A fixed round count keeps
    the result deterministic and SQL-replayable (the oracle carries a
    hop counter in a bounded recursive CTE).

    Plan per round: dists ⋈ edges on the relaxed node (dists is
    node-sized — the broadcast side under AQE while it fits) → union
    with the standing dists → one keyed min-aggregate. Everything
    keys on the node id; lineage cut every round. This is BFS's
    sibling with the frontier generalized to monotone relaxation —
    at web-graph scale the same shape runs delta-stepping by
    filtering the join's left side to nodes whose dist improved last
    round.

    ``broadcast_state`` (r10 opt): hint the node-sized dists frame
    as the broadcast side of every relaxation join — the edge frame
    is then never shuffled inside the loop — and run the loop's
    per-round actions with AQE off on a loop-scoped clone. Results
    identical (pinned by test_graph_broadcast_state_paths_agree).
    Pass True only with the node count bounded below a
    broadcast-safe cut (see _loop_session)."""
    sym = _symmetrize(edges, src, dst, weight)
    sym = sym.localCheckpoint(eager=True)
    spark = sym.sparkSession
    if broadcast_state:
        loop = _loop_session(sym)
        sym = rebind(sym, loop)
        if source is not None:
            source = rebind(source, loop)
    if source is None:
        source = sym.agg(F.min("u").alias("node"))
    dists = source.select("node",
                          F.lit(0).cast("long").alias("dist")) \
        .localCheckpoint(eager=True)
    for _ in range(max_rounds):
        d = F.broadcast(dists) if broadcast_state else dists
        relaxed = (d.join(sym, d["node"] == sym["u"])
                   .select(F.col("v").alias("node"),
                           (F.col("dist") + F.col("w")).alias("dist")))
        dists = (dists.union(relaxed)
                 .groupBy("node").agg(F.min("dist").alias("dist"))
                 .localCheckpoint(eager=True))
    return rebind(dists, spark)


def k_core(edges: DataFrame, src: str = "u", dst: str = "v",
           k: int = 2, max_rounds: int = 3,
           broadcast_state: bool = False) -> DataFrame:
    """Bounded k-core peeling: drop nodes with degree < ``k``,
    recompute degrees on the induced subgraph, repeat ``max_rounds``
    times — after enough rounds this is the classic k-core (the
    densely-connected backbone; in curation, the boilerplate cluster
    detector). A FIXED round count keeps the result deterministic
    and SQL-replayable (the oracle unrolls the peels); callers who
    want the fixpoint raise ``max_rounds`` — each extra round is one
    cheap keyed pass and the peel is monotone (node sets only
    shrink).

    Plan per round: one degree aggregate over the surviving edges +
    two semi-joins to induce the subgraph — all keyed by node id,
    edges never replicated. Lineage cut every round. Returns
    ``(node, deg)`` on the surviving subgraph.

    ``broadcast_state`` (r10 opt): hint the node-sized keep set as
    the broadcast side of both induced-subgraph semi-joins — the
    surviving edge frame is then never shuffled inside the loop —
    and run the loop's per-round actions with AQE off on a
    loop-scoped clone. Pass True only with the node count bounded
    below a broadcast-safe cut (see _loop_session)."""
    sym = _symmetrize(edges, src, dst).distinct() \
        .localCheckpoint(eager=True)
    spark = sym.sparkSession
    if broadcast_state:
        sym = rebind(sym, _loop_session(sym))
    for _ in range(max_rounds):
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("u")
        kb = F.broadcast(keep) if broadcast_state else keep
        sym = (sym.join(kb, "u", "semi")
               .join(kb.withColumnRenamed("u", "v"), "v", "semi")
               .select("u", "v").localCheckpoint(eager=True))
    return (rebind(sym, spark).groupBy(F.col("u").alias("node"))
            .agg(F.count(F.lit(1)).alias("deg")))


def clustering_coefficient(edges: DataFrame, src: str = "src",
                           dst: str = "dst",
                           round_dp: int = 6) -> DataFrame:
    """Average local clustering coefficient: per node,
    cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — how close each node's
    neighborhood is to a clique, the graph-cohesion number quoted
    next to triangle counts in every network study. Averaged over
    all nodes of degree ≥ 2 (nodes that cannot close a triangle are
    excluded, the standard Watts–Strogatz convention).

    Reuses :func:`triangle_count`'s degree-oriented wedge plan (the
    skew-immune O(m^1.5) shape — star nodes generate no wedges), so
    per-node triangle counts stay exact integers; the only float ops
    are one division per node and the final mean. Output: one row
    (n_nodes, n_deg_ge2, n_triangles, avg_cc)."""
    e = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                      F.greatest(F.col(src), F.col(dst)).alias("b"))
         .filter(F.col("a") != F.col("b")).distinct())
    # the canonical edges feed degrees AND all of triangle_count's
    # consumers — materialize once (cluster equivalent: persist)
    e = e.localCheckpoint(eager=True)
    # both endpoints in ONE pass over the checkpointed edges (r9
    # opt, the _symmetrize explode shape — the 2-branch union read
    # the edge blocks once per branch and ran two partial-agg stages)
    deg = (e.select(F.explode(F.array(F.col("a"), F.col("b")))
           .alias("n"))
           .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
    tri = triangle_count(e, "a", "b", materialize_edges=False)
    per = (deg.join(tri, deg["n"] == tri["node"], "left")
           .select(deg["n"], "d",
                   F.coalesce(F.col("triangles"), F.lit(0))
                   .alias("t")))
    cc = (F.lit(2.0) * F.col("t").cast("double")
          / (F.col("d") * (F.col("d") - 1)).cast("double"))
    # per-node cc is a ratio of exact integers — quantize it to a
    # 1e-6 integer grid so the cross-node sum is order-independent
    ccq = F.round(cc * 1e6, 0).cast("long")
    return per.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.when(F.col("d") >= 2, 1).otherwise(0))
        .alias("n_deg_ge2"),
        (F.sum("t") / 3).cast("long").alias("n_triangles"),
        F.round(F.sum(F.when(F.col("d") >= 2, ccq).otherwise(0))
                .cast("double") / 1e6
                / F.sum(F.when(F.col("d") >= 2, 1).otherwise(0)),
                round_dp).alias("avg_cc"))


def personalized_pagerank(edges: DataFrame, src: str, dst: str,
                          seeds: DataFrame,
                          iters: int = 3, damping: float = 0.85) -> DataFrame:
    """Personalized PageRank (seeded restart — the graph-proximity
    scorer behind related-item / trust propagation): identical
    superstep algebra to `pagerank`, but the teleport term restarts
    into the SEED set instead of uniformly —
    rankₜ₊₁(v) = (1-d)·p(v) + d·Σ_{u→v} rankₜ(u)/deg(u), with
    p(v) = 1 for seed nodes else 0 and rank₀ = p. Scores concentrate
    around the seeds; fixed iterations keep it SQL-replayable.

    Same per-superstep plan as pagerank (one node-sized join + one
    keyed aggregate; edges never reshuffled under AQE broadcast);
    the seed indicator is carried inside the rank frame so the
    restart term adds no extra join."""
    sym = _symmetrize(edges, src, dst).localCheckpoint(eager=True)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    pvec = (deg.join(seeds.select(F.col(seeds.columns[0]).alias("u"),
                                  F.lit(1.0).alias("p")), "u", "left")
            .select("u", "deg", F.coalesce("p", F.lit(0.0)).alias("p")))
    ranks = pvec.withColumn("rank", F.col("p"))
    for _ in range(iters):
        contribs = (sym.join(ranks, "u")
                    .select(F.col("v").alias("u"),
                            (F.col("rank") / F.col("deg")).alias("c")))
        new = (contribs.groupBy("u")
               .agg(F.sum("c").alias("in_sum")))
        ranks = (pvec.join(new, "u")
                 .select("u", "deg", "p",
                         (F.lit(1.0 - damping) * F.col("p")
                          + F.lit(damping) * F.col("in_sum"))
                         .alias("rank")))
    return ranks.select(F.col("u").alias("node"), "rank")

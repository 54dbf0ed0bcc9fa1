"""Graph loops: the part-graph broadcast gate, and the lazy loops'
periodic lineage cut checked against pure-Python references."""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest

from vega_spark import registry
from vega_spark.functions import graph

# two dense clusters joined by a bridge, plus a tail: labels and ranks
# still move after the first few supersteps
_EDGES = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (4, 6), (5, 6),
          (6, 7), (7, 8), (8, 9), (9, 10), (2, 10), (5, 11), (11, 12)]
_ITERS = 9  # > graph._CHECKPOINT_EVERY: the loops cut lineage once


def _neighbors():
    nb = defaultdict(list)
    for u, v in _EDGES:
        nb[u].append(v)
        nb[v].append(u)
    return nb


@pytest.fixture
def edges(spark):
    return spark.createDataFrame(_EDGES, "u long, v long")


def test_pagerank_double_matches_reference(edges):
    nb = _neighbors()
    rank = {n: 1.0 for n in nb}
    for _ in range(_ITERS):
        rank = {v: 0.15 + 0.85 * sum(rank[u] / len(nb[u]) for u in nb[v])
                for v in nb}
    got = {r.node: r.rank for r in
           graph.pagerank(edges, "u", "v", iters=_ITERS).collect()}
    assert got.keys() == rank.keys()
    for n, r in rank.items():
        assert got[n] == pytest.approx(r, rel=1e-12), n


def test_pagerank_fixed_point_matches_reference(edges):
    nb = _neighbors()
    m = {n: 1_000_000_000 for n in nb}
    for _ in range(_ITERS):
        m = {v: 150_000_000 + 17 * sum(m[u] // len(nb[u]) for u in nb[v])
             // 20 for v in nb}
    got = {r.node: r.microrank for r in
           graph.pagerank(edges, "u", "v", iters=_ITERS,
                          fixed_point=True).collect()}
    assert got == m


def test_label_propagation_matches_reference(edges):
    nb = _neighbors()
    label = {n: n for n in nb}
    for _ in range(_ITERS):
        new = {}
        for v in nb:
            votes = Counter(label[u] for u in nb[v])
            new[v] = min(votes, key=lambda lab: (-votes[lab], lab))
        label = new
    got = {r.node: r.community for r in
           graph.label_propagation(edges, "u", "v",
                                   iters=_ITERS).collect()}
    assert got == label


def test_part_graph_gate_bounds_nodes_by_part_rows(spark, sf_dir,
                                                   monkeypatch):
    """The loops' broadcast gate reads the part table (every node is a
    part key), not lineitem: a part count above the cut turns the
    broadcast off while lineitem stays small, and the adaptive path
    returns the same rows."""
    names = ("bfs_parts_distance", "sssp_parts_weighted", "kcore_parts")
    want = {n: sorted(map(tuple, registry.QUERIES[n](spark, sf_dir)
                          .collect())) for n in names}
    assert registry._part_graph_broadcastable(sf_dir)

    real = registry.footer_rows

    def footer_rows(d, name):
        if name == "part":
            return registry._PART_GRAPH_BROADCAST_NODES + 1
        return real(d, name)

    monkeypatch.setattr(registry, "footer_rows", footer_rows)
    assert footer_rows(sf_dir, "lineitem") <= 50_000_000
    assert registry._part_graph_broadcastable(sf_dir) is False

    seen = []

    def recording(fn):
        def run(*args, **kwargs):
            seen.append(kwargs["broadcast_state"])
            return fn(*args, **kwargs)
        return run

    for fn in ("bfs_distances", "shortest_paths", "k_core"):
        monkeypatch.setattr(graph, fn, recording(getattr(graph, fn)))
    for n in names:
        got = sorted(map(tuple, registry.QUERIES[n](spark, sf_dir)
                         .collect()))
        assert got == want[n], n
    assert seen == [False, False, False]


def _exchanges(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString() \
        .count("Exchange hashpartitioning")


def test_broadcast_state_loop_leaves_caller_conf_alone(spark):
    """A broadcast_state loop runs AQE-off on its own clone: a reader
    polling the caller's confs beside it and a run_overlapped leg sees
    them unchanged, the result belongs to the caller's session, and
    its checkpoint keeps the loop's hash partitioning (so the loop's
    actions really planned without AQE)."""
    import threading

    from pyspark.sql import functions as F

    from vega_spark.session import run_overlapped

    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = tuple(spark.conf.get(k) for k in keys)
    w = spark.createDataFrame([(u, v, 1 + (u + v) % 3) for u, v in _EDGES],
                              "u long, v long, w long")
    other = spark.range(2000).withColumn("k", F.col("id") % 13)
    seen: set[tuple[str, ...]] = set()
    done = threading.Event()

    def poll():
        while not done.is_set():
            seen.add(tuple(spark.conf.get(k) for k in keys))
            done.wait(0.002)
    reader = threading.Thread(target=poll)
    reader.start()
    try:
        out, _ = run_overlapped(
            lambda: graph.shortest_paths(w, broadcast_state=True),
            lambda: other.repartition("k").localCheckpoint())
    finally:
        done.set()
        reader.join(timeout=10)
    assert not reader.is_alive()
    assert seen == {before}
    assert out.sparkSession is spark
    assert _exchanges(out.groupBy("node").count()) == 0
    adaptive = graph.shortest_paths(w, broadcast_state=False)
    assert _exchanges(adaptive.groupBy("node").count()) == 1
    assert sorted(out.collect()) == sorted(adaptive.collect())

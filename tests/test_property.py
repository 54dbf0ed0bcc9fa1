"""Property-based tests (hypothesis) for operator semantics that have
clean mathematical contracts — the reference pins these with a few
golden vectors (tests/test_rdd.rs); properties cover the input space.
Example counts are kept low: each example is a Spark round-trip.
"""
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SLOW = settings(max_examples=8, deadline=None,
                suppress_health_check=list(HealthCheck))

small_ints = st.lists(st.integers(min_value=0, max_value=9),
                      min_size=0, max_size=12)


@given(a=small_ints, b=small_ints)
@SLOW
def test_except_all_multiset_law(spark, a, b):
    from vega_spark.operators.setops import except_all
    la = spark.createDataFrame([(x,) for x in a], "v int") if a else \
        spark.createDataFrame([], "v int")
    lb = spark.createDataFrame([(x,) for x in b], "v int") if b else \
        spark.createDataFrame([], "v int")
    got = Counter(r.v for r in except_all(la, lb).collect())
    want = Counter(a) - Counter(b)
    assert got == +want


@given(a=small_ints, b=small_ints)
@SLOW
def test_intersect_all_multiset_law(spark, a, b):
    from vega_spark.operators.setops import intersect_all
    la = spark.createDataFrame([(x,) for x in a], "v int") if a else \
        spark.createDataFrame([], "v int")
    lb = spark.createDataFrame([(x,) for x in b], "v int") if b else \
        spark.createDataFrame([], "v int")
    got = Counter(r.v for r in intersect_all(la, lb).collect())
    want = Counter(a) & Counter(b)
    assert got == +want


def _span_dedup_reference(docs, k):
    """Pure-python replay of span_dedup semantics."""
    spans = []  # (doc, pos, span)
    for doc_id, text in docs:
        toks = [t for t in text.lower().split() if t]
        for pos, s in enumerate(range(0, len(toks), k)):
            spans.append((doc_id, pos, " ".join(toks[s:s + k])))
    first = {}
    for doc_id, pos, span in sorted(spans):
        first.setdefault(span, (doc_id, pos))
    out = {}
    for doc_id, pos, span in spans:
        if first[span] == (doc_id, pos):
            out.setdefault(doc_id, []).append((pos, span))
    return {d: " ".join(s for _, s in sorted(ps)) for d, ps in out.items()}


@given(docs=st.lists(
    st.tuples(st.integers(min_value=1, max_value=50),
              st.text(alphabet="ab ", min_size=0, max_size=20)),
    min_size=0, max_size=6, unique_by=lambda t: t[0]))
@SLOW
def test_span_dedup_matches_python_reference(spark, docs):
    from vega_spark.functions.dedup import span_dedup
    df = spark.createDataFrame(docs or [], "doc_id long, text string") \
        if docs else spark.createDataFrame([], "doc_id long, text string")
    got = {r.doc_id: r.text for r in
           span_dedup(df, "text", "doc_id", span_tokens=2).collect()}
    assert got == _span_dedup_reference(docs, 2)


@given(xs=st.lists(st.floats(min_value=-5, max_value=15,
                             allow_nan=False, allow_infinity=False),
                   min_size=0, max_size=30))
@SLOW
def test_histogram_fixed_matches_python_reference(spark, xs):
    from vega_spark.operators.stats import histogram_fixed
    df = spark.createDataFrame([(float(x),) for x in xs], "x double") \
        if xs else spark.createDataFrame([], "x double")
    got = {r.bucket: r.n for r in
           histogram_fixed(df, "x", 0.0, 10.0, 4).collect()}
    want = Counter()
    for x in xs:
        if 0.0 <= x <= 10.0:
            want[min(int(x // 2.5), 3)] += 1
    assert got == dict(want)


@given(ids=st.lists(st.integers(min_value=0, max_value=10**9),
                    min_size=1, max_size=30, unique=True))
@SLOW
def test_hash_split_total_and_disjoint(spark, ids):
    from vega_spark.operators.sampling import hash_split
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = hash_split(df, "doc_id").collect()
    # total function: every id assigned exactly one split
    assert len(out) == len(ids)
    assert all(r["split"] in ("train", "val", "test") for r in out)


@given(toks=st.lists(st.integers(min_value=1, max_value=9),
                     min_size=1, max_size=20),
       budget=st.integers(min_value=2, max_value=15))
@SLOW
def test_pack_sequences_bins_contiguous_and_bounded(spark, toks, budget):
    from vega_spark.functions.pipeline import pack_sequences
    docs = spark.createDataFrame(
        [(i, "en", "w " * n) for i, n in enumerate(toks)],
        "doc_id long, lang string, text string")
    out = pack_sequences(docs, budget).collect()
    # exact replay of the packing rule: docs in (md5(id), id) order,
    # bin = floor(exclusive-cumsum / budget). (Bins may legitimately
    # skip numbers when one doc exceeds the budget — the documented
    # streaming-overflow semantics — so the invariant is the rule
    # itself, not contiguity.)
    import hashlib
    order = sorted(range(len(toks)),
                   key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    want, cum = {}, 0
    for i in order:
        want[i] = cum // budget
        cum += toks[i]
    got = {r["doc_id"]: r["bin"] for r in out}
    assert got == want


@given(rows=st.lists(st.tuples(st.integers(0, 20), st.integers(0, 5)),
                     min_size=0, max_size=25))
@SLOW
def test_table_diff_self_is_empty_and_detects_all(spark, rows):
    from vega_spark.operators.merge import table_diff
    uniq = {k: v for k, v in rows}
    if not uniq:
        return
    df = spark.createDataFrame(list(uniq.items()), "k long, v long")
    assert table_diff(df, df, ["k"], ["v"]).count() == 0
    shifted = df.withColumn("v", F.col("v") + 1)
    out = table_diff(df, shifted, ["k"], ["v"]).collect()
    assert len(out) == len(uniq)
    assert all(r["change_type"] == "changed" for r in out)


@given(vals=st.lists(st.integers(min_value=-50, max_value=50),
                     min_size=0, max_size=30),
       nparts=st.integers(min_value=1, max_value=6))
@SLOW
def test_zip_with_index_is_permutation_of_sorted_positions(spark, vals, nparts):
    # r02 scalable plan contract: indices are exactly 0..n-1, and a
    # value's index range matches its position range under the sort
    # (ties share a contiguous index block in arbitrary order);
    # initial partitioning must not matter.
    from vega_spark.operators.joins import zip_with_index
    if vals:
        df = spark.createDataFrame([(v,) for v in vals], "v int") \
            .repartition(nparts)
    else:
        df = spark.createDataFrame([], "v int")
    rows = zip_with_index(df, ["v"], "idx").collect()
    assert sorted(r["idx"] for r in rows) == list(range(len(vals)))
    got_sorted = [r.v for r in sorted(rows, key=lambda r: r["idx"])]
    assert got_sorted == sorted(vals)


@given(words=st.lists(
    st.text(alphabet="abcde", min_size=1, max_size=6),
    min_size=1, max_size=12))
@SLOW
def test_bpe_roundtrip_property(spark, words):
    # for ANY corpus: concatenating a doc's subword tokens and
    # splitting on the end-of-word marker reproduces the normalized
    # words exactly — merges never cross word boundaries
    from vega_spark.functions import bpe as B
    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    merges = B.bpe_train(df, num_merges=20)
    toks = B.bpe_encode(df, merges).first().bpe_tokens
    joined = "".join(toks).replace("</w>", " ").strip()
    assert joined == " ".join(text.lower().split())


@given(vals=st.lists(st.integers(min_value=0, max_value=500),
                     min_size=0, max_size=60),
       split=st.integers(min_value=0, max_value=500))
@SLOW
def test_kmv_merge_property(spark, vals, split):
    # bottom-k of a union == merge of the parts' bottom-k, for any
    # data split — the property that makes shard/day rollups sound
    from vega_spark.operators import sketches as SK
    if not vals:
        return
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    lo, hi = df.filter(F.col("v") < split), df.filter(F.col("v") >= split)
    k = 8
    merged = SK.kmv_merge(SK.kmv_sketch(lo, "v", k),
                          SK.kmv_sketch(hi, "v", k), k=k)
    whole = SK.kmv_sketch(df, "v", k)
    assert ([r.h for r in merged.orderBy("h").collect()]
            == [r.h for r in whole.orderBy("h").collect()])


@given(snap=st.lists(st.tuples(st.integers(0, 20), st.integers(0, 99)),
                     min_size=0, max_size=15),
       ch=st.lists(st.tuples(st.integers(0, 25), st.integers(0, 99),
                             st.booleans()),
                   min_size=0, max_size=15))
@SLOW
def test_apply_changes_idempotent_property(spark, snap, ch):
    # applying the SAME changefeed twice is a no-op the second time
    # (last-writer-wins collapse makes the fold idempotent), and the
    # broadcast and shuffle paths agree — for ANY snapshot/feed
    from vega_spark.operators.merge import apply_changes
    snap_u = {k: v for k, v in snap}
    if not snap_u and not ch:
        return
    s = spark.createDataFrame(
        list(snap_u.items()) or [(None, None)], "k int, v int").dropna()
    rows = [(k, ("delete" if d else "upsert"), i,
             (None if d else v))
            for i, (k, v, d) in enumerate(ch)]
    c = spark.createDataFrame(
        rows or [(None, None, None, None)],
        "k int, op string, seq int, v int").dropna(subset=["k"])
    once = apply_changes(s, c, ["k"], ["seq"])
    twice = apply_changes(once, c, ["k"], ["seq"])
    got1 = sorted((r.k, r.v) for r in once.collect())
    got2 = sorted((r.k, r.v) for r in twice.collect())
    assert got1 == got2
    shuffled = apply_changes(s, c, ["k"], ["seq"],
                             broadcast_changes=False)
    assert sorted((r.k, r.v) for r in shuffled.collect()) == got1


@given(baskets=st.lists(
    st.tuples(st.integers(min_value=0, max_value=5),
              st.integers(min_value=0, max_value=6)),
    min_size=2, max_size=24))
@SLOW
def test_association_rule_laws(spark, baskets):
    """support <= confidence (n_a <= N) and lift symmetry
    lift(a->b) == lift(b->a) — both straight from the definitions."""
    from vega_spark.functions.analytics import association_rules
    df = spark.createDataFrame(baskets, "b int, i int")
    rows = association_rules(df, "b", "i", min_count=1).collect()
    by_pair = {(r.ante, r.cons): r for r in rows}
    for r in rows:
        assert r.support <= r.confidence + 1e-9
        mirror = by_pair[(r.cons, r.ante)]
        assert abs(r.lift - mirror.lift) <= 2e-6  # both rounded at 6dp


@given(edges=st.lists(
    st.tuples(st.integers(min_value=0, max_value=8),
              st.integers(min_value=0, max_value=8)),
    min_size=1, max_size=16).map(
        lambda es: [e for e in es if e[0] != e[1]]).filter(len))
@SLOW
def test_bfs_matches_python_reference(spark, edges):
    from collections import deque

    from vega_spark.functions.graph import bfs_distances
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    source = min(adj)
    want, dq = {source: 0}, deque([source])
    while dq:
        n = dq.popleft()
        for m in adj[n]:
            if m not in want and want[n] < 4:
                want[m] = want[n] + 1
                dq.append(m)
    df = spark.createDataFrame(edges, "u int, v int")
    got = {r.node: r.dist
           for r in bfs_distances(df, max_hops=4).collect()}
    assert got == want


@given(evs=st.lists(st.tuples(st.integers(0, 6),        # user
                              st.integers(0, 400),      # hour offset
                              st.booleans()),            # converts?
                    min_size=2, max_size=30))
@SLOW
def test_kaplan_meier_properties(spark, evs):
    # survival is in [0, 1], non-increasing in duration, and the
    # at-risk counts are non-increasing too — for ANY event stream
    import datetime as dt
    from vega_spark.functions.analytics import kaplan_meier
    base = dt.datetime(2024, 1, 1)
    rows = []
    for u, h, conv in evs:
        rows.append((u, base + dt.timedelta(hours=h),
                     "purchase" if conv else "view"))
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string")
    out = kaplan_meier(df).collect()
    survs = [r.survival for r in out]
    risks = [r.n_risk for r in out]
    assert all(0.0 <= s <= 1.0 for s in survs)
    assert survs == sorted(survs, reverse=True)
    assert risks == sorted(risks, reverse=True)
    assert all(r.n_converted >= 1 for r in out)


@given(vals=st.lists(st.integers(0, 1000), min_size=2, max_size=25))
@SLOW
def test_gini_bounds_and_translation(spark, vals):
    # gini in [0, 1); 0 iff all equal (when total > 0)
    from vega_spark.operators.stats import gini_by_group
    rows = [(i, "g", float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, k string, v double")
    out = gini_by_group(df, "k", "v", "id").collect()
    if sum(vals) == 0:
        assert out == []
        return
    g = out[0].gini
    assert 0.0 <= g < 1.0
    if len(set(vals)) == 1:
        assert g == 0.0


@given(counts=st.lists(st.integers(1, 20), min_size=4, max_size=12))
@SLOW
def test_acf_bounded(spark, counts):
    # autocorrelation of any hourly count series stays in [-1, 1]
    import datetime as dt
    from vega_spark.functions.analytics import hourly_autocorrelation
    base = dt.datetime(2024, 1, 1)
    rows = []
    for h, n in enumerate(counts):
        for i in range(n):
            rows.append((1, base + dt.timedelta(hours=h, seconds=i),
                         "view"))
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string")
    out = hourly_autocorrelation(df, lags=(1, 2)).collect()
    for r in out:
        if r.acf is not None:
            assert -1.0 - 1e-9 <= r.acf <= 1.0 + 1e-9


def test_graph_broadcast_state_paths_agree(spark):
    """r10 opt: the size-gated broadcast_state loops (broadcast the
    node-sized state + loop-scoped AQE pin) must produce exactly the
    rows of the adaptive path for sssp, bfs and k-core — the hint
    and the pin change plan shape only."""
    from vega_spark.functions.graph import (bfs_distances, k_core,
                                            shortest_paths)
    edges = [(0, 1, 1), (1, 2, 2), (2, 3, 1), (3, 4, 2), (0, 4, 9),
             (4, 5, 1), (5, 6, 1), (2, 6, 2), (6, 7, 1), (1, 7, 5)]
    wdf = spark.createDataFrame(edges, "u long, v long, w long")
    udf_ = wdf.select("u", "v")
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    for fn, kwargs in ((shortest_paths, {"max_rounds": 4}),
                       (bfs_distances, {"max_hops": 4}),
                       (k_core, {"k": 2, "max_rounds": 2})):
        df = wdf if fn is shortest_paths else udf_
        a = sorted(map(tuple, fn(df, broadcast_state=True,
                                 **kwargs).collect()))
        b = sorted(map(tuple, fn(df, broadcast_state=False,
                                 **kwargs).collect()))
        assert a == b, fn.__name__
    # the pin must restore the session conf afterwards
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_before

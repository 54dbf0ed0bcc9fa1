"""MERGE INTO semantics + plan shape (operators/merge.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vega_spark.operators.merge import merge_into
from vega_spark.plans import inspect as I


@pytest.fixture()
def frames(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k int, tag string, val double")
    source = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)],
        "k int, tag string, val double")
    return target, source


def _as_dict(df):
    return {r.k: (r.tag, r.val) for r in df.collect()}


def test_merge_update_and_insert_broadcast(spark, frames):
    target, source = frames
    out = _as_dict(merge_into(target, source, ["k"]))
    assert out == {1: ("a", 10.0), 2: ("B", 99.0),
                   3: ("c", 30.0), 4: ("d", 40.0)}


def test_merge_update_and_insert_shuffle_path(spark, frames):
    target, source = frames
    out = _as_dict(merge_into(target, source, ["k"], broadcast_source=False))
    assert out == {1: ("a", 10.0), 2: ("B", 99.0),
                   3: ("c", 30.0), 4: ("d", 40.0)}


def test_merge_update_only(spark, frames):
    target, source = frames
    out = _as_dict(merge_into(target, source, ["k"],
                              insert_not_matched=False))
    assert out == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0)}
    out2 = _as_dict(merge_into(target, source, ["k"],
                               insert_not_matched=False,
                               broadcast_source=False))
    assert out2 == out


def test_merge_subset_update_cols(spark, frames):
    target, source = frames
    out = _as_dict(merge_into(target, source, ["k"], update_cols=["val"]))
    # tag keeps the target's value on match; inserts take source rows
    assert out == {1: ("a", 10.0), 2: ("b", 99.0),
                   3: ("c", 30.0), 4: ("d", 40.0)}


def test_merge_missing_column_raises(spark, frames):
    target, _ = frames
    bad = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError, match="lacks merge columns"):
        merge_into(target, bad, ["k"], update_cols=["nope"])


def test_merge_broadcast_path_update_leg_is_narrow_over_target(spark, frames):
    # the matched-update leg must be a broadcast join: the target
    # (the 100 TB side) is never shuffled for it.
    target, source = frames
    q = merge_into(target, source, ["k"], insert_not_matched=False)
    txt = I.plan_text(q)
    assert "BroadcastHashJoin" in txt, txt
    assert "SortMergeJoin" not in txt, txt


def test_table_diff_classifies(spark):
    from vega_spark.operators.merge import table_diff
    old = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double")
    new = spark.createDataFrame(
        [(1, 10.0), (2, 25.0), (4, 40.0)], "k long, v double")
    got = {r["k"]: r["change_type"]
           for r in table_diff(old, new, ["k"], ["v"]).collect()}
    assert got == {2: "changed", 3: "deleted", 4: "inserted"}
    full = {r["k"]: r["change_type"]
            for r in table_diff(old, new, ["k"], ["v"],
                                include_unchanged=True).collect()}
    assert full[1] == "unchanged" and len(full) == 4


def test_table_diff_null_safe(spark):
    from vega_spark.operators.merge import table_diff
    old = spark.createDataFrame([(1, None), (2, "x")], "k long, v string")
    new = spark.createDataFrame([(1, None), (2, None)], "k long, v string")
    got = {r["k"]: r["change_type"]
           for r in table_diff(old, new, ["k"], ["v"],
                               include_unchanged=True).collect()}
    assert got == {1: "unchanged", 2: "changed"}


def test_table_diff_value_moving_across_nulls(spark):
    # ADVICE r01: xxhash64 skips NULL inputs (seed passes through), so
    # old=(x, NULL) vs new=(NULL, x) hashed identically without the
    # null bitmap folded in. Must classify as 'changed'.
    from vega_spark.operators.merge import table_diff
    old = spark.createDataFrame([(1, "x", None)],
                                "k long, a string, b string")
    new = spark.createDataFrame([(1, None, "x")],
                                "k long, a string, b string")
    got = {r["k"]: r["change_type"]
           for r in table_diff(old, new, ["k"], ["a", "b"],
                               include_unchanged=True).collect()}
    assert got == {1: "changed"}


def test_apply_changes_order_and_supersede(spark):
    from pyspark.sql import functions as F
    from vega_spark.operators.merge import apply_changes
    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    # out-of-order feed: k=1 upserted then deleted (delete is later);
    # k=2 two upserts, later one wins; k=9 inserted then updated
    ch = spark.createDataFrame([
        (1, "delete", 5, None),
        (1, "upsert", 3, "a2"),
        (2, "upsert", 1, "b1"),
        (2, "upsert", 2, "b2"),
        (9, "upsert", 1, "new"),
        (9, "upsert", 4, "new2"),
    ], "k long, op string, seq long, v string")
    got = {r.k: r.v for r in
           apply_changes(snap, ch, ["k"], ["seq"]).collect()}
    assert got == {2: "b2", 3: "c", 9: "new2"}
    # shuffle path gives the identical result
    got2 = {r.k: r.v for r in
            apply_changes(snap, ch, ["k"], ["seq"],
                          broadcast_changes=False).collect()}
    assert got2 == got
    # delete of an absent key is a no-op
    ch2 = spark.createDataFrame([(77, "delete", 1, None)],
                                "k long, op string, seq long, v string")
    assert apply_changes(snap, ch2, ["k"], ["seq"]).count() == 3


def test_mv_refresh_matches_recompute_and_drops_empty_groups(spark):
    from pyspark.sql import functions as F
    from vega_spark.operators.incremental import (aggregate_view,
                                                  refresh_aggregate_view)
    base = spark.createDataFrame(
        [("a", 10.0), ("a", 5.0), ("b", 7.0)], "k string, v double")
    view = aggregate_view(base, ["k"], ["v"])
    # insert into a, new group c; retract ALL of b
    delta = spark.createDataFrame(
        [("a", 2.0, 1), ("c", 9.0, 1), ("b", 7.0, -1)],
        "k string, v double, sign int")
    got = {r.k: (r.v, r.n) for r in refresh_aggregate_view(
        view, delta, ["k"], ["v"], sign_col="sign").collect()}
    assert got == {"a": (17.0, 3), "c": (9.0, 1)}   # b vanished (n=0)


def test_refresh_join_view_equals_full_rejoin(spark):
    from vega_spark.operators.incremental import (join_view,
                                                  refresh_join_view)
    L = spark.createDataFrame(
        [(k, f"l{i}") for i, k in enumerate([1, 1, 2, 3, 4, 4, 4])],
        "k long, lv string")
    R = spark.createDataFrame(
        [(k, f"r{i}") for i, k in enumerate([1, 2, 2, 4, 5])],
        "k long, rv string")
    l_old, l_new = L.filter("k % 2 = 0"), L.filter("k % 2 = 1")
    r_old, r_new = R.filter("k % 3 = 0"), R.filter("k % 3 != 0")
    v = refresh_join_view(join_view(l_old, r_old, ["k"]),
                          l_old, l_new, r_old, r_new, ["k"])
    got = sorted(tuple(r) for r in v.collect())
    want = sorted(tuple(r) for r in L.join(R, "k").collect())
    assert got == want  # incl. multi-match fan-out multiplicities


def test_refresh_join_view_signed_handles_deletes(spark):
    from vega_spark.operators.incremental import (refresh_join_view_signed,
                                                  to_multiset)
    L0 = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (3, "c")], "k long, lv string")
    R0 = spark.createDataFrame(
        [(1, "x"), (2, "y"), (2, "y"), (4, "z")], "k long, rv string")
    # delta: delete ONE copy of (1,'a') and the (2,'b') row;
    # insert (4,'d') left and delete one (2,'y') right
    from pyspark.sql import functions as F
    dl = spark.createDataFrame(
        [(1, "a", -1), (2, "b", -1), (4, "d", 1)],
        "k long, lv string, __mult long")
    dr = spark.createDataFrame(
        [(2, "y", -1)], "k long, rv string, __mult long")
    v0 = to_multiset(L0.join(R0, "k"))
    v1 = refresh_join_view_signed(v0, to_multiset(L0), dl,
                                  to_multiset(R0), dr, ["k"])
    # final ground truth: apply deltas to base tables, re-join
    L1 = spark.createDataFrame(
        [(1, "a"), (3, "c"), (4, "d")], "k long, lv string")
    R1 = spark.createDataFrame(
        [(1, "x"), (2, "y"), (4, "z")], "k long, rv string")
    want = sorted(tuple(r) for r in to_multiset(L1.join(R1, "k")).collect())
    got = sorted(tuple(r) for r in v1.collect())
    assert got == want


def test_apply_changes_hints_only_buildable_sides(spark):
    """With ``broadcast_changes`` the delete anti-join and the update
    join broadcast their change side, while the inserts anti-join —
    whose LEFT side is the changefeed, which Spark cannot build for a
    left anti join — carries no hint at all."""
    from vega_spark.operators.merge import apply_changes
    snap = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double")
    ch = spark.createDataFrame(
        [(1, "upsert", 1, 11.0), (2, "delete", 1, None),
         (9, "upsert", 1, 90.0)], "k long, op string, seq int, v double")
    qe = apply_changes(snap, ch, ["k"], ["seq"])._jdf.queryExecution()
    plan = qe.optimizedPlan().toString()
    joins = [ln.split("Join ", 1)[1] for ln in plan.splitlines()
             if "Join " in ln]
    hint = "rightHint=(strategy=broadcast)"
    anti = [j for j in joins if j.startswith("LeftAnti")]
    assert "leftHint" not in plan
    # the inserts anti-join is the one without a hint; the delete
    # anti-join (under both the update and the inserts branch) keeps it
    assert [j for j in anti if "Hint" in j] == \
        [j for j in anti if j.endswith(hint)]
    assert sum("Hint" not in j for j in anti) == 1
    assert any(j.startswith("LeftOuter") and j.endswith(hint)
               for j in joins)
    physical = qe.executedPlan().toString()
    assert "LeftAnti, BuildRight" in physical
    assert "LeftOuter, BuildRight" in physical

"""MERGE INTO (upsert) as a batch operator — the snapshot-maintenance
primitive every training-data pipeline needs (refresh a corpus/feature
table with a daily delta) and the reference cannot express at all (its
RDDs are immutable with no keyed update surface; closest is
`join`, /root/reference/src/rdd/pair_rdd.rs:104-121).

Two physical paths, chosen by the caller's knowledge of the delta:

- `merge_into(..., broadcast_source=True)` — the common case: the
  delta is small relative to the snapshot. Matched-update becomes a
  broadcast LEFT join (narrow over the target — the 100 TB snapshot
  is NEVER shuffled), inserts become a broadcast ANTI join + union.
  Zero exchanges over the target; output preserves the target's
  partitioning modulo the appended insert partitions.

- `broadcast_source=False` — delta comparable to the snapshot: one
  shuffle on the merge keys for a full-outer join. At 100 TB both
  sides should be bucketed on the keys (operators/partitioning.
  write_bucketed) so the exchange is elided.

Semantics (ANSI MERGE subset): WHEN MATCHED THEN UPDATE SET
<update_cols from source>, WHEN NOT MATCHED THEN INSERT. Delete is a
pre-filter on the target (`delete_matched_condition`). Source must be
unique per key (enforceable upstream via exact_dedup); like SQL MERGE,
duplicate source keys would multiply matched rows.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_into(target: DataFrame, source: DataFrame, keys: list[str],
               update_cols: list[str] | None = None,
               insert_not_matched: bool = True,
               broadcast_source: bool = True) -> DataFrame:
    """Return the merged snapshot (same schema as ``target``).

    ``update_cols``: target columns overwritten from the source on key
    match (default: every non-key column the two frames share).
    """
    tcols = target.columns
    if update_cols is None:
        update_cols = [c for c in source.columns
                       if c in tcols and c not in keys]
    missing = [c for c in update_cols + keys if c not in source.columns]
    if missing:
        raise ValueError(f"source lacks merge columns: {missing}")

    if broadcast_source:
        # explicit aliases: the delta is often DERIVED from the target
        # (self-join lineage); qualified names keep resolution unambiguous
        t = target.alias("__mt")
        src = F.broadcast(source.select(*keys, *update_cols)
                          .withColumn("__m", F.lit(1)).alias("__ms"))
        tc = lambda c: F.col(f"__mt.{c}")    # noqa: E731
        sc = lambda c: F.col(f"__ms.{c}")    # noqa: E731
        cond = reduce(lambda a, b: a & b,
                      [tc(k).eqNullSafe(sc(k)) for k in keys])
        updated = t.join(src, cond, "left").select(
            *[F.when(sc("__m").isNotNull(), sc(c)).otherwise(tc(c))
              .alias(c) if c in update_cols else tc(c).alias(c)
              for c in tcols])
        if not insert_not_matched:
            return updated
        # new-key detection must compare against ALL target keys — a
        # keys-only pass over the target (projection pruned to the key
        # columns; do NOT broadcast the target side, it's the big one).
        # At 100 TB layer a bloom/partition-prune upstream if the delta
        # is known to touch few partitions.
        inserts = (source.join(target.select(*keys), on=keys, how="left_anti")
                   .select(*[source[c].alias(c) if c in source.columns
                             else F.lit(None).cast(target.schema[c].dataType)
                             .alias(c) for c in tcols]))
        return updated.unionByName(inserts)

    # shuffle path: single full-outer join on the keys
    t, s = target.alias("t"), source.alias("s")
    cond = reduce(lambda a, b: a & b,
                  [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys])
    j = t.join(s, cond, "full_outer")
    t_present = F.col(f"t.{keys[0]}").isNotNull()
    s_present = F.col(f"s.{keys[0]}").isNotNull()
    out = []
    for c in tcols:
        tc = F.col(f"t.{c}")
        sc = F.col(f"s.{c}") if c in source.columns else F.lit(None)
        if c in keys:
            out.append(F.coalesce(tc, sc).alias(c))
        elif c in update_cols:
            out.append(F.when(s_present, sc).otherwise(tc).alias(c))
        else:
            out.append(F.when(t_present, tc).otherwise(
                sc.cast(target.schema[c].dataType)).alias(c))
    j = j if insert_not_matched else j.filter(t_present)
    return j.select(*out)


def table_diff(old: DataFrame, new: DataFrame, keys: list[str],
               compare_cols: list[str] | None = None,
               include_unchanged: bool = False) -> DataFrame:
    """Anti-entropy reconcile of two table versions: one row per key
    present in either side, classified inserted / deleted / changed
    (/ unchanged). The validation step after any CDC or backfill —
    "did the replica converge, and what drifted?".

    Scale shape: both sides are reduced to (keys, 64-bit row digest)
    BEFORE the full-outer join, so the exchange carries ~16 bytes of
    payload per row regardless of row width — at 100 TB the diff
    costs one keyed shuffle of the key space, not the data. Value
    equality is via xxhash64 of the compared columns PLUS their null
    bitmap: Spark's hash functions skip NULL inputs entirely (the
    seed passes through unchanged), so without the bitmap a value
    moving across a null — old=(x, NULL) vs new=(NULL, x) — would
    hash identically and be misclassified 'unchanged'. The isNull
    flags are never null themselves, so every position always folds
    and the hash stays w.h.p. exact over typed values (no lossy
    string casts)."""
    compare = compare_cols or [c for c in old.columns if c not in keys]

    def row_digest(alias: str) -> Column:
        nulls = [F.col(c).isNull() for c in compare]
        return F.xxhash64(*compare, *nulls).alias(alias)

    oh = old.select(*keys, row_digest("__h_old"),
                    F.lit(True).alias("__in_old"))
    nh = new.select(*keys, row_digest("__h_new"),
                    F.lit(True).alias("__in_new"))
    j = oh.join(nh, keys, "full_outer")
    cls = (F.when(F.col("__in_old").isNull(), "inserted")
           .when(F.col("__in_new").isNull(), "deleted")
           .when(F.col("__h_old") != F.col("__h_new"), "changed")
           .otherwise("unchanged"))
    out = j.select(*keys, cls.alias("change_type"))
    if not include_unchanged:
        out = out.filter(F.col("change_type") != "unchanged")
    return out


def apply_changes(snapshot: DataFrame, changes: DataFrame,
                  keys: list[str], seq_cols: list[str],
                  op_col: str = "op",
                  broadcast_changes: bool = True) -> DataFrame:
    """CDC apply (the APPLY CHANGES INTO primitive): fold an ordered
    changefeed — rows (keys..., ``op_col`` in {'upsert','delete'},
    seq_cols..., payload) — into a snapshot. Out-of-order and
    superseded events are handled by collapsing to the LATEST change
    per key first (max over ``seq_cols``, e.g. (ts, change_id) — the
    tie-break must be total for determinism), then deletes anti-join
    the snapshot and upserts run through `merge_into`.

    Plan: one keyed aggregate over the changefeed (max_by the whole
    row — a partial+final agg, cardinality = touched keys), then the
    merge path: with ``broadcast_changes`` the 100 TB snapshot is
    never shuffled (broadcast LEFT + ANTI joins); otherwise one keyed
    exchange. This is exactly how lakehouse CDC apply works, minus
    the transaction log."""
    seq = F.struct(*[F.col(c) for c in seq_cols])
    payload = [c for c in changes.columns
               if c not in (*keys, op_col, *seq_cols)]
    latest = (changes
              .groupBy(*keys)
              .agg(F.max(F.struct(seq.alias("__s"),
                                  F.col(op_col).alias("__op"),
                                  *[F.col(c) for c in payload]))
                   .alias("__m"))
              .select(*keys, F.col("__m.__op").alias(op_col),
                      *[F.col(f"__m.{c}").alias(c) for c in payload]))
    dels = latest.filter(F.col(op_col) == "delete").select(*keys)
    ups = latest.filter(F.col(op_col) == "upsert").drop(op_col)
    # hint the delete side only: merge_into hints its own update side,
    # and a hint on ``ups`` would reach its inserts anti-join as the
    # LEFT side, which Spark cannot build
    if broadcast_changes:
        dels = F.broadcast(dels)
    kept = snapshot.join(dels, on=keys, how="left_anti")
    return merge_into(kept, ups, keys,
                      broadcast_source=broadcast_changes)

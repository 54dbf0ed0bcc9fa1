"""Narrow per-row / per-partition transforms (SURVEY.md §2.3).

Reference parity (all OneToOneDependency narrow ops over a parent
iterator in the reference; here they are Catalyst projections /
filters / generators that fuse into whole-stage codegen):

- map(f)                reference src/rdd/rdd.rs:199-205, mapper_rdd.rs:15-164
- flat_map(f)           reference src/rdd/rdd.rs:207-213, flatmapper_rdd.rs:13-132
- filter(p)             reference src/rdd/rdd.rs:185-197
- map_partitions(f)     reference src/rdd/rdd.rs:215-235, map_partitions_rdd.rs:16-163
- glom()                reference src/rdd/rdd.rs:237-252
- key_by(f)             reference src/rdd/rdd.rs:1058-1069
- map_values(f)         reference src/rdd/pair_rdd.rs:82-91, :178-288
- flat_map_values(f)    reference src/rdd/pair_rdd.rs:93-102, :290-402

Design: the closure argument of the reference becomes a Column
expression (JVM-side, codegen'd) whenever possible; arbitrary Python
logic goes through Arrow-batched ``mapInPandas`` (never row-at-a-time
UDFs). At 100 TB the narrow chain is one fused scan stage — no
shuffle, no materialization between ops.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ColumnLike = Column | str


def select_map(df: DataFrame, *exprs: ColumnLike) -> DataFrame:
    """``map(f)``: per-row projection. Alias every computed column."""
    return df.select(*exprs)


def filter_rows(df: DataFrame, predicate: ColumnLike) -> DataFrame:
    """``filter(p)``. Predicate is a Column so Catalyst can push it
    down to the parquet scan (check .explain for PushedFilters)."""
    return df.filter(predicate)


def flat_map(df: DataFrame, array_expr: Column, out_name: str,
             keep: Sequence[ColumnLike] = ()) -> DataFrame:
    """``flat_map(f)``: one row → 0..N rows. The closure returning an
    iterator becomes an array-producing expression + ``explode``."""
    return df.select(*keep, F.explode(array_expr).alias(out_name))


def key_by(df: DataFrame, key_expr: Column, key_name: str = "key") -> DataFrame:
    """``key_by(f)``: T → (f(T), T). The "value" stays as the
    original columns; the derived key is appended."""
    return df.withColumn(key_name, key_expr)


def map_values(df: DataFrame, key_cols: Sequence[str], value_expr: Column,
               value_name: str = "value") -> DataFrame:
    """``map_values(f)`` on a (K, V) dataset: transform the value,
    keep the keys. Unlike the reference (which drops the partitioner,
    pair_rdd.rs:230-269 — a known deviation from Spark), partitioning
    metadata is Catalyst's concern and *is* preserved here."""
    return df.select(*key_cols, value_expr.alias(value_name))


def flat_map_values(df: DataFrame, key_cols: Sequence[str],
                    values_array: Column, value_name: str = "value") -> DataFrame:
    """``flat_map_values(f)``: (K, V) → (K, U)* via explode."""
    return df.select(*key_cols, F.explode(values_array).alias(value_name))


def map_partitions(df: DataFrame, fn: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]],
                   schema: str) -> DataFrame:
    """``map_partitions(f)``: per-partition iterator transform.

    The reference hands the user an iterator over rows; here the user
    gets an iterator of Arrow record batches as pandas DataFrames
    (``mapInPandas``) — same contract, vectorized transfer. This is
    the sanctioned escape hatch for logic Column exprs can't say."""
    return df.mapInPandas(fn, schema=schema)


def map_partitions_with_index(df: DataFrame,
                              fn: Callable[[int, Iterator[pd.DataFrame]], Iterator[pd.DataFrame]],
                              schema: str) -> DataFrame:
    """``map_partitions_with_index(f)``: the partition id is injected
    as a column first (spark_partition_id), then stripped by ``fn``'s
    wrapper so user code receives (index, batches)."""
    tagged = df.withColumn("__pid", F.spark_partition_id())

    def runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid: int | None = None
        staged: list[pd.DataFrame] = []
        for b in batches:
            if pid is None and len(b):
                pid = int(b["__pid"].iloc[0])
            staged.append(b.drop(columns="__pid"))
        yield from fn(pid if pid is not None else -1, iter(staged))

    return tagged.mapInPandas(runner, schema=schema)


def glom(df: DataFrame) -> DataFrame:
    """``glom()``: partition → single array row. Exposed for parity;
    at scale prefer aggregations over materializing partitions.
    Output: (partition_id INT, items ARRAY<STRUCT<input cols>>)."""
    return (
        df.withColumn("__pid", F.spark_partition_id())
        .groupBy(F.col("__pid").alias("partition_id"))
        .agg(F.collect_list(F.struct(*[c for c in df.columns])).alias("items"))
    )


def for_each_partition(df: DataFrame, fn: Callable[[pd.DataFrame], None]) -> None:
    """``for_each_partition(f)`` (reference src/rdd/rdd.rs:785-803):
    side-effecting pass, returns nothing."""
    def runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            fn(b)
        yield pd.DataFrame({"ok": [True]})

    df.mapInPandas(runner, schema="ok boolean").count()

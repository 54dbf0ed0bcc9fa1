"""Multi-dimensional data layout: Z-order (Morton) clustering keys.

Sorting a table by ONE column gives parquet row-group min/max
pruning on that column only; interleaving the bits of several
columns (Z-order) gives useful pruning on EACH of them from a single
layout — the technique behind Delta/Iceberg OPTIMIZE ZORDER BY. At
100 TB the benefit is directly proportional to row groups skipped:
a 2-column Z-order typically turns "scan everything" into "scan
O(sqrt) of the groups" for a point/range predicate on either column.

The key is a pure integer expression (shifts and masks, JVM-side,
codegen'd); writing is one range-partitioned sort on the key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _spread_bits(c: Column, bits: int, stride: int, offset: int) -> Column:
    """Place bit i of ``c`` at position i*stride + offset."""
    out = F.lit(0).cast("long")
    for i in range(bits):
        bit = F.shiftright(c, i).bitwiseAND(F.lit(1))
        out = out.bitwiseOR(
            bit * F.lit(1 << (i * stride + offset)).cast("long"))
    return out


def zorder_key(cols: Sequence[Column | str], bits: int = 16) -> Column:
    """Morton key interleaving the low ``bits`` bits of each column
    (columns must be non-negative integers — rank/bucketize first for
    arbitrary domains; bits * len(cols) must be <= 63)."""
    if bits * len(cols) > 63:
        raise ValueError("zorder key would overflow a signed 64-bit long")
    n = len(cols)
    key = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        cc = (F.col(c) if isinstance(c, str) else c).cast("long")
        key = key.bitwiseOR(_spread_bits(cc, bits, n, j))
    return key


def write_zordered(df: DataFrame, path: str, zcols: Sequence[str],
                   bits: int = 16, n_files: int | None = None) -> None:
    """Rewrite ``df`` clustered by the Z-order of ``zcols``: one
    range-partitioned sort on the Morton key (sampled range
    boundaries — no single-reducer hot spot), then per-file sorted
    runs so parquet row-group stats are tight on every z column."""
    key = zorder_key(zcols, bits).alias("__z")
    out = df.withColumn("__z", key)
    if n_files:
        out = out.repartitionByRange(n_files, "__z")
    out = out.sortWithinPartitions("__z")
    out.drop("__z").write.mode("overwrite").parquet(path)


def write_bucketed(df: DataFrame, table: str, bucket_col: str,
                   n_buckets: int = 8,
                   sort_col: str | None = None) -> None:
    """Persist ``df`` as a bucketed (hash-partitioned-on-disk) table:
    Spark records the bucketing in the catalog, and any later
    equi-join or aggregation on ``bucket_col`` between tables with
    the same bucket count needs NO Exchange — the shuffle was paid
    once at write time and amortizes over every subsequent query.
    This is the production answer to the reference's co-partitioned
    cogroup elision (co_grouped_rdd.rs:102-126): there the partitioner
    lives in memory for one job; a bucketed table makes it durable.

    At 100 TB: pick n_buckets so each bucket-file group stays in the
    hundreds of MB; both join sides must use the same count (or a
    divisor, with spark.sql.bucketing.coalesceBucketsInJoin)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def write_bucketed_at(df: DataFrame, table: str, path: str, bucket_col: str,
                      n_buckets: int = 8,
                      sort_col: str | None = None) -> None:
    """`write_bucketed` as an EXTERNAL table at ``path`` (data stays
    in the given scratch/lake location; only metadata enters the
    catalog)."""
    w = (df.write.mode("overwrite").option("path", path)
         .bucketBy(n_buckets, bucket_col))
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def compact_parquet(spark, path: str, target_file_mb: int = 128,
                    sort_within: Sequence[str] | None = None) -> dict:
    """Small-file compaction — the table-maintenance chore every
    long-running ingest needs (thousands of tiny files destroy scan
    throughput: per-file open/footer costs dominate and the driver
    chokes listing them). Rewrites ``path`` into ~``target_file_mb``
    files, optionally sorting within partitions first (so min/max
    zone maps stay selective after compaction).

    Mechanics: size the output file count from the CURRENT byte size
    (ceil(bytes / target)), repartition to exactly that many writers,
    write to a sibling temp dir, then atomically swap directories —
    readers see either the old or the new layout, never a partial
    one. Returns {files_before, files_after, bytes}. This is the
    OPTIMIZE/compact primitive of lakehouse tables expressed with
    plain Spark + FS renames (a real table format adds snapshot
    isolation on top)."""
    import math
    import os
    import shutil

    files = [f for f in os.listdir(path)
             if f.endswith(".parquet") and not f.startswith("_")]
    total = sum(os.path.getsize(os.path.join(path, f)) for f in files)
    n_out = max(1, math.ceil(total / (target_file_mb * (1 << 20))))
    df = spark.read.parquet(path)
    out = df.repartition(n_out)
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    tmp = path.rstrip("/") + "__compact_tmp"
    out.write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + "__compact_old"
    os.rename(path.rstrip("/"), old)
    os.rename(tmp, path.rstrip("/"))
    shutil.rmtree(old)
    after = len([f for f in os.listdir(path)
                 if f.endswith(".parquet") and not f.startswith("_")])
    return {"files_before": len(files), "files_after": after,
            "bytes": total}


def parquet_footer_census(spark, paths, columns):
    """Metadata-ONLY parquet census: per requested column, the
    footer-declared value count, null count, and min/max aggregated
    across every row group of every file — parsed from the parquet
    footers with pyarrow on executors, never scanning data pages.
    This is the statistics layer that data-skipping planners trust
    (cf. operators/versioned.plan_pruned_files); the registry oracle
    cross-checks the footers against a full scan of the same data
    (COUNT/MIN/MAX must agree), so a writer producing wrong stats
    fails the census.

    Scale: one row per (file, row group, column) flows into a keyed
    aggregate — footer parse cost is per-file O(KB), embarrassingly
    parallel over the file list (mapInPandas over paths, files
    redistributed across executors)."""
    from collections.abc import Iterator as _It

    import pandas as pd

    cols = list(columns)

    def op(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import pyarrow.parquet as pq

        for b in batches:
            names, nvals, nulls, mins, maxs = [], [], [], [], []
            for path in b["path"]:
                md = pq.ParquetFile(path).metadata
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        c = g.column(ci)
                        if c.path_in_schema not in cols:
                            continue
                        st = c.statistics
                        names.append(c.path_in_schema)
                        nvals.append(c.num_values)
                        nulls.append(st.null_count if st else None)
                        # min/max are surfaced as int64 — only
                        # integer-typed stats fit; strings/floats/
                        # dates get NULL stats instead of a UDF crash
                        ok = (st is not None and st.has_min_max
                              and isinstance(st.min, int)
                              and not isinstance(st.min, bool))
                        mins.append(int(st.min) if ok else None)
                        maxs.append(int(st.max) if ok else None)
            yield pd.DataFrame({
                "col": names, "num_values": nvals, "null_count": nulls,
                "min_val": pd.array(mins, dtype="Int64"),
                "max_val": pd.array(maxs, dtype="Int64")})

    files = spark.createDataFrame([(p,) for p in paths], "path string") \
        .repartition(max(1, min(len(paths), 64)))
    per_group = files.mapInPandas(
        op, schema=("col string, num_values long, null_count long, "
                    "min_val long, max_val long"))
    return (per_group.groupBy("col")
            .agg(F.sum("num_values").alias("num_values"),
                 F.sum("null_count").alias("null_count"),
                 F.min("min_val").alias("min_val"),
                 F.max("max_val").alias("max_val")))


def write_size_targeted(df: DataFrame, path: str,
                        target_file_bytes: int = 128 * 1024 * 1024,
                        sample_rows: int = 2000,
                        n_rows: int | None = None,
                        est_row_bytes: float | None = None) -> dict:
    """Size-targeted parquet write: pick the file count so each
    output file lands near ``target_file_bytes`` (the HDFS-block /
    object-store sweet spot — the knob that prevents both the
    small-files problem and unsplittable monster files at 100 TB).

    Bytes-per-row is estimated by writing a bounded ``sample_rows``
    head to a ``scratch_dir`` (real parquet encoding + compression, the
    only honest estimator); the full write is then one
    ``repartition(n_files)`` round-robin — uniform file sizes by
    construction. Returns {n_rows, est_row_bytes, n_files}.

    ``n_rows`` / ``est_row_bytes`` are caller hints (the als_explicit
    ``copart`` pattern): a caller whose ``df`` is a bare parquet scan
    already has the EXACT row count and a whole-table bytes-per-row
    in the source footers — passing them skips the count job and the
    sample-write job entirely. The hints change only the estimator,
    never the write: a wrong ``n_rows`` hint would corrupt the sizing,
    so callers must only pass footer-exact values."""
    import math
    import os

    from vega_spark.session import scratch_dir

    if n_rows is None:
        n_rows = df.count()
    if est_row_bytes is not None:
        bpr = max(1.0, float(est_row_bytes))
    else:
        scratch = scratch_dir(df.sparkSession, "vega_sizer")
        head = df.limit(min(sample_rows, max(n_rows, 1)))
        head.coalesce(1).write.mode("overwrite").parquet(scratch)
        sampled = max(1, min(sample_rows, n_rows))
        total = sum(os.path.getsize(os.path.join(scratch, f))
                    for f in os.listdir(scratch) if f.endswith(".parquet"))
        bpr = max(1.0, total / sampled)
    rows_per_file = max(1, int(target_file_bytes / bpr))
    n_files = max(1, math.ceil(n_rows / rows_per_file))
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return {"n_rows": n_rows, "est_row_bytes": round(bpr, 1),
            "n_files": n_files}

"""Table loaders for the driver's synthetic TPC-H-ish star schema
(TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under a scale
directory such as /root/testdata/sf0.01.

Reference parity: ``read_source(config, decoder)`` + the pluggable
``ReaderConfiguration`` (reference src/context.rs:445-455,
src/io/mod.rs:11-16) maps to ``spark.read.<format>``; Spark's split
planning replaces the reference's size-balanced bin packing
(src/io/local_file_reader.rs:221-295) and its host pinning becomes
locality preference, which is a no-op on object storage.

Scale notes: parquet scans get predicate pushdown + column pruning
from Catalyst for free — callers should select/filter on the loaded
DataFrame and let the optimizer reach the scan. At 100 TB each
"table" is a directory of many files (possibly partitioned by date);
``load_table`` takes any path spark.read.parquet accepts.

Time-column contract: the engine's event-time column ``events.ts`` is
normalized at load to **BIGINT nanoseconds since epoch (naive wall
clock, UTC)** regardless of the physical parquet type:

- parquet timestamp[ns] → read raw via
  spark.sql.legacy.parquet.nanosAsLong=true (already BIGINT ns);
- parquet timestamp[us/ms] (TIMESTAMP_NTZ / TIMESTAMP) → converted
  with ``unix_micros`` under the pinned UTC session timezone, so the
  naive wall clock is preserved exactly.

All derived time columns then use pure integer arithmetic so results
are session-timezone-independent and match a UTC-naive oracle
(DuckDB reads the same parquet as naive TIMESTAMP and extracts the
same wall-clock fields).

Schema cache: a plain ``spark.read.parquet(path)`` infers the schema
eagerly, and Spark 4 does that through ``mergeSchemasInParallel`` —
one Spark job per load, even for a single file, before any action
runs. The reference plans a read on the driver and launches nothing
until an action (src/context.rs:445-455). ``load_table`` therefore
remembers the inferred ``StructType`` per absolute path and passes it
back as a user schema on later loads, which builds the same plan and
launches no job. An entry is reused only while everything inference
reads is unchanged:

- the file's ``(size, mtime_ns, inode)``; for a directory, that
  triple for every file under it;
- the session values of the confs in ``_SCHEMA_CONFS``, which change
  the inferred types (nanos-as-long, binary-as-string, INT96, NTZ
  inference) or which footers are read (merge, summary files, corrupt
  files).

On any mismatch the schema is inferred again and the entry replaced;
when the path cannot be ``stat``-ed (e.g. an object-store URI) the
load infers as before. The schema is cached, not the DataFrame, so two
loads of one table get distinct attribute ids and self-joins resolve.
Concurrent misses may both infer; both store the same schema.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_NS_PER_HOUR = 3_600 * 10**9
_NS_PER_DAY = 86_400 * 10**9

# session confs that parquet schema inference depends on
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.files.ignoreCorruptFiles",
)

# absolute path -> (file fingerprint, conf values, inferred schema)
_schema_cache: dict[str, tuple[tuple, tuple, StructType]] = {}


def _fingerprint(path: str) -> tuple:
    """``(size, mtime_ns, inode)`` of a file, or of every file under a
    directory keyed by relative path. Raises OSError when unreadable."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return (st.st_size, st.st_mtime_ns, st.st_ino)
    leaves = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            leaves.append((os.path.relpath(full, path),
                           st.st_size, st.st_mtime_ns, st.st_ino))
    return tuple(sorted(leaves))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema (one Spark
    job) only when the cached entry for ``path`` is stale (see module
    docstring)."""
    key = os.path.abspath(path)
    try:
        stamp = _fingerprint(key)
    except OSError:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS)
    hit = _schema_cache.get(key)
    if hit is not None and hit[:2] == (stamp, confs):
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    _schema_cache[key] = (stamp, confs, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table. For ``events`` the ``ts`` column is
    normalized to BIGINT nanoseconds (see module docstring)."""
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        except Exception:
            pass
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and "ts" in df.columns:
        kind = dict(df.dtypes)["ts"]
        if kind != "bigint":
            # TIMESTAMP_NTZ (µs/ms physical) → naive wall clock → ns.
            # Cast NTZ→LTZ is wall-clock-preserving under UTC session
            # tz (pinned above); unix_micros is then exact integer µs.
            df = df.withColumn(
                "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000))
    return df


def _row_groups(path: str):
    """Footer metadata of every row group of a parquet file, or of
    every data file of a dataset directory. Reads footers only: no
    column data, no Spark job. Raises when the path can't be read."""
    import pyarrow.parquet as pq
    if os.path.isdir(path):
        import pyarrow.dataset as pads
        files = [fr.path for fr in
                 pads.dataset(path, format="parquet").get_fragments()]
    else:
        files = [path]
    for f in files:
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            yield md.row_group(g)


def _footer_stat(sf_dir: str, name: str, reduce):
    """``reduce`` over the row groups of table ``name``; None when its
    footers can't be read (callers then count with Spark or skip)."""
    try:
        return reduce(_row_groups(os.path.join(sf_dir, f"{name}.parquet")))
    except Exception:
        return None


def footer_rows(sf_dir: str, name: str) -> int | None:
    """Row count of a table from its parquet footers. Used to decide
    scale-dependent plan choices (e.g. als_explicit's ``copart``
    hint) without paying a count job."""
    return _footer_stat(sf_dir, name,
                        lambda rgs: sum(rg.num_rows for rg in rgs))


def footer_uncompressed_bytes(sf_dir: str, name: str) -> int | None:
    """Total uncompressed byte size of a table from its row-group
    footers (sizes mine_duplicate_spans' digest shuffle)."""
    return _footer_stat(sf_dir, name,
                        lambda rgs: sum(rg.total_byte_size for rg in rgs))


def footer_col_max(sf_dir: str, name: str, col: str):
    """Max of column ``col`` from footer statistics: the raw
    statistics value (int for INT64-encoded columns, datetime or
    pandas.Timestamp for timestamps). None when any row group lacks
    statistics for it (callers then run a Spark ``max()``)."""
    def top(rgs):
        maxes = []
        for rg in rgs:
            st = next(rg.column(i) for i in range(rg.num_columns)
                      if rg.column(i).path_in_schema == col).statistics
            if st is None or st.max is None:
                return None
            maxes.append(st.max)
        return max(maxes, default=None)
    return _footer_stat(sf_dir, name, top)


def events_max_ts_us(spark: SparkSession, sf_dir: str) -> int:
    """Max of ``events.ts`` as epoch microseconds (naive wall clock,
    UTC). Read from footer statistics, whatever their Python type
    (datetime, pandas.Timestamp or raw int64 nanoseconds); when any
    row group lacks them, a Spark ``max()`` of the loaded BIGINT-ns
    column."""
    mx = footer_col_max(sf_dir, "events", "ts")
    if mx is None:
        ev = load_table(spark, sf_dir, "events")
        return ev.agg(F.max("ts")).first()[0] // 1000
    import pyarrow as pa
    return pa.scalar(mx, pa.timestamp("ns")).value // 1000


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str, suffix: str = "") -> None:
    """Register every table as a temp view (for the SQL surface)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name + suffix)


# --- timezone-independent event-time helpers (ts = BIGINT ns since epoch) ---

def ts_hour_of_day(col: str | F.Column = "ts") -> F.Column:
    """Hour-of-day 0..23 from a BIGINT-nanos column (UTC wall clock).
    Matches DuckDB ``EXTRACT(hour FROM ts)`` on the naive timestamp."""
    c = F.col(col) if isinstance(col, str) else col
    return ((c % _NS_PER_DAY) / _NS_PER_HOUR).cast("int")


def ts_date(col: str | F.Column = "ts") -> F.Column:
    """DATE from BIGINT-nanos (days since epoch — TZ-independent)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_from_unix_date((c / _NS_PER_DAY).cast("int"))


def ts_hour_bucket_epoch_s(col: str | F.Column = "ts") -> F.Column:
    """Tumbling 1-hour window start as BIGINT epoch seconds.
    Matches DuckDB ``EXTRACT(epoch FROM date_trunc('hour', ts))``."""
    c = F.col(col) if isinstance(col, str) else col
    return ((c / _NS_PER_HOUR).cast("bigint") * 3600).cast("bigint")

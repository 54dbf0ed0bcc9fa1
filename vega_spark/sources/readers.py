"""Source readers (SURVEY.md §2.1).

Reference parity:
- make_rdd/parallelize  reference src/context.rs:406-417, :433-442 +
  parallel_collection_rdd.rs:116-145 (even slicing) →
  spark.createDataFrame with an explicit schema (Arrow path).
- range(start, end, step, n) reference src/context.rs:419-431 — the
  reference's end is INCLUSIVE ((start..=end), tests/test_rdd.rs:524-531);
  ``range_inclusive`` pins that.
- read_source + LocalFsReaderConfig reference src/context.rs:445-455,
  src/io/local_file_reader.rs:20-100 — whole-file bytes or file paths
  per row. Maps to spark.read.format("binaryFile") / file listings;
  Spark's split planning replaces the size-balanced bin packing
  (local_file_reader.rs:221-295), and host pinning (:336-378) becomes
  locality preference (moot on object storage).
- CSV / text / parquet examples → spark.read.csv/text/parquet.

Scale notes: at 100 TB, sources must be splittable (parquet/orc) or
line-delimited (csv/json); binaryFile is for modest corpora of
opaque blobs (images/audio — see functions.multimodal). Never
inferSchema in production paths — always explicit StructType.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def parallelize(spark: SparkSession, data: Sequence[Any],
                schema: T.StructType | str,
                num_slices: int | None = None) -> DataFrame:
    """In-memory collection → distributed dataset with explicit schema."""
    df = spark.createDataFrame(data, schema=schema)
    return df.repartition(num_slices) if num_slices else df


def range_inclusive(spark: SparkSession, start: int, end: int,
                    step: int = 1, num_slices: int | None = None) -> DataFrame:
    """Reference range semantics: END INCLUSIVE (context.rs:427)."""
    df = spark.range(start, end + (1 if step > 0 else -1), step,
                     numPartitions=num_slices)
    return df.select(F.col("id").alias("value"))


def read_parquet(spark: SparkSession, path: str,
                 columns: Sequence[str] | None = None,
                 schema: T.StructType | str | None = None) -> DataFrame:
    """Columnar scan; select columns immediately so pruning reaches
    the reader (check ReadSchema in .explain). Without ``schema`` the
    footer schema is inferred, which runs one Spark job."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    return df.select(*columns) if columns else df


def read_csv(spark: SparkSession, path: str, schema: T.StructType | str,
             header: bool = False, sep: str = ",") -> DataFrame:
    return spark.read.csv(path, schema=schema, header=header, sep=sep)


def read_json(spark: SparkSession, path: str,
              schema: T.StructType | str) -> DataFrame:
    return spark.read.json(path, schema=schema)


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """One row per line (decode step of the reference's text reader:
    examples/file_read.rs:16-21)."""
    return spark.read.text(path)


def read_whole_files(spark: SparkSession, path: str,
                     glob: str | None = None) -> DataFrame:
    """LocalFsReader whole-file-bytes mode (local_file_reader.rs:80-100):
    (path, modificationTime, length, content BINARY) per file."""
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)


def read_file_paths(spark: SparkSession, path: str,
                    glob: str | None = None) -> DataFrame:
    """LocalFsReader paths mode: file names only, content unread."""
    return read_whole_files(spark, path, glob).select("path", "length")

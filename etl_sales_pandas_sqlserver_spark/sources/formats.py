"""Additional interchange formats beyond the reference's CSV/JDBC
surface: JSON-lines (the lingua franca of crawl/training-data
pipelines) and hive-partitioned parquet (the lakehouse layout the
100 TB deployment actually uses).

Design notes:

- JSON reads take an explicit schema. Schema inference reads the data
  TWICE (one full pass just to infer) and silently widens types -- at
  100 TB that is a doubled scan and a correctness hazard, so the
  helpers make the schema a required argument.
- ``write_partitioned_parquet`` hive-partitions by the given keys; a
  reader filtering on those keys prunes directories at planning time
  (PartitionFilters in the scan node), which is the difference between
  scanning 100 TB and scanning one partition.
- Both writers go through Spark's committer (atomic task commit,
  speculative-duplicate safe) -- no hand-rolled file moves on the
  scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Read newline-delimited JSON (one record per line) with a declared
    schema.

    Corrupt lines are captured, not fatal: PERMISSIVE mode plus a
    ``_corrupt_record`` column when the caller's schema includes one
    (mirrors the coercing-read posture of the CSV source,
    csv_folder.py).
    """
    return spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    """Write newline-delimited JSON, replacing ``path`` (a directory of
    part files -- the scale layout; use ignoreNullFields=false so
    downstream schema application sees explicit nulls rather than
    missing keys)."""
    df.write.mode("overwrite").option("ignoreNullFields", "false").json(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_by: tuple[str, ...]
) -> None:
    """Hive-partitioned parquet sink, replacing ``path``.

    Partition keys become directory levels (``lang=en/...``); readers
    filtering on them scan only matching directories. Keep partition
    cardinality sane (<= ~10k directories): date / language / tenant
    are good keys, high-cardinality ids are not.
    """
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


def read_partitioned_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read a hive-partitioned parquet dataset (partition columns are
    reconstructed from directory names)."""
    return spark.read.parquet(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink, replacing ``path`` (zlib by default; columnar with
    predicate-pushdown indexes like parquet). ORC is the interchange
    format of the Hive ecosystem -- supported natively by Spark, no
    extra package."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan; filter pushdown and column pruning apply exactly as
    for parquet (shown by PushedFilters in .explain)."""
    return spark.read.orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: "T.StructType | None" = None,
) -> DataFrame:
    """XML scan (native data source since Spark 4 -- no spark-xml
    package). ``row_tag`` names the repeated element that becomes one
    row; nested elements map to struct/array columns.

    Same schema discipline as read_jsonl: pass one explicitly in
    production -- inference is an extra full pass over the data and
    silently widens types. Corrupt records follow the standard
    PERMISSIVE contract (columnNameOfCorruptRecord) when the schema
    includes the corrupt-record column.
    """
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(df: DataFrame, path: str, row_tag: str) -> None:
    """XML sink (native in Spark 4), replacing ``path``; one ``row_tag``
    element per row under a ``rows`` root, through Spark's committer
    like every other writer here. XML is an interchange-only format:
    no pushdown, no column pruning, every scan is a full parse -- land
    it into parquet at the ingest edge and never query it in place at
    scale."""
    (
        df.write.format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", "rows")
        .mode("overwrite")
        .save(path)
    )

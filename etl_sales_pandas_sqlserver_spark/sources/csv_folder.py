"""Scans (SURVEY.md section 2.1, ops S1/S2).

S1 -- folder-of-CSVs scan with a filename-derived audit-date column
(reference: etl_utils.py:166-206 lists the directory, reads each CSV
with inferred schema, stamps ``Audit_Date = to_datetime(filename_stem)``
and concatenates).

Spark-first design: ONE multi-file ``spark.read.csv`` over the whole
directory -- the scan parallelizes by file split, and the audit date is
derived per-row from ``input_file_name()`` inside the same stage, so no
driver-side loop and no union of N plans. At 100 TB / 10^5 files this is
the difference between a single distributed scan and a 10^5-way union.

The folder is read as ONE root path with a ``pathGlobFilter``, not as
the glob ``{directory}/*.csv``. A glob expands to one root path per
file, and above ``spark.sql.sources.parallelPartitionDiscovery.threshold``
(32 paths) ``InMemoryFileIndex`` lists those paths with a distributed
Spark job, one task per file -- on every read. One root is listed on
the driver and starts no job. Both forms read only top-level files
(a ``sub/`` directory is skipped); a DIRECTORY named ``old.csv/`` is
skipped by the filter, as the reference's ``listdir`` + ``read_csv``
cannot read a directory either.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import SALES_RAW

#: extracts the filename stem from a full input path: '.../2025-01-01.csv'
_STEM = r"([^/\\]+)\.[Cc][Ss][Vv]$"


def read_sales_folder(spark: SparkSession, directory: str) -> DataFrame:
    """Read every ``*.csv`` in ``directory`` as one DataFrame and add
    ``Audit_Date`` parsed from each row's source filename stem.

    Parity notes (reference etl_utils.py:183-197):
    - suffix filter ``endswith('.csv')`` == ``pathGlobFilter='*.csv'``;
    - ``pd.to_datetime(stem, errors='coerce')`` == ``try_to_timestamp``
      (unparseable stem -> NULL, e.g. a file named ``notes.csv``);
    - ``pd.concat(ignore_index=True)`` union-by-name is implicit in the
      multi-file read since the schema is declared once.

    The audit date stays a TimestampType here; formatting to string
    happens only at sinks (plans.sales_etl.format_dates_for_sink).

    A missing folder raises ``[PATH_NOT_FOUND]``; a folder with no
    ``*.csv`` file raises ``FileNotFoundError`` naming it (a filtered
    directory read would otherwise return 0 rows silently). Both checks
    run on the driver and start no job.
    """
    df = (
        spark.read.option("header", "true")
        .option("pathGlobFilter", "*.csv")
        .schema(SALES_RAW)
        .csv(directory)
    )
    if not df.inputFiles():
        raise FileNotFoundError(f"no *.csv files in sales folder {directory!r}")
    stem = F.regexp_extract(F.input_file_name(), _STEM, 1)
    # decode %XX escapes that input_file_name() applies to the URI
    stem = F.url_decode(stem)
    return df.withColumn("Audit_Date", F.try_to_timestamp(stem))


def read_csv(
    spark: SparkSession, path: str, date_col: str | None = None
) -> DataFrame:
    """S2 -- single-CSV scan with an optional coercing date parse on one
    column (reference etl_utils.py:71-106: ``read_csv`` +
    ``to_datetime(format='%Y-%m-%d', errors='coerce')``).

    No inferSchema scan: every column arrives as a string.
    ``try_to_timestamp`` returns NULL on parse failure, matching
    ``errors='coerce'`` without tripping ANSI mode.
    """
    df = spark.read.option("header", "true").csv(path)
    if date_col is not None:
        df = df.withColumn(
            date_col, F.try_to_timestamp(F.col(date_col), F.lit("yyyy-MM-dd"))
        )
    return df


def read_csv_with_bad_records(
    spark: SparkSession, path: str, schema: T.StructType
) -> "tuple[DataFrame, DataFrame]":
    """Production-grade malformed-row handling for CSV ingest: returns
    ``(good, bad)`` where ``good`` holds rows that parsed cleanly under
    the declared schema and ``bad`` holds the raw text of every row
    that did not (type mismatch, wrong column count). PERMISSIVE mode +
    a corrupt-record capture column -- the bad rows are quarantined for
    inspection instead of silently nulled (the reference swallows the
    whole FILE into an empty frame on any error, etl_utils.py:100-105;
    row-level quarantine is the behavior a 10^5-file ingest needs,
    since one bad row must not discard a split).

    Spark disallows queries that reference ONLY the corrupt column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN); the
    documented workaround is to cache the parsed frame so ``bad`` is
    ANALYZABLE. But a cache is a liveness hazard: if it is released
    before ``bad`` executes (by any cache release, e.g. a
    ``spark.catalog.clearCache()``), collecting ``bad`` throws that
    same error at runtime.
    So ``bad`` is eagerly materialized via ``localCheckpoint`` while
    the cache is live -- severing its lineage from the raw CSV scan --
    and the cache is dropped before returning. Both outputs are then
    valid regardless of any later cache churn: ``bad`` reads its
    checkpointed blocks, ``good`` re-parses the file (a plain query
    that references real data columns). Bad rows are a tiny fraction
    of an ingest, so checkpointing them is cheap at any scale."""
    corrupt_col = "_corrupt_record"
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    df = (
        spark.read.option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(full)
        .csv(path)
        .cache()
    )
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    try:
        bad = (
            df.filter(F.col(corrupt_col).isNotNull())
            .select(F.col(corrupt_col).alias("raw_record"))
            .localCheckpoint(eager=True)
        )
    finally:
        df.unpersist()
    return good, bad

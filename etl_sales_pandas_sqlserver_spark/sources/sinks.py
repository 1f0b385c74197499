"""Sinks (SURVEY.md section 2.1, ops S3/S4/S5).

S3 -- single-file CSV export (reference etl_utils.py:108-129 writes one
CSV per table, utf-8-sig so Excel autodetects). Spark writes a directory
of part files; the helper optionally coalesces to 1 and renames -- a
small-output convenience, NOT the scale path. At 100 TB you keep the
multi-part parquet/CSV directory.

S4/S5 -- JDBC (SQL Server) sink (reference etl_utils.py:37-66 builds a
SQLAlchemy engine with trusted auth; :134-160 ``to_sql`` with
replace/append). Spark's JDBC writer batches inserts per partition;
``overwrite`` == pandas ``if_exists='replace'``, ``append`` == append.
No SQL Server exists in the dev environment, so the writer is exercised
only through option construction in unit tests (integration-gated).
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame


def write_single_csv(df: DataFrame, path: str, with_bom: bool = False) -> str:
    """Write ``df`` to exactly ONE csv file at ``path``.

    ``coalesce(1)`` funnels the final stage through a single task --
    acceptable only for small, human-facing exports like the
    reference's Resultados/*.csv; large outputs should use
    ``df.write.csv(dir)`` untouched.
    """
    tmp = path + "._spark_tmp"
    (
        df.coalesce(1)
        .write.option("header", "true")
        .mode("overwrite")
        .csv(tmp)
    )
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    with open(part, "rb") as src, open(path, "wb") as dst:
        if with_bom:
            # utf-8-sig parity with the reference (etl_utils.py:125)
            dst.write(b"\xef\xbb\xbf")
        shutil.copyfileobj(src, dst)
    shutil.rmtree(tmp)
    return path


def jdbc_url(
    database: str,
    host: str = "localhost",
    port: int = 1433,
    integrated_security: bool = True,
) -> str:
    """S5 -- connection-string factory (reference etl_utils.py:57-61
    builds ``mssql+pyodbc://@{host}/{db}?trusted_connection=yes``).
    Spark needs a JDBC URL instead; no persistent engine object exists --
    the JDBC writer opens per-partition connections.
    """
    url = f"jdbc:sqlserver://{host}:{port};databaseName={database}"
    if integrated_security:
        url += ";integratedSecurity=true"
    return url


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    options: dict[str, str] | None = None,
) -> None:
    """S4 -- load a DataFrame into SQL Server.

    mode='overwrite' == reference ``if_exists='replace'`` (drop+recreate,
    etl_utils.py:156); add ``options={'truncate': 'true'}`` to keep DDL.
    ``batchsize`` and ``numPartitions`` are the scale knobs: each
    partition writes its own batched INSERT stream.
    """
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


def pandas_if_exists_mapping(if_exists: str) -> str:
    """Dialect-level contract: map the reference's pandas
    ``DataFrame.to_sql(if_exists=...)`` semantics (etl_utils.py:134-160
    calls it with ``'replace'`` and ``'append'``) onto the Spark JDBC
    writer's mode.

    - ``'replace'`` -> ``'overwrite'``: Spark drops and recreates the
      table from the DataFrame schema — byte-for-byte the pandas
      behavior (indexes, constraints and any hand-tuned column types
      are LOST on both engines).
    - ``'append'`` -> ``'append'``: plain inserts, table must exist or
      is created once.
    - ``'fail'`` -> ``'errorifexists'``.
    """
    mapping = {
        "replace": "overwrite",
        "append": "append",
        "fail": "errorifexists",
    }
    if if_exists not in mapping:
        raise ValueError(f"unsupported if_exists mode: {if_exists!r}")
    return mapping[if_exists]

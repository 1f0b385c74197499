"""Order-insensitive table fingerprints: the migration-validation
primitive.

A user switching engines (the whole premise of this repo) needs to
prove "same table on both sides" without sorting or transferring 100 TB:
hash each row to a fixed-width integer from a CANONICAL string
rendering, then SUM the hashes -- addition is commutative, so the
fingerprint is independent of row order, partitioning and engine, and
any single-row difference moves it. md5 is bit-identical in Spark and
DuckDB; the canonical rendering sticks to types whose string forms are
engine-stable (integers, strings, dates as yyyy-MM-dd) -- floats are
deliberately excluded from the hashed rendering (their decimal
formatting is NOT engine-stable) and validated by the engine's other
per-column aggregates instead.

Scale shape: a stateless per-row projection into one ungrouped
SUM/COUNT -- map-side combined, one scalar per table; the union of
per-table scalars is a handful of rows. No shuffle carries data.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .tokcount import md5_slice, md5_slice_sql

SparkQuery = Callable[[SparkSession, str], DataFrame]

#: table -> canonical key columns (engine-stable string renderings)
_FINGERPRINT_COLS: dict[str, list[str]] = {
    "orders": [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
        "o_orderpriority",
    ],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
}


def _row_hash(cols: list[str]):
    """First 32 bits of md5 over the '|'-joined canonical rendering --
    SUM over rows stays far inside int64 at any plausible row count."""
    joined = F.concat_ws(
        "|", *[F.col(c).cast("string") for c in cols]
    )
    return md5_slice(joined, 1, 8)


#: the DuckDB twins of the '|'-joined canonical renderings
_ORDERS_ROW_SQL = """concat_ws('|',
              CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
              o_orderstatus, CAST(CAST(o_orderdate AS DATE) AS VARCHAR),
              o_orderpriority)"""
_CUSTOMER_ROW_SQL = """concat_ws('|',
              CAST(c_custkey AS VARCHAR), c_name,
              CAST(c_nationkey AS VARCHAR), c_mktsegment)"""
_NATION_ROW_SQL = """concat_ws('|',
              CAST(n_nationkey AS VARCHAR), n_name,
              CAST(n_regionkey AS VARCHAR))"""

TABLE_FINGERPRINT_SQL = f"""
  SELECT 'orders' AS table_name,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM({md5_slice_sql(_ORDERS_ROW_SQL, 1, 8)}) AS BIGINT) AS fingerprint
  FROM orders
  UNION ALL
  SELECT 'customer',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM({md5_slice_sql(_CUSTOMER_ROW_SQL, 1, 8)}) AS BIGINT)
  FROM customer
  UNION ALL
  SELECT 'nation',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM({md5_slice_sql(_NATION_ROW_SQL, 1, 8)}) AS BIGINT)
  FROM nation
  ORDER BY table_name
"""


def q_table_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = []
    for table, cols in _FINGERPRINT_COLS.items():
        df = load_table(spark, sf_dir, table)
        sel = [
            F.col(c).cast("date").cast("string").alias(c)
            if c == "o_orderdate"
            else F.col(c)
            for c in cols
        ]
        parts.append(
            df.select(*sel)
            .select(_row_hash(cols).alias("h"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("h").alias("fingerprint"),
            )
            .select(
                F.lit(table).alias("table_name"), "n_rows", "fingerprint"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


QUERIES_EXPORT: dict[str, tuple[SparkQuery, str | None]] = {
    "table_fingerprints": (q_table_fingerprints, TABLE_FINGERPRINT_SQL),
}

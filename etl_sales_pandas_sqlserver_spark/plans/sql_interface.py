"""The engine's SQL entry point: run ANSI SQL through ``spark.sql``
over temp views of the testdata tables. Catalyst plans SQL and
DataFrame code identically (same logical plan, same optimizations), so
this surface costs nothing extra -- the point is that a SQL-first user
can drive the engine without touching the DataFrame API.

The views live on an ``isolated`` clone of the caller's session, one
per call, and only the tables the SQL text reads are registered: the
caller's catalog is left as it was found. The clone reads the caller's
verified read schemas (``sources.testdata.load_table``), so no parquet
footer is read twice.

The registered query's text is deliberately engine-portable ANSI: the
SAME string is the DuckDB oracle, so the correctness check also proves
the SQL dialect subset used here is portable.

Scale shape: dim-to-fact star join (region, nation are broadcast-size;
customer joins orders on the shuffle). AQE picks broadcast for the
small sides at runtime -- no hints needed in SQL text, which keeps the
query engine-portable.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..session import isolated
from ..sources.testdata import load_table

SparkQuery = Callable[[SparkSession, str], DataFrame]

#: one portable SQL text -- runs verbatim on Spark AND DuckDB
REGION_YEAR_REVENUE_SQL = """
  SELECT r.r_name AS region,
         CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS revenue
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY r.r_name, year(o.o_orderdate)
  ORDER BY region, order_year
"""


def q_sql_region_year_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    clone = isolated(spark, {})
    for t in ("orders", "customer", "nation", "region"):
        load_table(clone, sf_dir, t).createOrReplaceTempView(t)
    return clone.sql(REGION_YEAR_REVENUE_SQL)


SQL_INTERFACE_QUERIES: dict[str, tuple[SparkQuery, str | None]] = {
    "sql_region_year_revenue": (
        q_sql_region_year_revenue,
        REGION_YEAR_REVENUE_SQL,
    ),
}

"""Additional TPC-H-pattern analytics over the testdata star schema:
the EXISTS-aggregate (Q4), the multi-way local-supplier join (Q5), the
derived-category conditional count (Q12), and the promo revenue share
(Q14) -- each adapted to the columns the testdata actually has (no
commitdate/receiptdate/shipmode) and each with a DuckDB oracle twin.

Scale notes per query below; shared numeric rules follow
plans/testdata_queries.py: DECIMAL-accumulated money sums cast back to
DOUBLE, single double division on identical operands for ratios, and
timestamp literals cast to the column's *runtime* type (NTZ under Spark
4's default inference, LTZ under a caller's session with it off -- see
``_ts_lit``) so interval arithmetic and range predicates never lean on
cross-type coercion that would shift with the session timezone.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import load_table

SparkQuery = Callable[[SparkSession, str], DataFrame]

_HIGH_PRIORITIES = ("1-URGENT", "2-HIGH")


def _dec(c: str):
    return F.col(c).cast("decimal(18,2)")


def _ts_lit(df: DataFrame, col: str, value: str):
    """Literal cast to ``col``'s actual runtime type. A Spark 4 session
    (the engine's and the driver's) infers parquet timestamp[us] as
    TIMESTAMP_NTZ; a caller's session with NTZ inference off reads
    TIMESTAMP (LTZ). Matching the column's own type keeps the
    comparison coercion-free in both worlds, so it cannot shift with
    the session timezone."""
    return F.lit(value).cast(df.schema[col].dataType)


# ---------------------------------------------------------------------------
# Q4 analog: priority count of orders with at least one late-shipped
# line (l_shipdate > o_orderdate + 30 days stands in for TPC-H's
# commitdate < receiptdate). Plan: the EXISTS is a LEFT SEMI join on
# l_orderkey with the non-equi lateness predicate as join residual --
# the orders side shuffles once on the key, lineitem is never widened,
# and the date filter pushes into the orders parquet scan.
# ---------------------------------------------------------------------------

TPCH_Q4_SQL = """
  SELECT o_orderpriority AS orderpriority, COUNT(*) AS order_count
  FROM orders o
  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    )
  GROUP BY 1
  ORDER BY 1
"""


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lo = _ts_lit(orders, "o_orderdate", "1996-01-01 00:00:00")
    hi = _ts_lit(orders, "o_orderdate", "1998-01-01 00:00:00")
    in_window = orders.filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    late = (li.l_orderkey == in_window.o_orderkey) & (
        li.l_shipdate > in_window.o_orderdate + F.expr("INTERVAL 30 DAYS")
    )
    return (
        in_window.join(li, late, "left_semi")
        .groupBy(F.col("o_orderpriority").alias("orderpriority"))
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# Q5 analog: revenue by nation where the supplier is LOCAL to the
# customer (c_nationkey = s_nationkey). Plan: supplier (100 rows) and
# nation (25) broadcast; customer|x|orders|x|lineitem are the fact
# joins, hint-free so AQE picks broadcast vs sort-merge from runtime
# sizes. The local-supplier equality is a residual on the broadcast
# join, never a shuffle key.
# ---------------------------------------------------------------------------

TPCH_Q5_SQL = """
  SELECT n.n_name AS nation_name,
         COUNT(*) AS n_lines,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
  FROM customer c
  JOIN orders o   ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
  JOIN nation n   ON n.n_nationkey = s.s_nationkey
  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o.o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
  GROUP BY 1
  ORDER BY 1
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    lo = _ts_lit(orders, "o_orderdate", "1996-01-01 00:00:00")
    hi = _ts_lit(orders, "o_orderdate", "1999-01-01 00:00:00")
    joined = (
        customer.join(
            orders.filter(
                (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
            ),
            orders.o_custkey == customer.c_custkey,
        )
        .join(li, li.l_orderkey == orders.o_orderkey)
        # supplier scales with SF -- no forced broadcast; the planner
        # broadcasts it while small and falls back to a shuffle join at
        # scale instead of OOMing on an overridden hint.
        .join(
            supplier,
            (supplier.s_suppkey == li.l_suppkey)
            & (supplier.s_nationkey == customer.c_nationkey),
        )
        .join(F.broadcast(nation), nation.n_nationkey == supplier.s_nationkey)
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("double")
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Q12 analog: ship-latency buckets x priority class conditional counts
# (no l_shipmode column exists; the latency bucket is the derived
# category). Plan: one fact-fact equi-join on the order key (AQE
# decides strategy), then a 3-key hash agg -- the CASE expressions are
# codegen'd, no UDFs.
# ---------------------------------------------------------------------------

TPCH_Q12_SQL = f"""
  SELECT CASE WHEN l.l_shipdate >  o.o_orderdate + INTERVAL 90 DAY THEN 'late'
              WHEN l.l_shipdate >  o.o_orderdate + INTERVAL 30 DAY THEN 'normal'
              ELSE 'fast' END AS ship_bucket,
         CAST(SUM(CASE WHEN o.o_orderpriority IN {_HIGH_PRIORITIES!r} THEN 1 ELSE 0 END)
           AS BIGINT) AS high_line_count,
         CAST(SUM(CASE WHEN o.o_orderpriority IN {_HIGH_PRIORITIES!r} THEN 0 ELSE 1 END)
           AS BIGINT) AS low_line_count,
         COUNT(*) AS n_lines
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1
  ORDER BY 1
"""


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    bucket = (
        F.when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
            "late",
        )
        .when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
            "normal",
        )
        .otherwise("fast")
    )
    is_high = F.col("o_orderpriority").isin(*_HIGH_PRIORITIES)
    return (
        joined.groupBy(bucket.alias("ship_bucket"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q14 analog: monthly promo revenue share. Plan: lineitem |x| part on
# the part key (part comfortably broadcastable at small SF; hint-free,
# AQE decides), month derived with date_format, DECIMAL sums, and the
# share computed as ONE double division on identical operands per row.
# ---------------------------------------------------------------------------

TPCH_Q14_SQL = """
  WITH j AS (
    SELECT strftime(l.l_shipdate, '%Y-%m') AS ship_month,
           CAST(l.l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS disc_price,
           p.p_type LIKE 'PROMO%' AS is_promo
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  )
  SELECT ship_month,
         CAST(SUM(CASE WHEN is_promo THEN disc_price ELSE 0 END) AS DOUBLE)
           AS promo_revenue,
         CAST(SUM(disc_price) AS DOUBLE) AS total_revenue,
         CAST(SUM(CASE WHEN is_promo THEN disc_price ELSE 0 END) AS DOUBLE)
           / CAST(SUM(disc_price) AS DOUBLE) AS promo_share
  FROM j
  GROUP BY 1
  ORDER BY 1
"""


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    lo = _ts_lit(li, "l_shipdate", "1997-01-01 00:00:00")
    hi = _ts_lit(li, "l_shipdate", "1998-01-01 00:00:00")
    disc_price = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    j = (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(part, part.p_partkey == li.l_partkey)
        .select(
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
            disc_price.alias("disc_price"),
            F.col("p_type").startswith("PROMO").alias("is_promo"),
        )
    )
    promo_sum = F.sum(F.when(F.col("is_promo"), F.col("disc_price")).otherwise(0))
    total_sum = F.sum("disc_price")
    return (
        j.groupBy("ship_month")
        .agg(
            promo_sum.cast("double").alias("promo_revenue"),
            total_sum.cast("double").alias("total_revenue"),
            (promo_sum.cast("double") / total_sum.cast("double")).alias(
                "promo_share"
            ),
        )
    )


TPCH_MORE_QUERIES: dict[str, tuple[SparkQuery, str | None]] = {
    "tpch_q4_priority_count": (q_tpch_q4, TPCH_Q4_SQL),
    "tpch_q5_local_supplier_revenue": (q_tpch_q5, TPCH_Q5_SQL),
    "tpch_q12_ship_latency": (q_tpch_q12, TPCH_Q12_SQL),
    "tpch_q14_promo_revenue": (q_tpch_q14, TPCH_Q14_SQL),
}

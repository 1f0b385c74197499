"""Driver-contract queries over the testdata star schema.

Each registered query is a pair: a Spark ``(spark, sf_dir) -> DataFrame``
callable built from the engine's operator library, and (where SQL can
express it) an equivalent DuckDB oracle SQL string. The driver runs both
at sf=0.01 and compares row-count + schema + order-insensitive
value-hash, so every computed column is aliased identically on both
sides (lowercase).

Cross-engine numeric determinism rules used throughout:

- element-wise double arithmetic (cast, *, round) is bit-identical
  between Spark and DuckDB (IEEE-754, correctly-rounded strtod); a
  finite binary double can never sit exactly on a decimal .xx5 rounding
  boundary (0.005 has a factor-5 denominator), so HALF_EVEN (Spark
  bround / pandas) and HALF_UP agree on doubles at 2dp -- rounding mode
  is a non-issue element-wise;
- SUM over doubles is order-dependent in the last ulp, and Spark's
  partial aggregation order is nondeterministic -> every float sum is
  accumulated in DECIMAL (exact, associative) and cast back to DOUBLE;
- AVG is spelled CAST(SUM(decimal) AS DOUBLE)/COUNT so both engines
  perform one double division on identical operands.

The synthetic ``sales_raw`` table (see :func:`synth_sales_raw`) maps the
reference's sales-ETL domain onto ``lineitem`` deterministically, so the
full Q1/Q2/Q3 pipelines (reference main.py:53-179) are oracle-checkable
on driver data.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import memo
from ..operators import dedup, setops
from ..sources.testdata import load_table
from . import sales_etl

SparkQuery = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------------------
# Synthetic sales_raw: the reference's input domain derived from lineitem.
# Null/garbage injection keyed on l_partkey residues (primes) so every
# edge-case row class from FIXTURES.md section 1 appears; Sale_ID reuses
# l_orderkey so multi-line orders form natural duplicate groups.
# ---------------------------------------------------------------------------


def synth_sales_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pk = F.col("l_partkey")
    sale_id = F.when(pk % 53 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("s"), F.col("l_orderkey").cast("string"))
    )
    product = F.when(pk % 59 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(F.lit(" prod-"), F.col("l_returnflag"), F.lit(" "))
    )
    amount_num = F.col("l_extendedprice").cast("decimal(12,2)").cast("string")
    currency = (
        F.when(F.col("l_orderkey") % 3 == 0, " USD")
        .when(F.col("l_orderkey") % 3 == 1, " EUR")
        .otherwise("")
    )
    amount = F.when(pk % 61 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(amount_num, currency)
    )
    sale_date = (
        F.when(pk % 67 == 0, "not-a-date")
        .when(pk % 71 == 0, F.lit(None).cast("string"))
        .otherwise(F.date_format("l_shipdate", "yyyy-MM-dd"))
    )
    audit_date = F.when(pk % 73 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(
            F.lit("2025-"),
            F.lpad(((F.col("l_linenumber") % 4) + 1).cast("string"), 2, "0"),
            F.lit("-01"),
        )
    )
    return li.select(
        sale_id.alias("Sale_ID"),
        product.alias("Product"),
        amount.alias("Amount"),
        sale_date.alias("Date"),
        audit_date.alias("Audit_Date"),
    )


#: DuckDB rendition of the same synthetic table; kept textually adjacent
#: to the Spark builder above so the two stay in lockstep.
SALES_RAW_SQL = """
    SELECT
      CASE WHEN l_partkey % 53 = 0 THEN NULL
           ELSE 's' || CAST(l_orderkey AS VARCHAR) END                    AS Sale_ID,
      CASE WHEN l_partkey % 59 = 0 THEN NULL
           ELSE ' prod-' || l_returnflag || ' ' END                       AS Product,
      CASE WHEN l_partkey % 61 = 0 THEN NULL
           ELSE CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR)
                || (CASE l_orderkey % 3 WHEN 0 THEN ' USD'
                                        WHEN 1 THEN ' EUR' ELSE '' END) END AS Amount,
      CASE WHEN l_partkey % 67 = 0 THEN 'not-a-date'
           WHEN l_partkey % 71 = 0 THEN NULL
           ELSE strftime(l_shipdate, '%Y-%m-%d') END                      AS "Date",
      CASE WHEN l_partkey % 73 = 0 THEN NULL
           ELSE '2025-' || lpad(CAST((l_linenumber % 4) + 1 AS VARCHAR), 2, '0') || '-01' END
                                                                          AS Audit_Date
    FROM lineitem
"""

#: dedup "first" = file-arrival order made explicit: audit date, then the
#: remaining raw columns as total-order tiebreaks (rows equal on all of
#: these are interchangeable for the output).
_DEDUP_ORDER_COLS = ["Audit_Date", "Date", "Product", "Amount"]

_VALID_SALES_SQL = f"""
  WITH sales_raw AS ({SALES_RAW_SQL}),
  up AS (
    SELECT upper(Sale_ID) AS Sale_ID, Product, Amount, "Date", Audit_Date
    FROM sales_raw WHERE Sale_ID IS NOT NULL
  ),
  dedup AS (
    SELECT * FROM up
    QUALIFY row_number() OVER (
      PARTITION BY Sale_ID
      ORDER BY Audit_Date ASC NULLS LAST, "Date" ASC NULLS LAST,
               Product ASC NULLS LAST, Amount ASC NULLS LAST) = 1
  ),
  prod AS (
    SELECT Sale_ID,
           list_extract(string_split(trim(upper(Product)), '-'), -1) AS Product,
           Amount, "Date", Audit_Date
    FROM dedup WHERE Product IS NOT NULL
  ),
  -- engine money semantics: DECIMAL-exact *0.85 then HALF_EVEN at 2dp
  -- (operators/numeric.py normalize_currency). DuckDB's round_even
  -- degrades DECIMAL to DOUBLE internally, so half-even is spelled out
  -- on exact cents.
  amt0 AS (
    SELECT Sale_ID, Product, Amount AS amount_raw,
           try_cast(replace(replace(Amount,'USD',''),'EUR','') AS DECIMAL(18,2)) AS amt_dec,
           "Date", Audit_Date
    FROM prod
  ),
  amt1 AS (
    SELECT *, amt_dec * CAST(0.85 AS DECIMAL(3,2)) * 100 AS cx,
           floor(amt_dec * CAST(0.85 AS DECIMAL(3,2)) * 100) AS fx
    FROM amt0
  ),
  amt AS (
    SELECT Sale_ID, Product,
           CASE WHEN ends_with(amount_raw, 'EUR')
                THEN CAST(CASE WHEN cx - fx > 0.5 THEN fx + 1
                               WHEN cx - fx < 0.5 THEN fx
                               WHEN fx % 2 = 0 THEN fx ELSE fx + 1 END AS DOUBLE) / 100
                ELSE CAST(amt_dec AS DOUBLE)
           END AS Amount,
           "Date", Audit_Date
    FROM amt1
  ),
  amt2 AS (SELECT * FROM amt WHERE Amount IS NOT NULL),
  dated AS (
    SELECT Sale_ID, Product, Amount,
           try_cast("Date" AS TIMESTAMP) AS "Date",
           try_cast(Audit_Date AS TIMESTAMP) AS Audit_Date
    FROM amt2
  )
  SELECT Sale_ID AS sale_id, Product AS product, Amount AS amount,
         strftime("Date", '%Y-%m-%d') AS sale_date,
         strftime(Audit_Date, '%Y-%m-%d') AS audit_date
  FROM dated WHERE "Date" IS NOT NULL AND Audit_Date IS NOT NULL
"""


# Session-memoized checkpoints for the sales family (round 7): three
# registered queries re-derive the synthetic raw frame (Q1/Q2/Q3) and
# two of them additionally re-run the whole Q1 cleaning chain. The
# memo (cache.memo) materializes each once per session and lineitem
# content; a serial sweep pays the string-building and dedup window
# once.


def _sales_raw_cp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo(
        spark, "sales_raw", sf_dir, "lineitem",
        lambda: synth_sales_raw(spark, sf_dir),
    )


def _valid_sales_cp(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        order = [F.col(c).asc_nulls_last() for c in _DEDUP_ORDER_COLS]
        return sales_etl.clean_valid_sales(
            _sales_raw_cp(spark, sf_dir), order=order
        )

    return memo(spark, "sales_valid", sf_dir, "lineitem", build)


def q_clean_valid_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 (reference main.py:53-100) on the synthetic sales table."""
    valid = _valid_sales_cp(spark, sf_dir)
    out = sales_etl.format_dates_for_sink(valid)
    return out.select(
        F.col("Sale_ID").alias("sale_id"),
        F.col("Product").alias("product"),
        F.col("Amount").alias("amount"),
        F.col("Date").alias("sale_date"),
        F.col("Audit_Date").alias("audit_date"),
    )


_INVALID_SALES_SQL = f"""
  WITH sales_raw AS ({SALES_RAW_SQL}),
  base AS (
    SELECT upper(coalesce(CAST(Sale_ID AS VARCHAR), 'nan')) AS Sale_ID,
           upper(list_extract(string_split(coalesce(CAST(Product AS VARCHAR), 'nan'), '-'), -1)) AS Product,
           Amount, "Date", Audit_Date
    FROM sales_raw
  ),
  n AS (
    SELECT *, 'N' AS reason FROM base
    WHERE Sale_ID IS NULL OR Product IS NULL OR Amount IS NULL
          OR "Date" IS NULL OR Audit_Date IS NULL
  ),
  not_null AS (
    SELECT * FROM base
    WHERE NOT (Sale_ID IS NULL OR Product IS NULL OR Amount IS NULL
               OR "Date" IS NULL OR Audit_Date IS NULL)
  ),
  a AS (
    SELECT *, 'A' AS reason FROM not_null
    WHERE NOT coalesce(regexp_matches(upper(coalesce(CAST(Amount AS VARCHAR),'nan')), 'USD|EUR'), FALSE)
  ),
  rest AS (
    SELECT * FROM not_null
    WHERE coalesce(regexp_matches(upper(coalesce(CAST(Amount AS VARCHAR),'nan')), 'USD|EUR'), FALSE)
  ),
  d AS (
    SELECT *, 'D' AS reason FROM rest
    QUALIFY count(*) OVER (PARTITION BY Sale_ID) > 1
  )
  SELECT Sale_ID AS sale_id, Product AS product, Amount AS amount,
         "Date" AS sale_date, Audit_Date AS audit_date, reason
  FROM (SELECT * FROM n UNION ALL SELECT * FROM a UNION ALL SELECT * FROM d)
"""


def q_categorize_invalid_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 (reference main.py:106-151)."""
    raw = _sales_raw_cp(spark, sf_dir)
    out = sales_etl.categorize_invalid_sales(raw)
    return out.select(
        F.col("Sale_ID").alias("sale_id"),
        F.col("Product").alias("product"),
        F.col("Amount").alias("amount"),
        F.col("Date").alias("sale_date"),
        F.col("Audit_Date").alias("audit_date"),
        F.col("Reason").alias("reason"),
    )


_MONTHLY_SUMMARY_SQL = f"""
  WITH valid AS ({_VALID_SALES_SQL})
  SELECT strftime(try_cast(sale_date AS TIMESTAMP), '%m/%Y') AS mes,
         product AS producto,
         CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS ventas_totales,
         COUNT(amount) AS numero_transacciones,
         MIN(amount) AS venta_minima
  FROM valid
  GROUP BY 1, 2
  ORDER BY 1, 2
"""


def q_monthly_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 flagship (reference main.py:156-179): the sales job's own
    monthly aggregate over Q1's cleaned output, decimal-accumulated
    (see module docstring), under the lowercase names."""
    out = sales_etl.monthly_summary(_valid_sales_cp(spark, sf_dir), sort=False)
    return out.toDF(*(c.lower() for c in out.columns))


_FORMAT_DATES_SQL = """
  SELECT o_orderkey AS orderkey,
         strftime(o_orderdate, '%Y-%m-%d') AS orderdate
  FROM orders
"""


def q_format_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 (reference main.py:201-210): sink-side date stringification."""
    orders = load_table(spark, sf_dir, "orders")
    out = sales_etl.format_dates_for_sink(
        orders.select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
        ),
        cols=("orderdate",),
    )
    return out


_STRING_CLEAN_SQL = """
  SELECT p_partkey AS partkey,
         upper(trim(p_name)) AS name_upper,
         list_extract(string_split(trim(upper(p_type)), ' '), -1) AS type_last_token,
         coalesce(regexp_matches(upper(p_type), 'BRASS|COPPER'), FALSE) AS is_metal,
         ends_with(p_type, 'STEEL') AS is_steel
  FROM part
"""


def q_string_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P3/P4/P13/P14 on part (SURVEY.md section 2.2)."""
    from ..operators import strings

    part = load_table(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("partkey"),
        strings.upper(strings.trim("p_name")).alias("name_upper"),
        strings.split_last(strings.trim(strings.upper("p_type")), " ").alias(
            "type_last_token"
        ),
        strings.contains_any("p_type", "BRASS|COPPER").alias("is_metal"),
        strings.ends_with("p_type", "STEEL").alias("is_steel"),
    )


_DEDUP_KEEP_FIRST_SQL = """
  SELECT o_custkey AS custkey, o_orderkey AS orderkey,
         o_totalprice AS totalprice
  FROM orders
  QUALIFY row_number() OVER (
    PARTITION BY o_custkey
    ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC NULLS FIRST) = 1
"""


def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 deterministic keep-first (reference main.py:63) generalized:
    first order per customer by (orderdate, orderkey)."""
    orders = load_table(spark, sf_dir, "orders")
    out = dedup.dedup_keep_first(
        orders,
        ["o_custkey"],
        [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
    )
    return out.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_totalprice").alias("totalprice"),
    )


_DUP_GROUPS_SQL = """
  SELECT o_orderkey AS orderkey, o_custkey AS custkey
  FROM orders
  QUALIFY count(*) OVER (PARTITION BY o_custkey) > 1
"""


def q_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 flag-all-members (reference main.py:136): every order of a
    customer having >1 order."""
    orders = load_table(spark, sf_dir, "orders")
    out = dedup.rows_in_dup_groups(orders, ["o_custkey"])
    return out.select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_custkey").alias("custkey"),
    )


_UNION_BY_NAME_SQL = """
  SELECT n_nationkey AS nationkey, n_name AS name,
         CAST(NULL AS INTEGER) AS regionkey
  FROM nation WHERE n_regionkey < 2
  UNION ALL
  SELECT n_nationkey, NULL, n_regionkey
  FROM nation WHERE n_regionkey >= 2
"""


def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 (reference main.py:141): union-by-name with missing columns
    null-filled, duplicates kept."""
    nation = load_table(spark, sf_dir, "nation")
    left = nation.filter(F.col("n_regionkey") < 2).select(
        F.col("n_nationkey").alias("nationkey"), F.col("n_name").alias("name")
    )
    right = nation.filter(F.col("n_regionkey") >= 2).select(
        F.col("n_nationkey").alias("nationkey"),
        F.col("n_regionkey").alias("regionkey"),
    )
    return setops.union_by_name([left, right])


_ORDERS_MONTHLY_SQL = """
  SELECT strftime(o_orderdate, '%m/%Y') AS mes,
         o_orderpriority AS producto,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS ventas_totales,
         COUNT(o_totalprice) AS numero_transacciones,
         MIN(o_totalprice) AS venta_minima
  FROM orders
  GROUP BY 1, 2
  ORDER BY 1, 2
"""


def q_orders_monthly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2+P16 directly on orders: the monthly-summary shape applied
    to a driver table (month key x priority, sum/count/min)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("mes", F.date_format("o_orderdate", "MM/yyyy"))
        .groupBy(F.col("mes"), F.col("o_orderpriority").alias("producto"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("ventas_totales"),
            F.count("o_totalprice").alias("numero_transacciones"),
            F.min("o_totalprice").alias("venta_minima"),
        )
    )


# ---------------------------------------------------------------------------
# Registry: name -> (spark callable, oracle SQL or None)
# ---------------------------------------------------------------------------

QUERIES: dict[str, tuple[SparkQuery, str | None]] = {
    # Layer A: the reference's operator surface (SURVEY.md section 2)
    "clean_valid_sales": (q_clean_valid_sales, _VALID_SALES_SQL),
    "categorize_invalid_sales": (q_categorize_invalid_sales, _INVALID_SALES_SQL),
    "monthly_summary": (q_monthly_summary, _MONTHLY_SUMMARY_SQL),
    "format_dates_for_sink": (q_format_dates, _FORMAT_DATES_SQL),
    "string_cleaning": (q_string_cleaning, _STRING_CLEAN_SQL),
    "dedup_keep_first": (q_dedup_keep_first, _DEDUP_KEEP_FIRST_SQL),
    "dup_flag_groups": (q_dup_groups, _DUP_GROUPS_SQL),
    "union_by_name": (q_union_by_name, _UNION_BY_NAME_SQL),
    "orders_monthly_agg": (q_orders_monthly_agg, _ORDERS_MONTHLY_SQL),
}


def _register_extensions() -> None:
    """Merge Layer B registries (analytics, text/dedup/similarity) into
    QUERIES after Layer A, in the order below."""
    from .advanced_queries import ADVANCED_QUERIES
    from .analytics_queries import ANALYTICS_QUERIES
    from .array_queries import ARRAY_QUERIES
    from .incremental_queries import INCREMENTAL_QUERIES
    from .scale_queries import SCALE_QUERIES
    from .sql_interface import SQL_INTERFACE_QUERIES
    from .temporal_queries import TEMPORAL_QUERIES
    from .tpch_more import TPCH_MORE_QUERIES
    from .tpch_partsupp import TPCH_PARTSUPP_QUERIES
    from .tpch_suite2 import TPCH_SUITE2_QUERIES
    from .window_queries import WINDOW_QUERIES

    QUERIES.update(ANALYTICS_QUERIES)
    QUERIES.update(ADVANCED_QUERIES)
    QUERIES.update(ARRAY_QUERIES)
    QUERIES.update(INCREMENTAL_QUERIES)
    QUERIES.update(SQL_INTERFACE_QUERIES)
    QUERIES.update(TEMPORAL_QUERIES)
    QUERIES.update(TPCH_MORE_QUERIES)
    QUERIES.update(TPCH_PARTSUPP_QUERIES)
    QUERIES.update(TPCH_SUITE2_QUERIES)
    QUERIES.update(WINDOW_QUERIES)
    QUERIES.update(SCALE_QUERIES)
    # Fail-loudly stance (SURVEY.md §2.7): a broken module inside the
    # function-family registry must raise here, not silently shrink
    # ``queries()`` to the ~45 Layer-A survivors — the driver would
    # happily verify the survivors and never notice ~110 missing
    # entries. (This was an ``except ImportError: pass`` until r10.)
    from ..functions.registry import FUNCTION_QUERIES

    QUERIES.update(FUNCTION_QUERIES)


_register_extensions()

# Registry-size floor: the 186 queries registered today. If a refactor
# ever drops a whole family, fail at import time rather than letting a
# caller verify a shrunken registry.
_REGISTRY_FLOOR = 186
if len(QUERIES) < _REGISTRY_FLOOR:  # pragma: no cover - tripwire
    raise RuntimeError(
        f"query registry shrank: {len(QUERIES)} < {_REGISTRY_FLOOR} — "
        "a family module failed to merge"
    )

"""The reference's composite queries Q1-Q4 (SURVEY.md section 2.6) as
lazy DataFrame -> DataFrame combinators.

Chain with ``df.transform(clean_valid_sales)`` etc.; each returns an
unexecuted plan, so Catalyst fuses the whole cleaning chain into one
stage (scan -> codegen'd filter/project) plus exactly one shuffle per
dedup/aggregate -- versus the reference's ~20 eager intermediate
materializations (main.py:53-179).

Key cross-cutting semantics preserved (SURVEY.md section 1.5):
- valid and invalid outputs OVERLAP (a bare-numeric Amount row is valid
  AND flagged Reason='A'); the two pipelines are independent scans, not
  a partition of the input.
- Reason precedence N > A > D: each tier sees only rows the previous
  tiers rejected.
- duplicate input rows are kept verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators import dates, dedup, nulls, numeric, strings

def clean_valid_sales(df: DataFrame, order: list | None = None) -> DataFrame:
    """Q1 -- the valid-sales cleaning pipeline (reference main.py:53-100).

    Steps (order matters; it is the reference's):
    1. Sale_ID upper, drop nulls, dedup keep-first (main.py:59-63);
    2. Product upper+trim+token-after-last-dash, drop nulls (main.py:67-69);
    3. Amount currency-normalize (strip USD/EUR, parse, EUR*0.85,
       bround 2), drop nulls (main.py:75-87) -- note a bare numeric
       Amount parses fine and is KEPT (the valid/invalid overlap);
    4. Date & Audit_Date coercing parse, drop nulls (main.py:92-97).

    ``order`` declares what "first" means for the dedup; the default
    ``(Audit_Date-as-timestamp, Date)`` approximates the reference's
    file-arrival order (files are named by audit date). Passing an
    explicit ingest-order column is the 100 TB-safe choice.
    """
    if order is None:
        order = [
            dates.to_timestamp_coerce("Audit_Date").asc_nulls_last(),
            F.col("Date").asc_nulls_last(),
        ]
    out = df.withColumn("Sale_ID", strings.upper("Sale_ID"))
    out = nulls.drop_null(out, "Sale_ID")
    out = dedup.dedup_keep_first(out, ["Sale_ID"], order)
    out = out.withColumn(
        "Product", strings.split_last(strings.trim(strings.upper("Product")))
    )
    out = nulls.drop_null(out, "Product")
    out = out.withColumn("Amount", numeric.normalize_currency("Amount"))
    out = nulls.drop_null(out, "Amount")
    out = out.withColumn("Date", dates.to_timestamp_coerce("Date"))
    out = out.withColumn("Audit_Date", dates.to_timestamp_coerce("Audit_Date"))
    return nulls.drop_null(out, "Date", "Audit_Date")


def categorize_invalid_sales(df: DataFrame) -> DataFrame:
    """Q2 -- invalid-sales categorization (reference main.py:106-151),
    one pass over the input and one shuffle, duplicate rows kept
    verbatim.

    Sale_ID and Product are normalized first (main.py:112-113:
    ``astype(str).str.upper()`` and
    ``astype(str).str.split('-').str[-1].str.upper()``), with the
    pandas quirk where NULL becomes the string 'NAN': Sale_ID/Product
    nulls are invisible to the any-null check (main.py:119 --
    golden-verified).

    Tier precedence N > A > D, as a single ``when`` cascade:
    - N: any column NULL (after the 'NAN' stringification, main.py:119);
    - A: among non-null rows, Amount string lacks USD/EUR (main.py:127-131);
    - D: among currency-valid rows, every member of a Sale_ID group with
      >1 row (main.py:136-138) -- ONE window on Sale_ID counts only the
      rows that passed N and A.

    The reference concatenates the N, A and D rows in that order; a
    sink that must reproduce the grouping sorts on the tier (see
    plans/pipeline.run_sales_pipeline).
    """
    sid, prod = strings.cast_str_nan("Sale_ID"), strings.cast_str_nan("Product")
    base = df.withColumn("Sale_ID", strings.upper(sid)).withColumn(
        "Product", strings.upper(strings.split_last(prod))
    )

    is_null = nulls.any_null(base.columns)
    amount_str = strings.upper(strings.cast_str_nan("Amount"))
    bad_amount = ~strings.contains_any(amount_str, "USD|EUR")
    survives_na = ~is_null & ~bad_amount

    w = Window.partitionBy("Sale_ID")
    dup_cnt = F.sum(F.when(survives_na, 1).otherwise(0)).over(w)

    reason = (
        F.when(is_null, "N")
        .when(bad_amount, "A")
        .when(dup_cnt > 1, "D")
    )
    return (
        base.withColumn("Reason", reason)
        .filter(F.col("Reason").isNotNull())
    )


def monthly_summary(df_valid: DataFrame, sort: bool = True) -> DataFrame:
    """Q3 -- monthly aggregate over the CLEANED valid sales (reference
    main.py:156-179; consumes Q1's output, not the raw input).

    groupBy (Mes='MM/yyyy', Product) -> sum/count/min of Amount with the
    reference's output names. Spark runs this as partial (map-side) +
    final hash aggregation: one shuffle on the group keys.

    ``Amount`` must hold whole cents, as Q1's normalize_currency leaves
    it, so the sum accumulates exactly in DECIMAL(18,2) and casts back
    to double: a double sum depends on the partial aggregation order
    and prints '7423.1100000000015' for 7423.11.

    ``sort=True`` appends the reference's LEXICOGRAPHIC (Mes, Producto)
    order -- pandas groupby(sort=True), golden-verified '01/2024' <
    '01/2025' < '02/2024' (SURVEY.md A2). Spark groupBy guarantees no
    order, so the sort is explicit and skippable at scale.
    """
    out = (
        df_valid.withColumn("Mes", dates.month_key("Date"))
        .groupBy(F.col("Mes"), F.col("Product").alias("Producto"))
        .agg(
            F.sum(F.col("Amount").cast("decimal(18,2)"))
            .cast("double")
            .alias("Ventas_Totales"),
            F.count("Amount").alias("Numero_Transacciones"),
            F.min("Amount").alias("Venta_Minima"),
        )
    )
    return out.orderBy("Mes", "Producto") if sort else out


def format_dates_for_sink(df: DataFrame, cols: tuple[str, ...] = ("Date", "Audit_Date")) -> DataFrame:
    """Q4 -- sink-side date stringification (reference main.py:201-210):
    coercing parse then 'yyyy-MM-dd' string, for whichever of the given
    columns exist. Applied once per sink write, like the reference
    (main.py:216,223)."""
    from pyspark.sql import types as T

    out = df
    for c in cols:
        if c in df.columns:
            col = F.col(c)
            if isinstance(df.schema[c].dataType, T.StringType):
                col = dates.to_timestamp_coerce(col)
            out = out.withColumn(c, dates.iso_date(col))
    return out

"""End-to-end invariants of the sales-ETL pipelines on a fixture that
reproduces every edge-case row class from FIXTURES.md section 1.

These assert the reference's *semantic* invariants (golden-file
behavior classes) rather than specific golden rows, since the
reference's raw inputs are not committed (reference .gitignore:27-29).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_sales_pandas_sqlserver_spark.plans import sales_etl

COLS = ["Sale_ID", "Product", "Amount", "Date", "Audit_Date"]

FIXTURE = [
    # 1. fully clean row (valid only)
    ("clean1", "KIT-A", "100.00 USD", "2024-01-05", "2025-01-01"),
    # 2a. null Amount -> Reason N
    ("nullamt", "KIT-B", None, "2024-01-06", "2025-01-01"),
    # 2b. null Date -> Reason N (twice: duplicate N rows preserved)
    ("nulldate", "KIT-C", "5.00 USD", None, "2025-01-01"),
    ("nulldate", "KIT-C", "5.00 USD", None, "2025-01-01"),
    # 2c. null Product: hidden from N by 'NAN' stringification; bare
    #     amount -> surfaces under Reason A with Product='NAN'
    ("nullprod", None, "549.48", "2024-02-01", "2025-01-01"),
    # 3. bare numeric amount: VALID (kept) and also Reason A (overlap)
    ("overlap", "KIT-D", "224.12", "2024-03-01", "2025-02-01"),
    # 4. duplicated Sale_ID among currency-valid rows: all copies D,
    #    exactly one kept in valid
    ("dupkey", "KIT-E", "10.00 USD", "2024-04-01", "2025-01-01"),
    ("dupkey", "KIT-E", "20.00 USD", "2024-04-02", "2025-02-01"),
    # 6. EUR half-even rounding tie (16577.10*0.85 = 14090.535)
    ("eurtie", "KIT-F", "16577.10 EUR", "2024-05-01", "2025-03-01"),
    # 7. mixed case / padded product and id (lowercase id, padded product)
    ("padded", "  kit-g  ", "30.00 USD", "2024-06-01", "2025-03-01"),
    # garbage date -> dropped from valid, not null so NOT Reason N
    ("baddate", "KIT-H", "40.00 USD", "not-a-date", "2025-03-01"),
]


@pytest.fixture(scope="module")
def raw(spark):
    df = spark.createDataFrame(FIXTURE, COLS)
    return df.withColumn("Sale_ID", F.upper("Sale_ID"))


@pytest.fixture(scope="module")
def valid(raw):
    order = [F.col(c).asc_nulls_last() for c in ["Audit_Date", "Date", "Amount"]]
    return sales_etl.clean_valid_sales(raw, order=order).cache()


@pytest.fixture(scope="module")
def invalid(raw):
    return sales_etl.categorize_invalid_sales(raw).cache()


def test_valid_membership(valid):
    ids = {r["Sale_ID"] for r in valid.select("Sale_ID").collect()}
    assert ids == {"CLEAN1", "OVERLAP", "DUPKEY", "EURTIE", "PADDED"}


def test_valid_keep_first_on_dup(valid):
    row = valid.filter(F.col("Sale_ID") == "DUPKEY").first()
    assert row["Amount"] == 10.0  # Audit_Date 2025-01-01 wins


def test_valid_product_cleaning(valid):
    row = valid.filter(F.col("Sale_ID") == "PADDED").first()
    assert row["Product"] == "G"  # upper+trim+token-after-last-dash


def test_eur_half_even_tie(valid):
    row = valid.filter(F.col("Sale_ID") == "EURTIE").first()
    assert row["Amount"] == 14090.54


def test_overlap_invariant(valid, invalid):
    """SURVEY.md 1.5: a bare-numeric Amount row is in BOTH outputs."""
    assert valid.filter(F.col("Sale_ID") == "OVERLAP").count() == 1
    inv = invalid.filter(F.col("Sale_ID") == "OVERLAP").collect()
    assert len(inv) == 1 and inv[0]["Reason"] == "A"


def test_reason_histogram(invalid):
    hist = {
        r["Reason"]: r["n"]
        for r in invalid.groupBy("Reason").agg(F.count("*").alias("n")).collect()
    }
    # N: nullamt + nulldate x2 ; A: nullprod (NAN) + overlap ; D: dupkey x2
    assert hist == {"N": 3, "A": 2, "D": 2}


def test_null_product_surfaces_as_nan_under_a(invalid):
    rows = invalid.filter(F.col("Sale_ID") == "NULLPROD").collect()
    assert len(rows) == 1
    assert rows[0]["Reason"] == "A" and rows[0]["Product"] == "NAN"


def test_duplicate_null_rows_preserved(invalid):
    assert invalid.filter(F.col("Sale_ID") == "NULLDATE").count() == 2


def test_garbage_date_not_reason_n(invalid, valid):
    # 'not-a-date' is a non-null STRING: invisible to the any-null check
    assert invalid.filter(F.col("Sale_ID") == "BADDATE").count() == 0
    # but dropped from valid by the coercing parse + null filter
    assert valid.filter(F.col("Sale_ID") == "BADDATE").count() == 0


def test_monthly_summary_lexicographic_sort(spark, valid):
    out = sales_etl.monthly_summary(valid)
    rows = out.collect()
    keys = [(r["Mes"], r["Producto"]) for r in rows]
    assert keys == sorted(keys)  # pandas groupby(sort=True) parity
    a = {(r["Mes"], r["Producto"]): r for r in rows}
    tot = a[("01/2024", "A")]
    assert tot["Ventas_Totales"] == 100.0
    assert tot["Numero_Transacciones"] == 1
    assert tot["Venta_Minima"] == 100.0


def test_format_dates_for_sink(valid):
    out = sales_etl.format_dates_for_sink(valid)
    row = out.filter(F.col("Sale_ID") == "CLEAN1").first()
    assert row["Date"] == "2024-01-05" and row["Audit_Date"] == "2025-01-01"

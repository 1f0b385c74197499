from .pipeline import run_sales_pipeline
from .sales_etl import (
    clean_valid_sales,
    categorize_invalid_sales,
    monthly_summary,
    format_dates_for_sink,
)

__all__ = [
    "clean_valid_sales",
    "categorize_invalid_sales",
    "monthly_summary",
    "format_dates_for_sink",
    "run_sales_pipeline",
]

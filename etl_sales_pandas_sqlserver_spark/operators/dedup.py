"""Deduplication operators (SURVEY.md section 2.3: D1, D2).

Scale notes: both shapes shuffle once on the key set. The window
variants use a single hash-partition exchange; at 100 TB, skewed keys
are handled by AQE skew-join/aggregation splitting (Spark 4 defaults,
see session.py). ``dedup_keep_first`` with an explicit order column is
the deterministic default -- pandas' keep='first' depends on os.listdir
order (reference etl_utils.py:183), which is unspecified; at cluster
scale "first seen" is meaningless without a declared ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_keep_first(df: DataFrame, keys: list[str], order: list) -> DataFrame:
    """D1 deterministic variant -- pandas
    ``drop_duplicates(subset=keys, keep='first')`` (reference
    main.py:63) with the arrival order made explicit. ``order`` is a
    list of columns / Column expressions defining "first"."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def flag_dup_groups(df: DataFrame, keys: list[str]) -> DataFrame:
    """D2 -- pandas ``duplicated(subset=keys, keep=False)`` (reference
    main.py:136): mark EVERY row whose key group has >1 member in
    ``__is_dup``. ``count(*) over (partition by keys)`` -- one shuffle,
    no sort (unbounded frame aggregates don't need an ordered window)."""
    w = Window.partitionBy(*keys)
    return df.withColumn("__is_dup", F.count(F.lit(1)).over(w) > 1)


def rows_in_dup_groups(df: DataFrame, keys: list[str]) -> DataFrame:
    """D2 filter form: only the rows belonging to duplicate groups."""
    flagged = flag_dup_groups(df, keys)
    return flagged.filter(F.col("__is_dup")).drop("__is_dup")

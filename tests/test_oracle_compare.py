"""Pandas-only checks of the one oracle comparator, ``compare_frames``:
what it must treat as equal, and that each mismatch names its column;
and of the ``run_oracle`` memo."""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import oracle_compare
from .oracle_compare import compare_frames, run_oracle


def test_nan_equals_none():
    spark = pd.DataFrame({"v": [1.5, np.nan], "k": ["a", "b"]})
    oracle = pd.DataFrame({"v": pd.Series([1.5, None], dtype=object),
                           "k": ["a", "b"]})
    assert compare_frames(spark, oracle) == []


def test_column_names_compare_case_insensitively():
    spark = pd.DataFrame({"Total": [3], "k": ["a"]})
    oracle = pd.DataFrame({"k": ["a"], "total": [3]})
    assert compare_frames(spark, oracle) == []


def test_list_cell_equals_ndarray_cell():
    spark = pd.DataFrame({"vec": [[1.0, 2.0], [3.0]]})
    oracle = pd.DataFrame({"vec": [np.array([3.0]), np.array([1.0, 2.0])]})
    assert compare_frames(spark, oracle) == []


def test_same_distinct_rows_with_different_counts_mismatch():
    problems = compare_frames(
        pd.DataFrame({"k": ["A", "A", "B"]}), pd.DataFrame({"k": ["A", "B", "B"]})
    )
    assert len(problems) == 1 and "k[row 1]" in problems[0], problems


def test_missing_column_mismatch():
    problems = compare_frames(
        pd.DataFrame({"k": ["A"], "n": [1]}), pd.DataFrame({"k": ["A"]})
    )
    assert problems == ["columns: spark=['k', 'n'] oracle=['k']"]


def test_one_changed_value_mismatch():
    problems = compare_frames(
        pd.DataFrame({"k": ["A", "B"], "n": [1, 2]}),
        pd.DataFrame({"k": ["A", "B"], "n": [1, 3]}),
    )
    assert problems == ["value mismatches: n[row 1]: spark=2 oracle=3"]


def test_oracle_memo_reruns_after_a_table_rewrite(tmp_path):
    sf, sql = str(tmp_path), "SELECT count(*) AS n FROM region"
    for n in (2, 3):
        pd.DataFrame({"r_regionkey": range(n)}).to_parquet(f"{sf}/region.parquet")
        misses = len(oracle_compare._RESULTS)
        assert run_oracle(sql, sf)["n"].tolist() == [n]
        assert run_oracle(sql, sf)["n"].tolist() == [n]
        assert len(oracle_compare._RESULTS) == misses + 1

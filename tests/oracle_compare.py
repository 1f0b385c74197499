"""The one Spark-vs-DuckDB oracle compare: row count + column set +
order-insensitive value comparison, the driver's definition of
"oracle-equal".

Used by the parity gate (tests/test_oracle_parity.py), the hostile
suites, ``tools/hostile_sweep.py`` and ``tests/driver_sim.py``.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

from etl_sales_pandas_sqlserver_spark.cache import source_tag
from etl_sales_pandas_sqlserver_spark.schemas import TESTDATA_TABLES


_CONNS: dict[str, duckdb.DuckDBPyConnection] = {}
_RESULTS: dict[tuple, pd.DataFrame] = {}


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Shared per-SF DuckDB connection with the testdata views mounted
    (only the tables present: a view over a missing parquet raises)."""
    con = _CONNS.get(sf_dir)
    if con is None:
        con = duckdb.connect()
        for name in TESTDATA_TABLES:
            path = f"{sf_dir}/{name}.parquet"
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        _CONNS[sf_dir] = con
    return con


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    """The oracle's result for ``sql`` on ``sf_dir``, memoized per
    process on the SQL and the ``cache.source_tag`` of every table
    there, so a rewritten table re-runs it. A copy is returned."""
    key = (sql, sf_dir, tuple(source_tag(sf_dir, t) for t in TESTDATA_TABLES))
    hit = _RESULTS.get(key)
    if hit is None:
        hit = _RESULTS[key] = oracle_connection(sf_dir).execute(sql).df()
    return hit.copy()


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    # canonicalize cell values to hashable, float-tolerant forms
    for c in df.columns:
        df[c] = df[c].map(_canon_value)
    return df.sort_values(by=list(df.columns), key=lambda s: s.map(str)).reset_index(
        drop=True
    )


def _canon_value(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        # driver hashes exact values; we keep full precision and rely on
        # the engine determinism rules in plans/testdata_queries.py
        return v
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return v


def compare(spark_df, oracle_df: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty == parity)."""
    return compare_frames(spark_df.toPandas(), oracle_df)


def compare_frames(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """``compare`` over two pandas frames (Spark side already
    collected)."""
    problems: list[str] = []
    if len(sdf) != len(odf):
        problems.append(f"row count: spark={len(sdf)} oracle={len(odf)}")
    scols = sorted(c.lower() for c in sdf.columns)
    ocols = sorted(c.lower() for c in odf.columns)
    if scols != ocols:
        problems.append(f"columns: spark={scols} oracle={ocols}")
        return problems
    a, b = _canonical(sdf), _canonical(odf)
    if len(a) == len(b):
        neq = []
        for c in a.columns:
            av, bv = a[c], b[c]
            col_eq = av.combine(
                bv, lambda x, y: (x is None and y is None) or _val_eq(x, y)
            )
            if not col_eq.all():
                idx = col_eq[~col_eq].index[0]
                neq.append(f"{c}[row {idx}]: spark={av[idx]!r} oracle={bv[idx]!r}")
        if neq:
            problems.append("value mismatches: " + "; ".join(neq[:5]))
    return problems


def _val_eq(x, y) -> bool:
    # a float column turns _canon_value's None back into NaN
    if isinstance(x, float) and isinstance(y, float):
        return x == y or (math.isnan(x) and math.isnan(y))
    return x == y


def compare_query(spark, name: str, sf_dir: str) -> list[str]:
    """``compare`` for registered query ``name`` on ``sf_dir``."""
    import __spark_entry__ as e

    return compare(
        e.queries()[name](spark, sf_dir), run_oracle(e.oracle_sql()[name], sf_dir)
    )

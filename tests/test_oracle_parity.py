"""Pre-validate every queries()/oracle_sql() pair exactly the way the
driver will: run the Spark query and the DuckDB oracle on the same
parquet tables, compare row-count + columns + order-insensitive values.

Runs at sf0.001 by default (fast dev loop) with ANSI on, as the driver
does; point SPARK_GRAFT_SF_SMALL at the sf0.01 testdata to match the
driver's scale.
"""

from __future__ import annotations

import pytest

from etl_sales_pandas_sqlserver_spark.plans.testdata_queries import QUERIES

from .oracle_compare import compare, run_oracle

CASES = [(name, fn, sql) for name, (fn, sql) in QUERIES.items() if sql is not None]


@pytest.mark.parametrize("name,fn,sql", CASES, ids=[c[0] for c in CASES])
def test_oracle_parity(spark, sf_small, name, fn, sql):
    sdf = fn(spark, sf_small)
    odf = run_oracle(sql, sf_small)
    problems = compare(sdf, odf)
    assert not problems, f"{name}: {problems}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == [
        "mes",
        "producto",
        "ventas_totales",
        "numero_transacciones",
        "venta_minima",
    ]


def test_registry_consistency():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o).issubset(set(q))
    assert q, "queries() must not be empty"
    # Pin the registry floor (186 = r14 count). A broken family import
    # must raise at import time, never shrink queries() silently.
    assert len(q) >= 186, f"registry shrank to {len(q)}"
    # Plain registration order: Layer A (the reference's operators)
    # first, then the families in merge order. No reordering.
    assert list(q)[:9] == [
        "clean_valid_sales",
        "categorize_invalid_sales",
        "monthly_summary",
        "format_dates_for_sink",
        "string_cleaning",
        "dedup_keep_first",
        "dup_flag_groups",
        "union_by_name",
        "orders_monthly_agg",
    ]
    assert list(q) == list(QUERIES)


def test_broken_family_import_raises():
    """r10 (r9 verdict #3): a broken module inside the function-family
    registry must make the registry import RAISE, not silently shrink
    queries() to the Layer-A survivors (the old ``except ImportError:
    pass`` did exactly that)."""
    import importlib
    import sys

    import etl_sales_pandas_sqlserver_spark.plans.testdata_queries as tq

    reg = "etl_sales_pandas_sqlserver_spark.functions.registry"
    saved = sys.modules.pop(reg)
    # None in sys.modules makes any import of the name raise ImportError
    sys.modules[reg] = None
    try:
        with pytest.raises(ImportError):
            importlib.reload(tq)
    finally:
        sys.modules[reg] = saved
        importlib.reload(tq)
    assert len(tq.QUERIES) >= 186


def test_synth_partsupp_matches_cte_and_tpch_shape(spark, sf_small):
    """The derived partsupp frame and its DuckDB CTE twin must stay in
    lockstep (every partsupp-family oracle embeds the CTE), and the
    TPC-H shape invariant -- exactly 4 distinct suppliers per part --
    must hold."""
    from pyspark.sql import functions as F

    from etl_sales_pandas_sqlserver_spark.plans.tpch_partsupp import (
        PARTSUPP_CTE,
    )
    from etl_sales_pandas_sqlserver_spark.sources.testdata import (
        synth_partsupp,
    )

    sdf = synth_partsupp(spark, sf_small)
    odf = run_oracle(
        f"WITH {PARTSUPP_CTE} SELECT * FROM partsupp", sf_small
    )
    assert not compare(sdf, odf)
    bad = (
        sdf.groupBy("ps_partkey")
        .agg(F.count_distinct("ps_suppkey").alias("k"))
        .filter(F.col("k") != 4)
        .count()
    )
    assert bad == 0

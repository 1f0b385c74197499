"""Integration tests for the JDBC sink (S4, reference
etl_utils.py:134-160) against embedded Apache Derby -- the JDBC-capable
database Spark already ships (its Hive-metastore backend), so the REAL
write path runs: DDL creation, mode mapping (overwrite == pandas
``if_exists='replace'``, append == append), batched inserts, and option
plumbing. No SQL Server exists in this environment; the URL builder for
it is unit-tested in tests/test_sources.py.
"""

from __future__ import annotations

import pytest

from etl_sales_pandas_sqlserver_spark.sources.sinks import write_jdbc

_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
_URL = "jdbc:derby:memory:etltest;create=true"
_OPTS = {"driver": _DRIVER}


def _read_back(spark, table: str):
    return (
        spark.read.format("jdbc")
        .option("url", _URL)
        .option("dbtable", table)
        .option("driver", _DRIVER)
        .load()
    )


@pytest.fixture()
def sales_df(spark):
    return spark.createDataFrame(
        [("A1", "KIT", 10.5), ("A2", "BOX", 20.0), ("A3", "BAG", 30.25)],
        ["sale_id", "product", "amount"],
    )


def test_write_jdbc_overwrite_replaces_table(spark, sales_df):
    write_jdbc(sales_df, _URL, "sales_ow", mode="overwrite", options=_OPTS)
    assert _read_back(spark, "sales_ow").count() == 3
    # replace semantics: a second overwrite drops + recreates, no
    # accumulation (reference if_exists='replace', etl_utils.py:156)
    write_jdbc(sales_df.limit(2), _URL, "sales_ow", mode="overwrite", options=_OPTS)
    out = _read_back(spark, "sales_ow")
    assert out.count() == 2
    assert set(out.columns) == {"sale_id", "product", "amount"}


def test_write_jdbc_append_accumulates(spark, sales_df):
    write_jdbc(sales_df, _URL, "sales_ap", mode="overwrite", options=_OPTS)
    write_jdbc(sales_df, _URL, "sales_ap", mode="append", options=_OPTS)
    assert _read_back(spark, "sales_ap").count() == 6


def test_write_jdbc_batch_options_plumb_through(spark, sales_df):
    """batchsize/numPartitions are the scale knobs -- assert they pass
    through the writer without being dropped (a bad option name would
    throw; a honored numPartitions shows as 2 write tasks)."""
    write_jdbc(
        sales_df.repartition(4),
        _URL,
        "sales_batch",
        mode="overwrite",
        options={**_OPTS, "batchsize": "2", "numPartitions": "2"},
    )
    out = _read_back(spark, "sales_batch")
    assert out.count() == 3
    values = {r["sale_id"] for r in out.collect()}
    assert values == {"A1", "A2", "A3"}


def test_pipeline_jdbc_load(spark, tmp_path):
    """run_sales_pipeline with a jdbc config loads all three reference
    tables over JDBC (the to_sql loop, reference main.py:215-217)."""
    from etl_sales_pandas_sqlserver_spark.plans.pipeline import run_sales_pipeline

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "2025-01-01.csv").write_text(
        "Sale_ID,Product,Amount,Date\n"
        "a1,K-A,1.00 USD,2024-01-01\n"
        "a2,K-B,2.00 EUR,2024-01-02\n"
    )
    res = run_sales_pipeline(
        spark,
        str(indir),
        str(tmp_path / "out"),
        jdbc={"url": _URL, "mode": "overwrite", "options": _OPTS},
    )
    assert res["metrics"]["valid"]["rows"] == 2
    for table in ("Ventas_Validas_M", "Ventas_Invalidas_M", "Ventas_Resumen_Mensual"):
        # Derby folds unquoted identifiers to uppercase on both write
        # and read, so the unquoted name round-trips
        db = _read_back(spark, table)
        csv_rows = res["metrics"][
            {"Ventas_Validas_M": "valid", "Ventas_Invalidas_M": "invalid",
             "Ventas_Resumen_Mensual": "summary"}[table]
        ]["rows"]
        assert db.count() == csv_rows


def test_write_jdbc_roundtrip_values(spark, sales_df):
    write_jdbc(sales_df, _URL, "sales_vals", mode="overwrite", options=_OPTS)
    got = {
        (r["sale_id"], r["product"], r["amount"])
        for r in _read_back(spark, "sales_vals").collect()
    }
    assert got == {("A1", "KIT", 10.5), ("A2", "BOX", 20.0), ("A3", "BAG", 30.25)}


def test_if_exists_mode_mapping_contract():
    """The reference's pandas ``if_exists`` values map onto Spark JDBC
    writer modes exactly as documented (reference etl_utils.py:134-160
    uses 'replace' for Ventas_Validas/Invalidas and 'append' for the
    monthly summary)."""
    from etl_sales_pandas_sqlserver_spark.sources.sinks import (
        pandas_if_exists_mapping,
    )

    assert pandas_if_exists_mapping("replace") == "overwrite"
    assert pandas_if_exists_mapping("append") == "append"
    assert pandas_if_exists_mapping("fail") == "errorifexists"
    with pytest.raises(ValueError):
        pandas_if_exists_mapping("upsert")


def test_overwrite_truncate_keeps_ddl_overwrite_recreates(spark, sales_df):
    """Against live Derby: plain overwrite drops + recreates DDL (the
    pandas 'replace' twin), overwrite+truncate reuses it. Probe: widen
    a column's DDL by hand; the truncate path must keep the widened
    type, the plain path must regenerate the narrow one."""
    from py4j.java_gateway import java_import

    write_jdbc(sales_df, _URL, "sales_ddl", mode="overwrite", options=_OPTS)
    jvm = spark.sparkContext._jvm
    java_import(jvm, "java.sql.DriverManager")
    conn = jvm.java.sql.DriverManager.getConnection(_URL)
    try:
        st = conn.createStatement()
        st.execute("ALTER TABLE sales_ddl ADD COLUMN extra_ddl INTEGER")
        st.close()
        # truncate path: DDL (incl. the hand-added column) survives
        write_jdbc(
            sales_df.limit(1),
            _URL,
            "sales_ddl",
            mode="overwrite",
            options={**_OPTS, "truncate": "true"},
        )
        out = _read_back(spark, "sales_ddl")
        assert out.count() == 1
        assert "extra_ddl" in {c.lower() for c in out.columns}
        # plain overwrite: drop + recreate from the DataFrame schema,
        # hand-added column gone (== pandas if_exists='replace')
        write_jdbc(
            sales_df.limit(2), _URL, "sales_ddl", mode="overwrite", options=_OPTS
        )
        out = _read_back(spark, "sales_ddl")
        assert out.count() == 2
        assert "extra_ddl" not in {c.lower() for c in out.columns}
    finally:
        conn.close()

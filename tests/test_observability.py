"""End-to-end `run_sales_pipeline` (reference main.py:184-224 flow) +
observe()-based row-count metrics (reference etl_utils.py:10-31 logging,
'filas=%d' call sites main.py:99,146,174).

The CSV folder reproduces tests/test_sales_pipeline.py's fixture row
classes, partitioned into files by audit date the way the reference's
input folder is (etl_utils.py:183-190), so the whole S1 -> Q1/Q2/Q3 ->
Q4 -> S3 chain runs: expected counts are the ones the semantic tests
already pin (valid=5, invalid N=3/A=2/D=2, summary=5).
"""

from __future__ import annotations

import logging

import pandas as pd
import pytest

from etl_sales_pandas_sqlserver_spark.observability import (
    PipelineObserver,
    category_counts,
)
from etl_sales_pandas_sqlserver_spark.plans import pipeline
from etl_sales_pandas_sqlserver_spark.plans.pipeline import run_sales_pipeline
from pyspark.sql import functions as F

#: (Sale_ID, Product, Amount, Date) grouped into files by audit date --
#: same row classes as tests/test_sales_pipeline.py::FIXTURE
_FILES = {
    "2025-01-01.csv": [
        ("clean1", "KIT-A", "100.00 USD", "2024-01-05"),
        ("nullamt", "KIT-B", "", "2024-01-06"),
        ("nulldate", "KIT-C", "5.00 USD", ""),
        ("nulldate", "KIT-C", "5.00 USD", ""),
        ("nullprod", "", "549.48", "2024-02-01"),
        ("dupkey", "KIT-E", "10.00 USD", "2024-04-01"),
    ],
    "2025-02-01.csv": [
        ("overlap", "KIT-D", "224.12", "2024-03-01"),
        ("dupkey", "KIT-E", "20.00 USD", "2024-04-02"),
    ],
    "2025-03-01.csv": [
        ("eurtie", "KIT-F", "16577.10 EUR", "2024-05-01"),
        ("padded", "  kit-g  ", "30.00 USD", "2024-06-01"),
        ("baddate", "KIT-H", "40.00 USD", "not-a-date"),
    ],
}


def _write_input(indir) -> str:
    indir.mkdir(exist_ok=True)
    for name, rows in _FILES.items():
        body = "Sale_ID,Product,Amount,Date\n" + "".join(
            ",".join(f'"{v}"' if "," in v else v for v in row) + "\n" for row in rows
        )
        (indir / name).write_text(body, encoding="utf-8")
    return str(indir)


@pytest.fixture(scope="module")
def pipeline_result(spark, tmp_path_factory):
    indir = _write_input(tmp_path_factory.mktemp("sales_csv_in"))
    outdir = tmp_path_factory.mktemp("sales_csv_out")
    return run_sales_pipeline(spark, indir, str(outdir))


def test_pipeline_metrics_match_known_counts(pipeline_result):
    m = pipeline_result["metrics"]
    assert m["input"]["rows"] == 11
    assert m["valid"]["rows"] == 5
    assert m["invalid"]["rows"] == 7
    assert m["invalid"]["reason_n"] == 3
    assert m["invalid"]["reason_a"] == 2
    assert m["invalid"]["reason_d"] == 2
    assert m["summary"]["rows"] == 5


def test_pipeline_csv_outputs(pipeline_result):
    outs = pipeline_result["outputs"]
    # utf-8-sig parity with Resultados/*.csv (etl_utils.py:125)
    valid = pd.read_csv(outs["Ventas_Validas_M"], encoding="utf-8-sig")
    invalid = pd.read_csv(outs["Ventas_Invalidas_M"], encoding="utf-8-sig")
    summary = pd.read_csv(outs["Ventas_Resumen_Mensual"], encoding="utf-8-sig")
    assert len(valid) == 5 and len(invalid) == 7 and len(summary) == 5
    assert set(invalid["Reason"]) == {"N", "A", "D"}
    # the reference's concat order: every N row, then every A, then every D
    tiers = ["NAD".index(r) for r in invalid["Reason"]]
    assert tiers == sorted(tiers)
    # the reference's lexicographic (Mes, Producto) order (SURVEY.md A2)
    keys = list(zip(summary["Mes"], summary["Producto"]))
    assert keys == sorted(keys)
    # dates are sink-formatted strings (Q4, main.py:201-210)
    assert valid["Date"].str.match(r"\d{4}-\d{2}-\d{2}").all()
    # BOM actually present on disk
    with open(outs["Ventas_Validas_M"], "rb") as fh:
        assert fh.read(3) == b"\xef\xbb\xbf"


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_pipeline_job_and_checkpoint_budget(spark, tmp_path, job_ids):
    """One call runs each plan once: the folder is listed on the driver,
    the raw scan and the cleaned valid plan are each computed by one
    job and checkpointed, and the summary is sorted in its sink task --
    at most 6 Spark jobs. Both checkpoints are released."""
    indir = _write_input(tmp_path / "in")
    before = _persistent_rdds(spark)
    result, jobs = job_ids(lambda: run_sales_pipeline(spark, indir, str(tmp_path / "out")))
    assert result["metrics"]["summary"]["rows"] == 5
    assert len(jobs) <= 6
    assert _persistent_rdds(spark) == before


def test_pipeline_failed_sink_releases_checkpoints(spark, tmp_path, monkeypatch):
    """A sink that raises mid-pipeline (the second of three) still
    leaves no checkpoint blocks pinned."""
    calls = []
    real = pipeline.write_single_csv

    def fail_second(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("sink down")
        return real(*args, **kwargs)

    monkeypatch.setattr(pipeline, "write_single_csv", fail_second)
    indir = _write_input(tmp_path / "in")
    before = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="sink down"):
        run_sales_pipeline(spark, indir, str(tmp_path / "out"))
    assert len(calls) == 2
    assert _persistent_rdds(spark) == before


def test_pipeline_logs_filas_lines(spark, tmp_path):
    """log_metrics emits the reference's 'filas=%d' shape per stage."""
    records: list[str] = []

    class _Capture(logging.Handler):
        def emit(self, record: logging.LogRecord) -> None:
            records.append(record.getMessage())

    logger = logging.getLogger("etl_sales_spark")
    handler = _Capture()
    logger.addHandler(handler)
    logger.setLevel(logging.INFO)
    try:
        obs = PipelineObserver()
        df = obs.observe_rows(
            spark.createDataFrame(
                [("x", "N"), ("y", "A")], ["id", "Reason"]
            ),
            "demo",
            *category_counts("Reason", ("N", "A", "D")),
        )
        df.write.format("noop").mode("overwrite").save()
        obs.log_metrics(logger)
    finally:
        logger.removeHandler(handler)
    assert any("demo: filas=2" in r and "reason_n=1" in r for r in records)


def test_observer_rejects_duplicate_stage(spark):
    obs = PipelineObserver()
    df = spark.range(3)
    obs.observe_rows(df, "stage")
    with pytest.raises(ValueError, match="already observed"):
        obs.observe_rows(df, "stage")


def test_observation_counts_sink_rows_not_plan_rows(spark):
    """The observed count is what the sink consumed -- a downstream
    filter after the observation point does not change it."""
    obs = PipelineObserver()
    base = obs.observe_rows(spark.range(100), "all")
    base.filter(F.col("id") < 10).write.format("noop").mode("overwrite").save()
    assert obs.metrics()["all"]["rows"] == 100


def test_summary_sums_cents_exactly_at_any_partitioning(spark, tmp_path):
    """The summary CSV prints each group's exact cent sum: 0.10 + 0.20
    is '0.3' (a double sum prints 0.30000000000000004), and the bytes
    do not depend on how many shuffle partitions the partial sums run
    over (a double sum of 0.10, 0.20, 0.30 is 0.6 or
    0.6000000000000001 by order)."""
    indir = tmp_path / "in"
    indir.mkdir()
    rows = {
        "2025-01-01.csv": [("a1", "KIT-A", "0.10 USD"), ("b1", "KIT-B", "0.10 USD")],
        "2025-01-02.csv": [("a2", "KIT-A", "0.20 USD"), ("b2", "KIT-B", "0.20 USD")],
        "2025-01-03.csv": [("b3", "KIT-B", "0.30 USD")],
    }
    for name, file_rows in rows.items():
        body = "Sale_ID,Product,Amount,Date\n" + "".join(
            f"{sid},{prod},{amt},2024-01-05\n" for sid, prod, amt in file_rows
        )
        (indir / name).write_text(body, encoding="utf-8")
    key = "spark.sql.shuffle.partitions"
    session_parts = spark.conf.get(key)
    written = []
    try:
        for parts in ("1", "4"):
            spark.conf.set(key, parts)
            out = run_sales_pipeline(spark, str(indir), str(tmp_path / parts))
            with open(out["outputs"]["Ventas_Resumen_Mensual"], "rb") as fh:
                written.append(fh.read())
    finally:
        spark.conf.set(key, session_parts)
    summary = pd.read_csv(
        tmp_path / "1" / "Ventas_Resumen_Mensual.csv", encoding="utf-8-sig", dtype=str
    )
    assert dict(zip(summary["Producto"], summary["Ventas_Totales"])) == {
        "A": "0.3",
        "B": "0.6",
    }
    assert written[0] == written[1]

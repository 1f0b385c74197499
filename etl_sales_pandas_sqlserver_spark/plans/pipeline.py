"""The reference's full ETL run as one engine entry point.

``python main.py`` in the reference (main.py:184-224) does: load the
CSV folder -> three transforms (valid / invalid / monthly summary) ->
format dates -> write each table to SQL Server and to a CSV file,
logging row counts along the way. :func:`run_sales_pipeline` is that
flow Spark-first:

- ONE distributed folder scan (sources.csv_folder.read_sales_folder)
  and ONE run of the cleaned valid plan (its dedup window shuffle):
  each gets a lazy ``localCheckpoint``, filled by the first job that
  reads it and then read from its blocks, because plan reuse across
  actions is not automatic (SURVEY.md section 4.1). The raw scan feeds
  the valid and invalid plans; the valid plan feeds its own sink and
  the summary. A lazy checkpoint, unlike ``.cache()``, is not filled
  by a job of its own under AQE;
- the transforms stay lazy until their sink write, so each output
  executes as one fused plan. The invalid and summary sinks sort inside
  their one ``coalesce(1)`` task: the invalid CSV lists every N, then
  every A, then every D row like the reference's concat, and the
  summary keeps the reference's lexicographic (Mes, Producto) order
  without a range-sampling job;
- both checkpoints are released in a ``finally`` (cache.release), so a
  failed sink does not pin their blocks. The trade is the one
  cache.memo makes: a lost checkpoint block fails the job instead of
  being recomputed from the CSVs;
- row counts come from ``df.observe()`` accumulators collected during
  the sink writes themselves (observability.PipelineObserver) -- the
  reference's 'filas=%d' logging (main.py:99,146,174) with zero extra
  jobs;
- sinks: single-file BOM CSVs like Resultados/*.csv (small, human
  facing -- the scale path writes partitioned directories), optional
  JDBC loads mirroring the reference's replace-mode to_sql loop
  (main.py:215-217).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..cache import release
from ..observability import PipelineObserver, category_counts, configure_logging
from ..sources.csv_folder import read_sales_folder
from ..sources.sinks import write_jdbc, write_single_csv
from .sales_etl import (
    categorize_invalid_sales,
    clean_valid_sales,
    format_dates_for_sink,
    monthly_summary,
)

#: output table names, exactly the reference's (main.py:192-196)
VALID_NAME = "Ventas_Validas_M"
INVALID_NAME = "Ventas_Invalidas_M"
SUMMARY_NAME = "Ventas_Resumen_Mensual"


def run_sales_pipeline(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    *,
    jdbc: dict[str, Any] | None = None,
    logfile: str | None = None,
) -> dict[str, Any]:
    """Run the end-to-end sales ETL (reference main.py:184-224).

    Returns ``{"outputs": {name: csv_path}, "metrics": {stage: {...}}}``
    where metrics carry sink-time row counts (input / valid / invalid
    with per-Reason splits / summary) collected by ``observe()``.

    ``jdbc``: optional ``{"url": ..., "mode": "overwrite"|"append",
    "options": {...}}`` -- when given, each table is ALSO loaded over
    JDBC under its reference name, mirroring the to_sql loop
    (main.py:215-217; etl_utils.py:134-160).
    """
    logger = configure_logging(logfile)
    obs = PipelineObserver()
    os.makedirs(output_dir, exist_ok=True)
    outputs: dict[str, str] = {}

    raw_cp = read_sales_folder(spark, input_dir).localCheckpoint(eager=False)
    valid_cp = None
    try:
        raw = obs.observe_rows(raw_cp, "input")
        valid_cp = clean_valid_sales(raw).localCheckpoint(eager=False)
        valid = obs.observe_rows(valid_cp, "valid")
        invalid = obs.observe_rows(
            categorize_invalid_sales(raw),
            "invalid",
            *category_counts("Reason", ("N", "A", "D")),
        ).coalesce(1).sortWithinPartitions(F.expr("instr('NAD', Reason)"))
        summary = obs.observe_rows(
            monthly_summary(valid_cp, sort=False), "summary"
        ).coalesce(1).sortWithinPartitions("Mes", "Producto")

        tables = [(VALID_NAME, valid), (INVALID_NAME, invalid), (SUMMARY_NAME, summary)]
        for name, df in tables:
            formatted = format_dates_for_sink(df)
            if jdbc is not None:
                write_jdbc(
                    formatted,
                    jdbc["url"],
                    name,
                    mode=jdbc.get("mode", "overwrite"),
                    options=jdbc.get("options"),
                )
            outputs[name] = write_single_csv(
                formatted, os.path.join(output_dir, f"{name}.csv"), with_bom=True
            )
    finally:
        release(raw_cp)
        if valid_cp is not None:
            release(valid_cp)

    obs.log_metrics(logger)
    return {"outputs": outputs, "metrics": obs.metrics()}

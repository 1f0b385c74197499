"""Row-count observability without extra jobs (SURVEY.md section 2.7).

The reference configures file logging and logs per-stage row counts --
``configurar_logging`` (etl_utils.py:10-31) plus ``filas=%d`` log lines
after every transform and sink (main.py:99,146,161,174;
etl_utils.py:96,126,157,192). A naive Spark port would call
``df.count()`` per stage: one EXTRA JOB (a full re-execution of the
plan) per metric, which at 100 TB doubles the pipeline cost.

The engine instead attaches :class:`pyspark.sql.Observation` metrics to
the lazy plan: accumulators collected on the SAME pass the sink write
executes. Observability is free -- no extra scan, no extra shuffle, and
the numbers refer to exactly the rows the sink saw (a separate
``count()`` could disagree under concurrent input changes).

Semantics to know (tested in tests/test_observability.py):

- an ``Observation`` yields metrics only AFTER an action ran over the
  observed plan -- read them post-sink, never mid-build;
- each ``Observation`` object is single-use per action: the first
  action over the plan fixes its value (later actions re-executing the
  same observed subtree do not update it). That is the right contract
  for sink-time row counts.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

LOGGER_NAME = "etl_sales_spark"


def configure_logging(logfile: str | None = None) -> logging.Logger:
    """Reference-parity logging setup (etl_utils.py:10-31): INFO-level
    logger, optional file handler, one concise line per record."""
    logger = logging.getLogger(LOGGER_NAME)
    logger.setLevel(logging.INFO)
    # FileHandler stores baseFilename absolutized -- compare abspath,
    # or a relative logfile would attach a fresh handler per call and
    # write every record N times
    target = None if logfile is None else os.path.abspath(logfile)
    if logfile is not None and not any(
        isinstance(h, logging.FileHandler)
        and getattr(h, "baseFilename", None) == target
        for h in logger.handlers
    ):
        handler = logging.FileHandler(logfile, encoding="utf-8")
        handler.setFormatter(
            logging.Formatter("%(asctime)s - %(levelname)s - %(message)s")
        )
        logger.addHandler(handler)
    return logger


def category_counts(col: str, values: tuple[str, ...]) -> list[Column]:
    """Conditional row counts per category value (e.g. invalid rows by
    Reason N/A/D) -- computed in the same observation pass."""
    return [
        F.sum(F.when(F.col(col) == v, 1).otherwise(0)).alias(f"{col}_{v}".lower())
        for v in values
    ]


class PipelineObserver:
    """Attach named row-count observations to DataFrames and read them
    back after the sink actions ran.

    >>> obs = PipelineObserver()
    >>> df = obs.observe_rows(df, "input")
    >>> ...  # build + write sinks
    >>> obs.metrics()["input"]["rows"]
    """

    def __init__(self) -> None:
        self._observations: dict[str, Observation] = {}

    def observe_rows(
        self, df: DataFrame, stage: str, *extra_metrics: Column
    ) -> DataFrame:
        """Return ``df`` with a named observation counting its rows
        (plus any extra aggregate metrics, e.g. `category_counts`)."""
        if stage in self._observations:
            raise ValueError(f"stage {stage!r} already observed")
        obs = Observation(stage)
        self._observations[stage] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("rows"), *extra_metrics)

    def metrics(self) -> dict[str, dict[str, object]]:
        """Collected metrics per stage. Blocks until each stage's first
        action has completed -- call after the sink writes."""
        return {name: obs.get for name, obs in self._observations.items()}

    def log_metrics(self, logger: logging.Logger | None = None) -> None:
        """Reference-parity 'filas=%d' lines (main.py:99,146,174), one
        per observed stage, plus any extra metrics."""
        logger = logger or logging.getLogger(LOGGER_NAME)
        for stage, vals in self.metrics().items():
            extras = " ".join(
                f"{k}={v}" for k, v in vals.items() if k != "rows"
            )
            logger.info(
                "%s: filas=%d%s", stage, vals["rows"], f" {extras}" if extras else ""
            )

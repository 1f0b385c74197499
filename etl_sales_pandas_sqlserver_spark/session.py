"""SparkSession factory, and the one rule for session state.

Defaults are chosen for the dual target: correctness tests on
``local[N]`` and the same code running on a 1000-executor cluster over
~100 TB. Nothing here is local-only; the local knobs (shuffle partition
count, driver memory) are read from the environment so a cluster deploy
overrides them with spark-submit conf instead.

The engine is a library over a session its caller owns (a batch job,
a notebook, a server). Only ``get_spark`` configures the engine session;
no query sets a conf or registers a temp view on the session it was
handed. A path that needs other confs or its own views runs on an
``isolated`` clone instead.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

#: clone -> the caller's session it was ``isolated`` from
_ORIGIN: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def isolated(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A private clone of ``spark`` with ``conf`` set on the clone only.

    The clone starts as a copy of the caller's SQL conf (ANSI, time
    zone, whatever the caller set at run time), temp views and
    functions, over the shared SparkContext, so nothing done to it is
    seen by the caller. ``SparkSession.newSession`` is not a substitute:
    it starts from the context's launch conf and drops the caller's
    run-time settings. ``cloneSession`` is JVM-internal, which is why it is
    wrapped here and nowhere else. ``origin`` maps the clone back to
    the caller, so per-session metadata such as
    ``sources.testdata``'s verified read schemas is shared with it.
    """
    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    for k, v in conf.items():
        clone.conf.set(k, v)
    _ORIGIN[clone] = origin(spark)
    return clone


def origin(spark: SparkSession) -> SparkSession:
    """The session ``spark`` was ``isolated`` from, else ``spark``."""
    return _ORIGIN.get(spark, spark)


def get_spark(
    app_name: str = "etl-sales-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Only deployment settings are set here; the SQL semantics are Spark
    4's defaults, the same a plain ``SparkSession.builder`` session
    (the driver's) runs with. The engine relies on three of them
    without setting them:

    - AQE on: runtime coalescing of shuffle partitions, skew-join
      splitting, and dynamic join-strategy switches -- the scale story
      for unknown data distributions.
    - ANSI on: a bare cast of garbage throws, so every parse uses
      ``try_cast``/``try_to_timestamp``, which return NULL either way.
    - Parquet NTZ inference on: naive ``timestamp[us]`` columns read as
      TIMESTAMP_NTZ; ``load_table`` pins ``events.ts`` to LTZ with a
      declared schema, and ``operators.dates.epoch_us`` takes both.

    What is set:

    - Shuffle partitions from ``SPARK_GRAFT_CPUS``.
    - Session timezone pinned to UTC so timestamp semantics match the
      DuckDB oracle and are cluster-location independent.
    - Arrow enabled for every pandas interchange (Pandas UDFs,
      toPandas) -- the only sanctioned Python hot path.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", cpus if cpus.isdigit() else "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # library default stays modest -- hosts with small RAM must not
        # inherit a 32g heap; the bench harness opts in via the env var
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

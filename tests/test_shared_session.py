"""One session, many callers. The engine is a library over a session its
caller owns, so four threads that share the test session run the sales
pipeline, three corpus ops that share the MinHash pair memo, two
streams and the SQL entry point at once. Every query result must equal
its DuckDB oracle, the pipeline's CSVs must be byte-equal to a serial
run's, and the session must come out as it went in: the same conf, the
same temp views and, once its memos are evicted, the same pinned RDDs.
"""

from __future__ import annotations

import filecmp
import gc
import shutil
import threading
import time

import __spark_entry__ as e
from etl_sales_pandas_sqlserver_spark import cache
from etl_sales_pandas_sqlserver_spark.plans.pipeline import run_sales_pipeline

from .oracle_compare import compare_frames, run_oracle
from .test_observability import _write_input

#: one op list per thread; the three pair-memo ops start in three threads
_THREADS = [
    ["run_sales_pipeline", "sql_region_year_revenue"],
    ["dedup_minhash_lsh", "stream_dataset_card_ingest"],
    ["dedup_clusters", "stream_hourly_agg"],
    ["graph_pagerank_dup"],
]


def _temp_views(spark) -> list[str]:
    return sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)


def _pinned(spark, target: int | None = None) -> int:
    """The persistent-RDD count once the JVM has collected what no frame
    reaches any more: a checkpoint only a dropped frame owned (an
    earlier test's) goes only then. Polls until the count is steady, or
    down to ``target``."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    last = None
    for _ in range(50):
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.2)
        n = persistent().size()
        done = (n == last) if target is None else (n <= target)
        if done:
            break
        last = n
    return n


def test_threads_sharing_a_session_leave_it_as_they_found_it(
    spark, sf_small, tmp_path
):
    # a fresh sf_dir, so every memo entry is built inside the threads
    sf = str(tmp_path / "sf")
    shutil.copytree(sf_small, sf)
    sales_in = _write_input(tmp_path / "sales_in")
    serial = run_sales_pipeline(spark, sales_in, str(tmp_path / "serial"))

    spark.catalog.clearCache()
    cache.evict_session_memos(spark)
    conf, views, pinned = spark.conf.getAll, _temp_views(spark), _pinned(spark)

    results, errors = {}, []

    def run(ops):
        try:
            for op in ops:
                if op == "run_sales_pipeline":
                    results[op] = run_sales_pipeline(
                        spark, sales_in, str(tmp_path / "threaded")
                    )
                else:
                    results[op] = e.queries()[op](spark, sf).toPandas()
        except Exception as exc:  # noqa: BLE001 -- reported below
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(ops,)) for ops in _THREADS]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    # ``sf`` is a byte copy of ``sf_small``: the oracle memo can hit
    for op, df in results.items():
        if op != "run_sales_pipeline":
            assert not compare_frames(df, run_oracle(e.oracle_sql()[op], sf_small)), op
    got = results["run_sales_pipeline"]
    assert got["metrics"] == serial["metrics"]
    for name, path in got["outputs"].items():
        assert filecmp.cmp(path, serial["outputs"][name], shallow=False)

    assert spark.conf.getAll == conf
    assert _temp_views(spark) == views
    del results
    cache.evict_session_memos(spark)
    assert _pinned(spark, target=pinned) <= pinned

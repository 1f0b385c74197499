"""Isolated single-query timing: the bench suite's per-query numbers
ride on whatever JVM/page-cache state earlier queries left behind, and
single-query wall times at sf0.1 have shown 3-5x run-to-run swings on
identical code. This harness times ONE query at a time, n runs each,
under the same session + warmup + noop-sink conditions as bench.py, so
an apparent round-over-round regression can be reproduced-or-cleared
before any plan change.

Usage: python tests/perf_isolated.py name1,name2 [n_runs]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = sys.argv[1].split(",") if len(sys.argv) > 1 else []
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from etl_sales_pandas_sqlserver_spark.plans.testdata_queries import QUERIES
    from etl_sales_pandas_sqlserver_spark.session import get_spark
    from etl_sales_pandas_sqlserver_spark.sources.testdata import load_table

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
    spark = get_spark(
        app_name="etl-sales-spark-perf-isolated",
        master=f"local[{cpus}]",
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    for t in TABLES_TO_WARM:
        load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()

    out = {}
    for name in names:
        if name not in QUERIES:
            print(f"unknown query: {name}", file=sys.stderr)
            return 2
        fn, _sql = QUERIES[name]
        # one UNTIMED run first: the fresh JVM pays codegen compile,
        # Python-worker spin-up, broadcast build and session-memo
        # construction on the first execution of each query -- the
        # suite numbers this harness adjudicates are warm, so timing
        # that cold run poisoned the "stable estimator" (round-7
        # verdict: approx_distinct_users 4.7s isolated vs 1.27s warm
        # in-suite).
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        runs = []
        for _ in range(n_runs):
            # drain pending JVM garbage BEFORE the clock starts: r11's
            # dedup_jaccard_prefix_filter isolated runs read
            # [3.6, 2.8, 11.1, 2.5, 3.7] s -- one full-GC stall landing
            # inside a timed run triples it. An explicit System.gc()
            # between runs moves that stall outside the timing window.
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
        out[name] = {
            "runs": runs,
            "median": round(statistics.median(runs), 3),
            "min": min(runs),
            "max": max(runs),
        }
        print(json.dumps({name: out[name]}), flush=True)
    return 0


TABLES_TO_WARM = (
    "lineitem orders customer supplier part nation region "
    "events documents embeddings"
).split()


if __name__ == "__main__":
    sys.exit(main())

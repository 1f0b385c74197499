"""Driver-contract simulation (the verify recipe): run every
``queries()`` entry against its ``oracle_sql()`` twin via DuckDB at
sf0.01 under a PLAIN default Spark session -- the driver's conditions.
It shares the engine session's SQL semantics (Spark 4 defaults: ANSI
on, NTZ inference on); what differs is 200 shuffle partitions, the
host time zone and ``local[8]``.

Usage: python tests/driver_sim.py [--only name1,name2]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.oracle_compare import compare_frames, run_oracle  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default=None, help="comma-separated query names")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    print("entry rows:", len(e.entry(spark).collect()), flush=True)

    q, o = e.queries(), e.oracle_sql()
    names = list(q)
    if args.only:
        names = [n for n in args.only.split(",") if n in q]
    fails = []
    for name in names:
        t0 = time.perf_counter()
        try:
            sdf = q[name](spark, args.sf).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"{name} ERROR {type(exc).__name__}: {exc}", flush=True)
            fails.append(name)
            continue
        dt = time.perf_counter() - t0
        if name not in o:
            print(f"{name} rows-only {len(sdf)} ({dt:.1f}s)", flush=True)
            continue
        problems = compare_frames(sdf, run_oracle(o[name], args.sf))
        print(f"{name} {not problems} ({dt:.1f}s)", *problems, flush=True)
        if problems:
            fails.append(name)
    print("FAILURES:", fails or "none", flush=True)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())

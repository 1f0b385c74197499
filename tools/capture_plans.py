"""Capture .explain("formatted") for every registered query.

Usage: python tools/capture_plans.py <outdir> [name_filter_csv]

Writes <outdir>/<query>.txt with the formatted physical plan at
$SPARK_GRAFT_SF_DIR (default sf0.1). Planning only -- nothing executes,
so this is cheap and safe to run alongside other work. Also prints a
one-line summary per query: exchange count, join strategies, python
eval nodes -- the triage table for the optimization round.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_sales_pandas_sqlserver_spark.plans.testdata_queries import QUERIES
from etl_sales_pandas_sqlserver_spark.session import get_spark


def main() -> None:
    if len(sys.argv) < 2:
        print(
            "Usage: python tools/capture_plans.py <outdir> [name_filter_csv]",
            file=sys.stderr,
        )
        raise SystemExit(2)
    outdir = sys.argv[1]
    names = sorted(QUERIES)
    if len(sys.argv) > 2 and sys.argv[2]:
        want = set(sys.argv[2].split(","))
        names = [n for n in names if n in want]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        fn, _sql = QUERIES[name]
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 - summary tool
            plan = f"ERROR: {type(exc).__name__}: {exc}"
        with open(os.path.join(outdir, f"{name}.txt"), "w") as fh:
            fh.write(plan)
        ex = len(re.findall(r"\bExchange\b", plan))
        smj = len(re.findall(r"\bSortMergeJoin\b", plan))
        bhj = len(re.findall(r"\bBroadcastHashJoin\b", plan))
        shj = len(re.findall(r"\bShuffledHashJoin\b", plan))
        bnl = len(re.findall(r"\bBroadcastNestedLoopJoin\b", plan))
        py = len(re.findall(r"BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas", plan))
        sort = len(re.findall(r"^\(\d+\) Sort\b", plan, re.M))
        win = len(re.findall(r"\bWindow\b", plan))
        single = len(re.findall(r"Exchange SinglePartition", plan))
        print(
            f"{name}\tex={ex}\tsingle={single}\tsmj={smj}\tbhj={bhj}\tshj={shj}"
            f"\tbnl={bnl}\tpy={py}\tsort={sort}\twin={win}",
            flush=True,
        )


if __name__ == "__main__":
    main()

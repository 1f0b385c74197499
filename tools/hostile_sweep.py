"""Full-registry hostile-input sweep: poison one table, compare all.

The r13 audits (tests/test_hostile_{embeddings,events,tpch,
docs_nulls}.py) were produced by exactly this harness run inline;
committing it makes reclassification ONE command when a deferred
respell lands:

    python tools/hostile_sweep.py events      # any kind in
    python tools/hostile_sweep.py documents   # tests/hostile_tables.KINDS
    python tools/hostile_sweep.py tpch

Runs every registered query against a copy of sf0.001 with the chosen
table poisoned by ``tests/hostile_tables.build`` (the same builder the
suites' fixtures call), under DRIVER conditions (a plain session: the
engine's SQL semantics, but 200 shuffle partitions, the host time zone
and ``local[8]``), compares with ``tests/oracle_compare.compare_frames``,
and prints one JSON line: {green: [...], mismatch: [...],
both_error: {...}, spark_only_error: {...}, oracle_error: {...}}. The
oracle runs also when Spark raises, so a loud error on both engines
(``both_error``: each engine's message) is told apart from a
Spark-only raise (``spark_only_error``: Spark's message and the
oracle's row count). Move a query between a suite's _ROBUST and
known-not-green lists only on this tool's evidence.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SWEEP_SF", "/root/testdata/sf0.001")


def main() -> int:
    from pyspark.sql import SparkSession

    from tests.hostile_tables import build
    from tests.oracle_compare import compare_frames, run_oracle

    kind = sys.argv[1] if len(sys.argv) > 1 else "events"
    d = build(kind, SF, tempfile.mkdtemp(prefix=f"hostile_{kind}_"))

    # DRIVER conditions: a plain session
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    only = {s for s in os.environ.get(
        "SPARK_GRAFT_SWEEP_ONLY", "").split(",") if s}
    res = {"green": [], "mismatch": [], "both_error": {},
           "spark_only_error": {}, "oracle_error": {}}
    for name, fn in q.items():
        if only and name not in only:
            continue
        try:
            sdf, spark_err = fn(spark, d).toPandas(), None
        except Exception as ex:
            sdf, spark_err = None, _msg(ex)
        try:
            odf = run_oracle(o[name], d)
        except Exception as ex:
            if spark_err is None:
                res["oracle_error"][name] = _msg(ex)
            else:
                res["both_error"][name] = {"spark": spark_err, "oracle": _msg(ex)}
            continue
        if spark_err is not None:
            res["spark_only_error"][name] = {"error": spark_err, "oracle_rows": len(odf)}
        else:
            res["mismatch" if compare_frames(sdf, odf) else "green"].append(name)
    print(json.dumps({"table": kind, "sf": SF,
                      "n_green": len(res["green"]), **res}))
    return 0


def _msg(ex: Exception) -> str:
    return str(ex)[:120].replace("\n", " ")


if __name__ == "__main__":
    raise SystemExit(main())

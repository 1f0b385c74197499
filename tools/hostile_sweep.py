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
spark_error: {...}, oracle_error: {...}}. Move a query between a
suite's _ROBUST and known-not-green lists only on this tool's evidence.
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
    res = {"green": [], "mismatch": [], "spark_error": {},
           "oracle_error": {}, "rows_only": []}
    for name, fn in q.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, d).toPandas()
        except Exception as ex:
            res["spark_error"][name] = str(ex)[:120].replace("\n", " ")
            continue
        if name not in o or o[name] is None:
            res["rows_only"].append(name)
            continue
        try:
            odf = run_oracle(o[name], d)
        except Exception as ex:
            res["oracle_error"][name] = str(ex)[:120].replace("\n", " ")
            continue
        res["mismatch" if compare_frames(sdf, odf) else "green"].append(name)
    print(json.dumps({"table": kind, "sf": SF,
                      "n_green": len(res["green"]), **res}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

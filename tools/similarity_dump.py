"""Dump the similarity frames of one checkout, exactly, for an A/B diff.

    PYTHONPATH=$PWD python tools/similarity_dump.py OUT.json SF_DIR [SF_DIR ...]

Run it from each checkout (the Python workers import the engine, so
``PYTHONPATH`` must name the checkout being dumped), then ``cmp`` the two
files: the four raw ``q_topk_*`` frames, the three membership contracts,
the recall contract, the kNN labels and the semantic decontamination
pairs are written as sorted rows with every double as ``float.hex``, so
equal files mean bitwise-equal results.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FRAMES = (
    "q_topk_exact", "q_topk_ann", "q_topk_ivf", "q_topk_ann_indexed",
    "q_topk_ann_contract", "q_topk_ivf_contract", "q_topk_ann_indexed_contract",
    "q_ann_recall_contract", "q_knn_label",
)


def main() -> int:
    from etl_sales_pandas_sqlserver_spark.functions import dedup
    from etl_sales_pandas_sqlserver_spark.functions import similarity as sim
    from etl_sales_pandas_sqlserver_spark.session import get_spark

    out, sf_dirs = sys.argv[1], sys.argv[2:]
    # a private index root: never reuse another checkout's ANN index
    sim._ANN_INDEX_ROOT = tempfile.mkdtemp(prefix="similarity_dump_")
    spark = get_spark(
        app_name="similarity-dump",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    fns = {name: getattr(sim, name) for name in FRAMES}
    fns["q_decontaminate_semantic"] = dedup.q_decontaminate_semantic
    res = {}
    for sf in sf_dirs:
        for name, fn in fns.items():
            df = fn(spark, sf)
            rows = sorted(
                [x.hex() if isinstance(x, float) else x for x in r]
                for r in df.collect()
            )
            res[f"{os.path.basename(sf)}:{name}"] = {"cols": df.columns, "rows": rows}
            print(sf, name, len(rows), flush=True)
    with open(out, "w") as fh:
        json.dump(res, fh, sort_keys=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

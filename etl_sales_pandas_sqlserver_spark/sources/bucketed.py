"""Bucketed-table materialization for co-located (shuffle-free) joins.

At 100 TB the single most expensive recurring cost of a fact-fact join
is re-shuffling both sides on the join key for every query. Bucketing
pays that shuffle ONCE at write time: each table is hash-clustered into
the same number of buckets on the join key (Spark's ``bucketBy``, which
uses the same Murmur3 hash as its shuffle partitioning), after which
every join on that key reads bucket i against bucket i with NO exchange
on either side -- the plan shows a SortMergeJoin whose children are
bare bucketed scans (pinned in tests/test_plan_shapes.py).

The build is content-fingerprinted and idempotent per source
(path + ``cache.source_tag``), same convention as the ANN serving index
(functions/similarity.build_ann_index): querying pays bucketed-read
cost, the one-time build is amortized. Tables register in the session's
in-memory catalog with an external path under the system temp dir, so
nothing is written into the repo and a fresh session just rebuilds.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import source_tag
from .testdata import load_table

_BUCKETED_ROOT = os.path.join(tempfile.gettempdir(), "spark_graft_bucketed")

#: bucket count is a layout contract: BOTH sides of a co-located join
#: must use the same value, and at production scale it is sized so one
#: bucket of the biggest table fits an executor core's working set
#: (e.g. 100 TB lineitem / 4096 buckets ~ 25 GB per bucket before
#: columnar projection). 8 keeps test-scale file counts small.
N_BUCKETS = 8


def _tag(sf_dir: str, table: str) -> str:
    src = os.path.join(os.path.normpath(sf_dir), f"{table}.parquet")
    return hashlib.md5(
        f"{os.path.abspath(src)}:{source_tag(sf_dir, table)}:{N_BUCKETS}".encode()
    ).hexdigest()[:16]


def bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key: str,
    columns: list[str],
) -> DataFrame:
    """Return ``table`` as a catalog-registered bucketed table
    (bucketed AND sorted by ``key``), building it on first use.

    The pre-write ``repartition(N_BUCKETS, key)`` aligns shuffle
    partitions with bucket ids (same Murmur3 hash), so the writer emits
    one file per bucket instead of tasks x buckets fragments."""
    name = f"bucketed_{table}_{_tag(sf_dir, table)}"
    if not spark.catalog.tableExists(name):
        path = os.path.join(_BUCKETED_ROOT, name)
        (
            load_table(spark, sf_dir, table)
            .select(*columns)
            .repartition(N_BUCKETS, F.col(key))
            .write.mode("overwrite")
            .bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .option("path", path)
            .format("parquet")
            .saveAsTable(name)
        )
    return spark.table(name)

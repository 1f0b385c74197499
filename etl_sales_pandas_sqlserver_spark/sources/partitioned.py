"""Hive-partitioned dataset materialization for partition-pruned scans.

At 100 TB the cheapest byte is the one never read: laying a fact table
out as ``table/part_col=value/...`` directories lets Spark resolve a
predicate on the partition column at PLANNING time -- the scan lists
only the matching directories and the physical plan carries the
predicate in ``PartitionFilters`` instead of ``PushedFilters`` (no
file is even opened for excluded partitions, vs. opened-then-skipped
for row-group stats pruning). A daily-partitioned events table with a
3-day predicate reads 3/30ths of the dataset before any row filtering
happens.

Same build convention as :mod:`.bucketed`: the partitioned copy is
content-fingerprinted per source (path + ``cache.source_tag``) and
written once under the system temp dir -- queries pay partitioned-read
cost, the one-time layout build is amortized, and nothing lands in the
repo.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession

from ..cache import source_tag
from .testdata import load_table

_PARTITIONED_ROOT = os.path.join(tempfile.gettempdir(), "spark_graft_partitioned")


def _tag(sf_dir: str, table: str, part_col: str) -> str:
    src = os.path.join(os.path.normpath(sf_dir), f"{table}.parquet")
    return hashlib.md5(
        f"{os.path.abspath(src)}:{source_tag(sf_dir, table)}:{part_col}".encode()
    ).hexdigest()[:16]


def partitioned_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    part_col: str,
    part_expr: Column,
) -> DataFrame:
    """Return ``table`` re-laid-out as a hive-partitioned parquet
    dataset on ``part_col = part_expr`` (derived from the row, e.g.
    ``F.to_date("ts")``), building the layout on first use.

    The returned frame carries the original columns plus ``part_col``;
    a filter on ``part_col`` prunes at planning time (asserted via
    ``PartitionFilters`` in tests/test_plan_shapes.py). Partition
    count at production scale is an explicit layout decision -- daily
    grain for a year is 365 directories; never partition on a
    high-cardinality key (a million directories is a metadata DoS,
    which is what bucketing is for).
    """
    path = os.path.join(
        _PARTITIONED_ROOT, f"{table}_{part_col}_{_tag(sf_dir, table, part_col)}"
    )
    marker = os.path.join(path, "_SUCCESS")
    source = load_table(spark, sf_dir, table).withColumn(part_col, part_expr)
    if not os.path.isfile(marker):
        # Round-8 advice: a bare isdir() check trusted half-built
        # leftovers forever. Only Spark's _SUCCESS marker certifies a
        # complete layout; anything else is a crash corpse. Build into
        # a private temp dir on the same filesystem and publish with an
        # atomic rename -- concurrent builders each build their own
        # copy and the first rename wins (the loser verifies the
        # winner's marker and discards its own work).
        import shutil

        os.makedirs(_PARTITIONED_ROOT, exist_ok=True)
        scratch = tempfile.mkdtemp(
            prefix=f".build_{table}_", dir=_PARTITIONED_ROOT
        )
        build = os.path.join(scratch, "data")
        try:
            source.write.mode("overwrite").partitionBy(part_col).parquet(build)
            if os.path.isdir(path) and not os.path.isfile(marker):
                shutil.rmtree(path, ignore_errors=True)
            try:
                os.rename(build, path)
            except OSError:
                if not os.path.isfile(marker):
                    raise
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    # Explicit schema (source + derived partition column): an EMPTY
    # source commits a layout holding only _SUCCESS, where schema
    # inference would fail -- with the schema supplied the read returns
    # the correct zero-row frame, and no blanket except is needed.
    return spark.read.schema(source.schema).parquet(path)

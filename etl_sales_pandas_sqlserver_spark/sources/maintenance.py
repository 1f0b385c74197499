"""Table-maintenance utilities: parquet compaction and schema-evolution
reads. Neither exists in the reference (its outputs are single CSVs),
but both are table-stakes operations for a 100 TB lakehouse deployment:
streaming/incremental writers fragment tables into thousands of small
files whose per-file open/footer cost dominates scans, and long-lived
tables accumulate schema drift across ingestion eras.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def compact_parquet(spark: SparkSession, path: str) -> int:
    """Rewrite a fragmented parquet directory into ~128 MB files.

    File count = ceil(total bytes / 128 MB); the rewrite is one
    shuffle-free pass when coalescing down (coalesce merges partitions
    without moving rows between executors). Returns the new file
    count. Non-atomic (reader sees the directory mid-rewrite): on a
    production lakehouse this runs under the table format's commit
    protocol; here the contract is the compaction itself.

    Why it matters at scale: a scan pays a file open + footer read per
    file; 10k x 1 MB files cost ~10k metadata round-trips for the same
    bytes 80 well-sized files serve. Compaction is the difference
    between a metadata-bound and an IO-bound scan.
    """
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-total // (128 * 1024 * 1024)))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "._compact_tmp"
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    # swap: read side-effect free since Spark lists files at action time
    import shutil

    shutil.rmtree(path)
    os.rename(tmp, path)
    return n_files


def read_parquet_merged_schema(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet dataset whose files carry DIFFERENT (compatible)
    schemas -- columns added over time appear as NULL for files written
    before them. mergeSchema costs one footer read per distinct file
    schema at planning; per-file pushdown and pruning still apply."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def zorder_effective_bits(bits: int, n_cols: int) -> int:
    """Per-column precision actually used by :func:`zorder_write`.

    The interleaved key shifts up to ``bits*n_cols - 1``; past bit 62 a
    BIGINT shift reaches the sign bit / wraps and silently scrambles the
    Morton order (layout quality only -- results never depend on layout
    -- but the public signature shouldn't permit it). Auto-reduce
    per-column precision so the key always fits a signed 64-bit value.
    """
    if n_cols < 1:
        raise ValueError("z-order needs at least one column")
    eff = min(bits, 63 // n_cols)
    if eff < 1:
        raise ValueError(f"too many z-order columns ({n_cols}): max 63")
    return eff


def zorder_write(df: "DataFrame", path: str, cols: "list[str]") -> None:
    """Rewrite a table as 8 files with rows clustered along a Z-order
    (Morton) curve over ``cols`` -- the Delta/Iceberg OPTIMIZE ZORDER
    layout primitive. Multi-dimensional range queries then touch a small
    fraction of files, and parquet min/max row-group stats prune on
    EVERY z-ordered column instead of only the first sort key.

    Each column is rank-normalized to 16 bits, fewer when
    :func:`zorder_effective_bits` caps them (percent_rank over
    a sample-free exact window would be a global sort, so this uses the
    scalable approximation: min/max-scaled value -- adequate for layout,
    which only needs monotonicity), then the bit-interleaved key is
    built with an integer loop expression and the frame is
    range-partitioned + sorted by it. All layout decisions are
    deterministic; results of downstream queries never depend on them.
    """
    from pyspark.sql import functions as F

    bits = zorder_effective_bits(16, len(cols))

    stats = df.agg(
        *[F.min(c).alias(f"__min_{c}") for c in cols],
        *[F.max(c).alias(f"__max_{c}") for c in cols],
    )
    staged = df.crossJoin(F.broadcast(stats))
    scaled = []
    for c in cols:
        lo, hi = F.col(f"__min_{c}").cast("double"), F.col(
            f"__max_{c}"
        ).cast("double")
        span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
        q = (
            ((F.col(c).cast("double") - lo) / span)
            * F.lit((1 << bits) - 1)
        ).cast("bigint")
        scaled.append(q)
    # interleave bits: z = sum over b,i of bit(q_i, b) << (b*len+i)
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, q in enumerate(scaled):
            z = z + (
                F.shiftleft(
                    F.shiftright(q, b) % 2, b * len(cols) + i
                ).cast("bigint")
            )
    (
        staged.withColumn("__z", z)
        .repartitionByRange(8, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", *[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols])
        .write.mode("overwrite")
        .parquet(path)
    )

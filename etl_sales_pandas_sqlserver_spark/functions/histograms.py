"""Mergeable log₂ histograms and histogram-derived quantiles.

At 100 TB an exact percentile (`percentiles_by_segment`) means a full
sort of the fact table, and even `approx_percentile` re-scans raw rows
on every question. The production pattern — the same one the HLL
sketch-table family applies to distinct counts — is a MERGEABLE
summary: each shard reduces its rows to a ~40-row log-binned
histogram, histograms merge by adding per-bin counts (associative,
commutative — a daily/leaf table rolls up to any grain without
touching raw data), and any quantile is answered from the merged bins
with bounded relative error (bin caps double, so a cap-reported
quantile is within 2× of the true value — the classic HdrHistogram /
DDSketch trade, here in its power-of-two special case).

Nothing like this exists in the reference (its surface is the sales
ETL); this extends the LLM-curation observability family (corpus
length distributions per source are the standard corpus-drift
monitor).

Cross-engine exactness: bins are the batching family's bit-math
next-pow2 (`1 << length(bin(n-1))` — no log2, transcendentals differ
across libm builds); quantile ranks are ceiling integer division
((q·total + denom−1) div denom); every number is int64.

Scale shapes:
- the leaf histogram is one map-side-combinable agg to at most
  |source|·|lang|·~40 rows; the merge is a second tiny agg over those
  rows (the plan deliberately keeps BOTH levels so the associative
  re-aggregation a shard rollup performs is what the oracle hashes);
- quantile extraction windows over the merged bins only — a few
  hundred rows regardless of corpus size. No sort, window, or join
  ever sees a raw document row.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .intmath import next_pow2_spark, next_pow2_sql

SparkQuery = Callable[[SparkSession, str], DataFrame]

#: log2 bin cap: smallest power of two >= n (n <= 1 collapses to 1).
#: The bit-math core is the shared intmath fragment; docs with
#: n_chars in (cap/2, cap] share a bin, so a cap-quantile is within
#: 2x of truth.
_BIN_CAP_SQL = (
    "CASE WHEN n <= 1 THEN CAST(1 AS BIGINT) "
    f"ELSE {next_pow2_sql('n')} END"
)
_BIN_CAP_SPARK = (
    "CASE WHEN n <= 1 THEN CAST(1 AS BIGINT) "
    f"ELSE {next_pow2_spark('n')} END"
)


def ceil_rank_cap_agg(pct: int):
    """Aggregate expression: smallest ``bin_cap`` whose ``cum_docs``
    reaches the ceil-rank of the pct-quantile of ``total_docs`` —
    ``MIN(bin_cap WHERE cum_docs >= ceil(pct·total_docs/100))`` with
    the ceiling in exact integer math. Shared by this module and the
    dataset-card family so the rank spelling can never de-sync between
    them."""
    rank = f"({pct} * total_docs + 99) div 100"
    return F.min(
        F.when(F.col("cum_docs") >= F.expr(rank), F.col("bin_cap"))
    )


def _leaf_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, lang, bin_cap, n_docs) leaf histogram — the per-shard
    summary a deployment persists; one map-side-combinable agg."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "source", "lang", F.col("n_chars").cast("long").alias("n")
        )
        .select("source", "lang", F.expr(_BIN_CAP_SPARK).alias("bin_cap"))
        .groupBy("source", "lang", "bin_cap")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


HIST_BY_SOURCE_SQL = f"""
  WITH leaf AS (
    SELECT source, lang, {_BIN_CAP_SQL} AS bin_cap,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM (SELECT source, lang, n_chars AS n FROM documents)
    GROUP BY source, lang, bin_cap
  )
  SELECT source, bin_cap, CAST(SUM(n_docs) AS BIGINT) AS n_docs
  FROM leaf
  GROUP BY source, bin_cap
  ORDER BY source, bin_cap
"""


def _merged_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaf histograms merged to per-source, UNORDERED — the quantile
    query builds windows on top, and an orderBy here would inject a
    sort the window stage immediately re-arranges."""
    return (
        _leaf_hist(spark, sf_dir)
        .groupBy("source", "bin_cap")
        .agg(F.sum("n_docs").alias("n_docs"))
    )


def q_hist_doclen_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source doc-length histogram produced by MERGING the
    (source, lang) leaf histograms — the two-level plan is the point:
    the second agg is exactly the re-aggregation a shard rollup runs,
    and the oracle hashes its result."""
    return _merged_hist(spark, sf_dir)


HIST_QUANTILES_SQL = f"""
  WITH leaf AS (
    SELECT source, lang, {_BIN_CAP_SQL} AS bin_cap,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM (SELECT source, lang, n_chars AS n FROM documents)
    GROUP BY source, lang, bin_cap
  ),
  merged AS (
    SELECT source, bin_cap, CAST(SUM(n_docs) AS BIGINT) AS n_docs
    FROM leaf GROUP BY source, bin_cap
  ),
  cum AS (
    SELECT source, bin_cap, n_docs,
           CAST(SUM(n_docs) OVER (PARTITION BY source
                                  ORDER BY bin_cap NULLS FIRST)
                AS BIGINT) AS cum_docs,
           CAST(SUM(n_docs) OVER (PARTITION BY source) AS BIGINT)
             AS total_docs
    FROM merged
  )
  SELECT source,
         MAX(total_docs) AS n_docs_total,
         MIN(CASE WHEN cum_docs >= (total_docs + 1) // 2
                  THEN bin_cap END) AS p50_cap,
         MIN(CASE WHEN cum_docs >= (95 * total_docs + 99) // 100
                  THEN bin_cap END) AS p95_cap
  FROM cum
  GROUP BY source
  ORDER BY source
"""


def q_hist_quantiles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95 doc length per source answered FROM the merged
    histogram (never the raw rows): quantile rank k = ceil(q·total)
    in exact integer math, answer = smallest bin cap whose cumulative
    count reaches k. The windows run over the ~40-bin merged summary,
    so this costs the same at any corpus size once the histogram
    exists."""
    merged = _merged_hist(spark, sf_dir)
    wc = (
        Window.partitionBy("source")
        .orderBy("bin_cap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("source")
    cum = merged.select(
        "source",
        "bin_cap",
        F.sum("n_docs").over(wc).alias("cum_docs"),
        F.sum("n_docs").over(wt).alias("total_docs"),
    )
    # ceil(t/2) == ceil(50t/100), so p50 shares the ceil-rank kernel
    return (
        cum.groupBy("source")
        .agg(
            F.max("total_docs").alias("n_docs_total"),
            ceil_rank_cap_agg(50).alias("p50_cap"),
            ceil_rank_cap_agg(95).alias("p95_cap"),
        )
    )


QUERIES_EXPORT: dict[str, tuple[SparkQuery, "str | None"]] = {
    "hist_doclen_by_source": (q_hist_doclen_by_source, HIST_BY_SOURCE_SQL),
    "hist_quantiles_by_source": (
        q_hist_quantiles_by_source,
        HIST_QUANTILES_SQL,
    ),
}

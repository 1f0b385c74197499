"""Token-budget allocation across sources (water-filling).

A training run has a global token budget B smaller than the corpus;
naive proportional sampling starves small high-value sources, a
uniform per-source quota wastes budget on sources that cannot fill
it. The standard answer is WATER-FILLING: every source is funded up
to a common level L, sources with fewer available tokens than L are
taken whole, and L is the largest integer level that keeps the total
within budget — the discrete max-min fair allocation (identical to
link-capacity water-filling; in LM data terms it is the uniform-cap
mixing rule UniMax's budget step uses, cf. the sqrt-weight sampling
family in functions/source_stats.py).

Exact semantics (all int64, deterministic):

- ``a_s`` = whitespace-token count of source ``s`` (the corpus-wide
  token spelling shared with batching/source_stats);
- ``B = total_tokens div 2`` (a data-derived budget: half the corpus,
  so the allocation always has both fully-funded and capped sources
  on the test tables);
- sort sources by ``(a_s, source)`` ascending with rank ``k`` of
  ``n``, prefix sum ``cum_k``; a source is FULLY FUNDED iff
  ``cum_k + (n - k) * a_k <= B`` (funding everything up to its own
  size fits the budget — a per-row predicate, so the bend point needs
  no iteration);
- ``R = B - cum_{k*}`` over the funded prefix ``k*``, ``m = n - k*``
  capped sources, level ``L = R div m`` (floor; the <m leftover
  tokens stay unallocated rather than breaking determinism);
- ``alloc_s = min(a_s, L)`` — provably equal to ``a_s`` exactly on
  the funded prefix (``a_{k*} <= L < a_{k*+1}`` by maximality of
  ``k*``).

Scale: the only data-sized work is the token-count aggregation
(map-side combinable, carries (source, int64)); the water-fill runs
on the |sources|-row frame — rank/prefix-sum/bend-point all as
windows over ~tens of rows sharing one exchange (no 1-row cross join
back, which would be a BroadcastNestedLoopJoin). At 100 TB nothing
here grows beyond |sources|.
Overflow: ``(n - k) * a_k`` and the cumulative sums are int64-safe to
~9.2e18 tokens (a ~40 PB corpus); the ppm share goes through
functions/intmath.py's int128-class fragments.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import memo
from ..sources.testdata import load_table
from .intmath import exact_ppm_spark, exact_ppm_sql
from .tokcount import (
    N_TOKENS_SQL,
    md5_slice,
    md5_slice_sql,
    n_tokens_spark,
)

SparkQuery = Callable[[SparkSession, str], DataFrame]

#: budget = total_tokens div _BUDGET_DIV (2 => half the corpus)
_BUDGET_DIV = 2


def _source_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.sum(n_tokens_spark()).alias("avail")
    )


def _waterfill(tok: DataFrame) -> DataFrame:
    """source-level frame (source, avail) -> (source, avail, alloc,
    level, budget). All windows run over |sources| rows."""
    w_ord = Window.orderBy("avail", "source")
    w_all = Window.partitionBy()
    ranked = tok.select(
        "source",
        "avail",
        F.row_number().over(w_ord).alias("k"),
        F.sum("avail").over(
            w_ord.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("avail").over(w_all).alias("total"),
    ).withColumn("budget", F.expr(f"total div {_BUDGET_DIV}"))
    flagged = ranked.withColumn(
        "funded", F.expr("cum + (n - k) * avail <= budget")
    )
    # the bend point as empty-partition windows over the SAME
    # |sources|-row frame (shares the one exchange; an agg + 1-row
    # cross join back would be a BroadcastNestedLoopJoin, which the
    # plan-shape gate forbids registry-wide)
    bend = flagged.select(
        "source",
        "avail",
        "budget",
        F.coalesce(
            F.max(F.when(F.col("funded"), F.col("k"))).over(w_all),
            F.lit(0).cast("long"),
        ).alias("k_star"),
        F.coalesce(
            F.max(F.when(F.col("funded"), F.col("cum"))).over(w_all),
            F.lit(0).cast("long"),
        ).alias("cum_star"),
        F.col("n").alias("n_"),
        F.col("budget").alias("b_"),
    )
    return bend.select(
        "source",
        "avail",
        "budget",
        F.when(F.col("n_") == F.col("k_star"), F.col("avail"))
        .otherwise(
            F.least(
                F.col("avail"),
                F.expr("(b_ - cum_star) div (n_ - k_star)"),
            )
        )
        .alias("alloc"),
    )


def q_token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    alloc = _waterfill(_source_tokens(spark, sf_dir))
    return alloc.select(
        "source",
        "avail",
        "alloc",
        (F.col("alloc") == F.col("avail")).alias("fully_funded"),
        F.expr(exact_ppm_spark("alloc", "avail")).alias("funded_ppm"),
    )


def q_token_budget_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    alloc = _waterfill(_source_tokens(spark, sf_dir))
    return alloc.agg(
        F.max("budget").alias("budget"),
        F.sum("avail").alias("avail_total"),
        F.sum("alloc").alias("alloc_total"),
        F.sum(F.when(F.col("alloc") == F.col("avail"), 1).otherwise(0))
        .cast("long")
        .alias("n_fully_funded"),
        F.count(F.lit(1)).alias("n_sources"),
        (F.max("budget") - F.sum("alloc")).alias("unallocated"),
    )


#: DuckDB twin of :func:`sample_gate`
SAMPLE_GATE_SQL = (
    md5_slice_sql("CAST(doc_id AS VARCHAR) || '#budget'", 1, 8) + " % 1000000"
)


def sample_gate() -> "F.Column":
    """Deterministic 32-bit md5 gate in [0, 10^6) over ``doc_id``,
    salted ``#budget``. A doc survives a rate iff ``gate < rate_ppm``.
    Shared by the audit query below and the release pipeline
    (functions/release.py); the DuckDB twin is :data:`SAMPLE_GATE_SQL`.

    The 32-bit prefix modulo 10^6 is slightly non-uniform
    (2^32 % 10^6 = 967296, so gates below 967296 are overrepresented
    by ~1/4295); both engines agree, so parity is unaffected — the
    bias only shows as a ~0.02% systematic tilt of achieved_ppm vs
    target_ppm, matching the established sampling-gate convention
    across the split/mix families."""
    key = F.concat(F.col("doc_id").cast("string"), F.lit("#budget"))
    return md5_slice(key, 1, 8) % 1_000_000


def doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized ``(doc_id, source, n_tok, gate)`` over
    ``documents``: the token projection the budget audit, the release
    composite (functions/release.py) and the shard manifest
    (functions/sharding.py) each read twice -- once to aggregate, once
    row by row -- so one text scan serves all three."""

    def build() -> DataFrame:
        return load_table(spark, sf_dir, "documents").select(
            "doc_id",
            "source",
            n_tokens_spark().alias("n_tok"),
            sample_gate().alias("gate"),
        )

    return memo(spark, "doc_tokens", sf_dir, "documents", build)


def q_budget_sampled_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Materialize the water-fill as an actual per-document sampling
    pass: every doc carries a deterministic 32-bit md5 gate in
    [0, 10^6) (salted ``#budget`` so it decorrelates from the
    split/mix families' gates), and a doc survives iff
    ``gate < funded_ppm(source)``. The per-source rollup reports how
    close hash-sampling lands to the allocation target — the
    "expected vs achieved" audit row a pipeline logs after writing
    the sampled corpus.

    Scale: the doc-level work is one stateless projection + filter
    (zero shuffles beyond the final |sources| rollup); the water-fill
    share is a |sources|-row broadcast join. The water-fill's
    per-source agg and the doc-level gate pass both read
    :func:`doc_tokens`, so the text column is scanned once."""
    docs = doc_tokens(spark, sf_dir)
    per_source = docs.groupBy("source").agg(F.sum("n_tok").alias("avail"))
    shares = _waterfill(per_source).select(
        "source",
        "avail",
        F.expr(exact_ppm_spark("alloc", "avail")).alias("target_ppm"),
    )
    sampled = (
        docs.join(F.broadcast(shares), "source")  # broadcast-ok: |sources|-row waterfill frame
        .filter(F.col("gate") < F.col("target_ppm"))
    )
    return (
        sampled.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_sampled"),
            F.sum("n_tok").alias("tokens_sampled"),
            F.max("target_ppm").alias("target_ppm"),
            F.max("avail").alias("avail"),
        )
        .select(
            "source",
            "n_docs_sampled",
            "tokens_sampled",
            "target_ppm",
            F.expr(exact_ppm_spark("tokens_sampled", "avail")).alias(
                "achieved_ppm"
            ),
        )
    )


_WF_CTE = f"""
  WITH t AS (
    SELECT source, CAST(SUM({N_TOKENS_SQL}) AS BIGINT) AS avail
    FROM documents GROUP BY source
  ),
  r AS (
    SELECT source, avail,
           ROW_NUMBER() OVER (ORDER BY avail, source) AS k,
           CAST(SUM(avail) OVER (ORDER BY avail, source
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           COUNT(*) OVER () AS n,
           CAST(SUM(avail) OVER () // {_BUDGET_DIV} AS BIGINT) AS budget
    FROM t
  ),
  bend AS (
    SELECT COALESCE(MAX(CASE WHEN cum + (n - k) * avail <= budget
                             THEN k END), 0) AS k_star,
           COALESCE(MAX(CASE WHEN cum + (n - k) * avail <= budget
                             THEN cum END), 0) AS cum_star,
           MAX(n) AS n_, MAX(budget) AS b_
    FROM r
  ),
  alloc AS (
    SELECT r.source, r.avail, r.budget,
           CAST(CASE WHEN bend.n_ = bend.k_star THEN r.avail
                     ELSE LEAST(r.avail,
                                (bend.b_ - bend.cum_star)
                                  // (bend.n_ - bend.k_star))
                END AS BIGINT) AS alloc
    FROM r CROSS JOIN bend
  )
"""

WATERFILL_SQL = f"""
  {_WF_CTE}
  SELECT source, avail, alloc,
         alloc = avail AS fully_funded,
         {exact_ppm_sql('alloc', 'avail')} AS funded_ppm
  FROM alloc
  ORDER BY source
"""

WATERFILL_SUMMARY_SQL = f"""
  {_WF_CTE}
  SELECT MAX(budget) AS budget,
         CAST(SUM(avail) AS BIGINT) AS avail_total,
         CAST(SUM(alloc) AS BIGINT) AS alloc_total,
         CAST(SUM(CASE WHEN alloc = avail THEN 1 ELSE 0 END) AS BIGINT)
           AS n_fully_funded,
         CAST(COUNT(*) AS BIGINT) AS n_sources,
         CAST(MAX(budget) - SUM(alloc) AS BIGINT) AS unallocated
  FROM alloc
"""

BUDGET_SAMPLED_SQL = f"""
  {_WF_CTE},
  d AS (
    SELECT doc_id, source,
           CAST({N_TOKENS_SQL} AS BIGINT) AS n_tok,
           {SAMPLE_GATE_SQL} AS gate
    FROM documents
  ),
  sh AS (
    SELECT source, avail,
           {exact_ppm_sql('alloc', 'avail')} AS target_ppm
    FROM alloc
  ),
  s AS (
    SELECT d.source, d.n_tok, sh.target_ppm, sh.avail
    FROM d JOIN sh USING (source)
    WHERE d.gate < sh.target_ppm
  )
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs_sampled,
         CAST(SUM(n_tok) AS BIGINT) AS tokens_sampled,
         MAX(target_ppm) AS target_ppm,
         {exact_ppm_sql('CAST(SUM(n_tok) AS BIGINT)', 'MAX(avail)')}
           AS achieved_ppm
  FROM s
  GROUP BY source
  ORDER BY source
"""

QUERIES_EXPORT: dict[str, tuple[SparkQuery, "str | None"]] = {
    "token_budget_waterfill": (q_token_budget_waterfill, WATERFILL_SQL),
    "token_budget_summary": (q_token_budget_summary, WATERFILL_SUMMARY_SQL),
    "budget_sampled_by_source": (
        q_budget_sampled_by_source,
        BUDGET_SAMPLED_SQL,
    ),
}

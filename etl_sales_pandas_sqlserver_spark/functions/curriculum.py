"""Curriculum / difficulty binning over the shared bigram-LM score.

Curriculum training orders (or re-weights) data from easy to hard; the
data-side artifact is a DIFFICULTY LADDER: per-source decile bounds of
a difficulty proxy, a global stage assignment (easy / medium / hard),
and the token pacing schedule a trainer would consume stage by stage.
The proxy here is the corpus-bigram-LM score (functions/search.py
``lm_doc_scores`` / ``LM_SCORES_CTE`` — the SAME spelling the rank and
band-prune families use, so "difficulty" can never drift between the
prune and the curriculum): a LOW score (unlikely bigrams) reads as
hard/noisy, a HIGH score as easy/formulaic. Docs with <2 tokens are
unscored and excluded — identical rule on both engines.

All three queries are rank-band statistics, so they run on the bounded
DISTINCT-SCORE frame (functions/rankframe.py): counts per
(group, score), windows over ≤ 1e6+1 rows per group (the integer ppm
domain), band arithmetic in int64 — never a per-row rank sort, so a
skewed giant source costs the same window as a tiny one. Ties share a
score, sit in one contiguous rank block, and are assigned AS A BLOCK
(a decile they straddle lists them via intersection; a stage takes the
block by its first rank), which keeps every output independent of the
``doc_id`` tiebreak. The ORACLES are the naive per-row ``ROW_NUMBER``
forms, so the driver hash-compare proves the frame decomposition
exactly equal to the rank-by-rank definition.

- ``curriculum_decile_bounds``: per (source, decile d in 0..9 by rank
  bands ``((d*n) div 10, ((d+1)*n) div 10]``): doc count and the
  min/max score seen in the decile — the per-source difficulty ladder.
- ``curriculum_stage_mix``: global tertile stages (0 = hard third by
  ascending score, 2 = easy third); a tied-score block lands in the
  stage of its FIRST rank. Reports (stage, source) doc and token
  volumes — the mixing table a stage-wise sampler consumes. The global
  distinct-score window is single-partition but ≤ 1e6+1 rows by the
  ppm bound (the |sources|-frame class from functions/budget.py).
- ``curriculum_pacing_schedule``: per stage in training order (hard
  stages last: 2 → easy first), doc/token volume, cumulative tokens,
  and the exact ppm share of the corpus' scored tokens — windows over
  the 3-row stage frame.

Token counts use the corpus-wide spelling (functions/tokcount.py).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import memo
from ..sources.testdata import load_table
from .intmath import exact_ppm_spark, exact_ppm_sql
from .rankframe import distinct_score_rank_frame
from .search import LM_SCORES_CTE, lm_doc_scores_for
from .tokcount import N_TOKENS_SQL, n_tokens_spark

SparkQuery = Callable[[SparkSession, str], DataFrame]


def _scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_tok, lm_score_ppm) for scored docs.

    Session-memoized like the LM score feed it builds on (r18): six
    queries (curriculum trio, pack trio) consume this exact frame, and
    the n_tokens split it adds on top of the score feed is itself a
    full text scan. Four narrow columns per scored doc -- the same
    footprint class as the score memo."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return lm_doc_scores_for(spark, sf_dir).join(
            docs.select("doc_id", "source", n_tokens_spark().alias("n_tok")),
            "doc_id",
        )

    return memo(spark, "scored_docs", sf_dir, "documents", build)


def q_curriculum_decile_bounds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    framed = distinct_score_rank_frame(
        _scored_docs(spark, sf_dir), ["source"]
    )
    # explode the 10 deciles; decile d spans ranks (lo_d, hi_d] with
    # lo_d/hi_d floored boundaries. A tied-score block [lo, hi]
    # contributes to every decile it intersects. Degenerate deciles
    # (hi_d < lo_d when n < 10) are filtered BEFORE intersection, or
    # a block straddling the empty position would emit a 0-doc row.
    dec = (
        framed.select(
            "source",
            "lm_score_ppm",
            "lo",
            "hi",
            "n",
            F.explode(
                F.expr("sequence(CAST(0 AS BIGINT), CAST(9 AS BIGINT))")
            ).alias("decile"),
        )
        .withColumn("lo_d", F.expr("(decile * n) div 10 + 1"))
        .withColumn("hi_d", F.expr("((decile + 1) * n) div 10"))
        .filter(
            (F.col("hi_d") >= F.col("lo_d"))
            & (F.col("lo") <= F.col("hi_d"))
            & (F.col("hi") >= F.col("lo_d"))
        )
    )
    return (
        dec.groupBy("source", "decile")
        .agg(
            (F.max("hi_d") - F.max("lo_d") + 1).alias("n_docs"),
            F.min("lm_score_ppm").alias("min_ppm"),
            F.max("lm_score_ppm").alias("max_ppm"),
        )
    )


def _stage_map(scored: DataFrame) -> DataFrame:
    """(lm_score_ppm, stage) over the GLOBAL distinct-score frame:
    stage 0/1/2 = hard/medium/easy tertile by ascending score, a
    tied-score block assigned whole by its first rank ``lo``
    (``3*lo <= n`` <=> ``lo <= n div 3`` for integer lo)."""
    framed = distinct_score_rank_frame(scored, [])
    return framed.select(
        "lm_score_ppm",
        F.expr(
            "CAST(CASE WHEN 3 * lo <= n THEN 0 "
            "WHEN 3 * lo <= 2 * n THEN 1 ELSE 2 END AS BIGINT)"
        ).alias("stage"),
    )


def q_curriculum_stage_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _scored_docs(spark, sf_dir)
    # equi-join on the integer score; the stage map is <= 1e6+1 rows
    # (no broadcast hint: AQE broadcasts it at any realistic size)
    staged = scored.join(_stage_map(scored), "lm_score_ppm")
    return (
        staged.groupBy("stage", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens"),
        )
    )


def q_curriculum_pacing_schedule(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # same double-read as the stage mix: the memoized checkpoint
    # serves both reads
    scored = _scored_docs(spark, sf_dir)
    staged = scored.join(_stage_map(scored), "lm_score_ppm")
    per_stage = staged.groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("tokens"),
    )
    # training order: easy first = stage DESCENDING (2, 1, 0); the
    # windows run over the <= 3-row stage frame
    w_cum = Window.orderBy(F.col("stage").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    return (
        per_stage.select(
            "stage",
            "n_docs",
            "tokens",
            F.sum("tokens").over(w_cum).alias("cum_tokens"),
            F.sum("tokens").over(w_all).alias("_total"),
        )
        .select(
            "stage",
            "n_docs",
            "tokens",
            "cum_tokens",
            F.expr(exact_ppm_spark("tokens", "_total")).alias("share_ppm"),
        )
        .orderBy(F.col("stage").desc())
    )


_SCORED_CTE = f"""
  j AS (
    SELECT s.doc_id, d.source, s.lm_score_ppm,
           CAST({N_TOKENS_SQL} AS BIGINT) AS n_tok
    FROM lm_scores s JOIN documents d USING (doc_id)
  )
"""

CURRICULUM_DECILE_SQL = f"""
  WITH {LM_SCORES_CTE},
  {_SCORED_CTE},
  r AS (
    SELECT source, lm_score_ppm,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY lm_score_ppm, doc_id) AS rnk,
           COUNT(*) OVER (PARTITION BY source) AS n
    FROM j
  ),
  d AS (
    SELECT r.source, r.lm_score_ppm, g.range AS decile
    FROM r JOIN range(10) g
      ON r.rnk > (g.range * r.n) // 10
     AND r.rnk <= ((g.range + 1) * r.n) // 10
  )
  SELECT source, decile,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         MIN(lm_score_ppm) AS min_ppm,
         MAX(lm_score_ppm) AS max_ppm
  FROM d
  GROUP BY source, decile
  ORDER BY source, decile
"""

_STAGED_CTE = """
  r AS (
    SELECT doc_id, source, lm_score_ppm, n_tok,
           ROW_NUMBER() OVER (ORDER BY lm_score_ppm, doc_id) AS rnk,
           COUNT(*) OVER () AS n
    FROM j
  ),
  g AS (
    SELECT source, n_tok,
           MIN(rnk) OVER (PARTITION BY lm_score_ppm) AS lo, n
    FROM r
  ),
  st AS (
    SELECT source, n_tok,
           CAST(CASE WHEN 3 * lo <= n THEN 0
                     WHEN 3 * lo <= 2 * n THEN 1
                     ELSE 2 END AS BIGINT) AS stage
    FROM g
  )
"""

CURRICULUM_STAGE_MIX_SQL = f"""
  WITH {LM_SCORES_CTE},
  {_SCORED_CTE},
  {_STAGED_CTE}
  SELECT stage, source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS tokens
  FROM st
  GROUP BY stage, source
  ORDER BY stage, source
"""

CURRICULUM_PACING_SQL = f"""
  WITH {LM_SCORES_CTE},
  {_SCORED_CTE},
  {_STAGED_CTE},
  per_stage AS (
    SELECT stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS tokens
    FROM st GROUP BY stage
  ),
  sched AS (
    SELECT stage, n_docs, tokens,
           CAST(SUM(tokens) OVER (ORDER BY stage DESC
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_tokens,
           CAST(SUM(tokens) OVER () AS BIGINT) AS _total
    FROM per_stage
  )
  SELECT stage, n_docs, tokens, cum_tokens,
         {exact_ppm_sql('tokens', '_total')} AS share_ppm
  FROM sched
  ORDER BY stage DESC
"""

QUERIES_EXPORT: dict[str, tuple[SparkQuery, "str | None"]] = {
    "curriculum_decile_bounds": (
        q_curriculum_decile_bounds,
        CURRICULUM_DECILE_SQL,
    ),
    "curriculum_stage_mix": (q_curriculum_stage_mix, CURRICULUM_STAGE_MIX_SQL),
    "curriculum_pacing_schedule": (
        q_curriculum_pacing_schedule,
        CURRICULUM_PACING_SQL,
    ),
}

"""Difficulty-aware sequence packing: curriculum stage × packing.

A curriculum trainer does not just ORDER data easy-to-hard — its data
loader consumes PACKED fixed-budget sequences, and a sequence that
mixes easy and hard documents defeats the stage schedule (the stage
of a mixed sequence is undefined). The operator a curriculum pipeline
actually feeds the loader is therefore STAGE-HOMOGENEOUS packing:
assign every scored document its global curriculum stage (the tertile
assignment of functions/curriculum.py, on the shared corpus-bigram-LM
score of functions/search.py — the same spelling the rank / prune /
curriculum families use, so "difficulty" can never drift between the
schedule and the packed shards), then concat-and-chop documents into
fixed-token-budget sequences WITHIN each stage, in deterministic
``doc_id`` order:

    seq_id = (same-stage tokens before this doc) div BUDGET

Documents land whole in the sequence where their prefix starts (the
chop to the exact budget happens at tokenize time downstream), the
convention of ``pack_training_sequences`` (functions/traindata.py).
Docs with <2 tokens carry no LM score and are excluded — the identical
rule on both engines, shared with the whole curriculum family.

Three queries:

- ``pack_by_curriculum_stage``: the per-sequence manifest
  (stage, seq_id → doc/token counts, doc-id span) — what the loader's
  shard reader consumes. The manifest rows are UNORDERED (r17: the
  presentation sort was dropped); training order is reconstructed from
  (stage DESC, seq_id).
- ``pack_stage_fill_summary``: per stage, sequence count, doc/token
  volume, capacity (n_seqs × budget) and the exact-ppm fill ratio —
  the one-line packing-efficiency readout per stage (>1e6 ppm means
  budget-straddling docs overflowed sequences).
- ``pack_fill_histogram``: per stage, sequences bucketed by fill
  octile (``least(tokens*8 div budget, 15)`` — bins 8+ are overflow)
  with min/max sequence fill — the distribution that decides whether
  downstream chopping is worth enabling.

Scale shape: the per-stage exclusive prefix sum is
``sharding.chunked_prefix_sum`` keyed by ``stage`` -- the shard
manifest's two-level chunked decomposition, with no single-partition
window and no unbounded per-key window anywhere (a naive
``SUM() OVER (PARTITION BY stage)`` would funnel a third of the corpus
through one task). Its docstring has the details.

The ORACLES are the naive forms (``ROW_NUMBER`` stage assignment +
one ``SUM() OVER (PARTITION BY stage ORDER BY doc_id)`` window), so
the driver hash-compare proves both the bounded-frame stage
decomposition and the two-level prefix-sum decomposition exact.

The stage-rule SQL (the tertile CASE over the distinct-score block
rank) is spelled here as well as in functions/curriculum.py — the
Spark side shares ``curriculum._stage_map`` directly, and
``tests/test_currpack.py`` pins the two SQL spellings to each other
so they cannot drift silently (the tokcount lesson).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import memo
from .curriculum import _scored_docs, _stage_map
from .intmath import exact_ppm_spark, exact_ppm_sql
from .search import LM_SCORES_CTE
from .sharding import chunked_prefix_sum
from .tokcount import N_TOKENS_SQL

SparkQuery = Callable[[SparkSession, str], DataFrame]

_PACK_BUDGET = 2048
_HIST_BINS = 16  # fill octiles 0..7, overflow octiles 8..15 (capped)


def _packed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage, doc_id, n_tok, seq_id) for every scored document. The
    stage-map build and the doc-level join probe both read the scored
    frame (a memo), and the prefix-sum decomposition reads the
    3-int64-column staged frame twice, so it is a memo too."""

    def build() -> DataFrame:
        scored = _scored_docs(spark, sf_dir)
        return scored.join(_stage_map(scored), "lm_score_ppm").select(
            "stage", "doc_id", "n_tok"
        )

    staged = memo(spark, "staged_docs", sf_dir, "documents", build)
    return (
        chunked_prefix_sum(staged, ["stage"])
        .withColumn("seq_id", F.expr(f"before div {_PACK_BUDGET}"))
        .select("stage", "doc_id", "n_tok", "seq_id")
    )


def _seq_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage, seq_id, n_docs, tokens, min_doc_id, max_doc_id)."""
    return (
        _packed_docs(spark, sf_dir)
        .groupBy("stage", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


def q_pack_by_curriculum_stage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-sequence packing manifest, unordered; training order (easy
    stage 2 first, then sequence order) is reconstructed from
    (stage DESC, seq_id)."""
    return _seq_manifest(spark, sf_dir)


def q_pack_stage_fill_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per stage: sequence/doc/token volumes, token capacity at the
    pack budget, and the exact-ppm fill ratio (can exceed 1e6 —
    budget-straddling docs overflow their sequence by convention)."""
    per_stage = (
        _seq_manifest(spark, sf_dir)
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("tokens").alias("tokens"),
        )
    )
    return (
        per_stage.withColumn(
            "capacity", F.col("n_seqs") * F.lit(_PACK_BUDGET).cast("long")
        )
        .select(
            "stage",
            "n_seqs",
            "n_docs",
            "tokens",
            "capacity",
            F.expr(exact_ppm_spark("tokens", "capacity")).alias("fill_ppm"),
        )
    )


def q_pack_fill_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (stage, fill octile): sequence count and min/max sequence
    token fill. Bin = least(tokens*8 div budget, 15): bins 0..7 are
    underfull octiles, 8..15 catch overflow up to (and beyond, capped)
    2x budget."""
    binned = _seq_manifest(spark, sf_dir).withColumn(
        "fill_bin",
        F.expr(
            f"least((tokens * 8) div {_PACK_BUDGET},"
            f" CAST({_HIST_BINS - 1} AS BIGINT))"
        ),
    )
    return (
        binned.groupBy("stage", "fill_bin")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.min("tokens").alias("min_tokens"),
            F.max("tokens").alias("max_tokens"),
        )
    )


# --------------------------------------------------------------------------
# Oracles: the NAIVE forms. Stage assignment by per-row ROW_NUMBER
# (proving the bounded distinct-score-frame decomposition), packing by
# one window SUM partitioned by stage (proving the two-level chunked
# prefix sum). The stage CASE below must stay character-compatible
# with curriculum.py's _STAGED_CTE — pinned by tests/test_currpack.py.
# --------------------------------------------------------------------------

_PACKED_CTE = f"""
  j AS (
    SELECT s.doc_id, s.lm_score_ppm,
           CAST({N_TOKENS_SQL} AS BIGINT) AS n_tok
    FROM lm_scores s JOIN documents d USING (doc_id)
  ),
  r AS (
    SELECT doc_id, n_tok, lm_score_ppm,
           ROW_NUMBER() OVER (ORDER BY lm_score_ppm, doc_id) AS rnk,
           COUNT(*) OVER () AS n
    FROM j
  ),
  g AS (
    SELECT doc_id, n_tok,
           MIN(rnk) OVER (PARTITION BY lm_score_ppm) AS lo, n
    FROM r
  ),
  st AS (
    SELECT doc_id, n_tok,
           CAST(CASE WHEN 3 * lo <= n THEN 0
                     WHEN 3 * lo <= 2 * n THEN 1
                     ELSE 2 END AS BIGINT) AS stage
    FROM g
  ),
  packed AS (
    SELECT stage, doc_id, n_tok,
           CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY stage
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT)
             // {_PACK_BUDGET} AS seq_id
    FROM st
  ),
  manifest AS (
    SELECT stage, seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS tokens,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM packed GROUP BY stage, seq_id
  )
"""

PACK_BY_STAGE_SQL = f"""
  WITH {LM_SCORES_CTE},
  {_PACKED_CTE}
  SELECT stage, seq_id, n_docs, tokens, min_doc_id, max_doc_id
  FROM manifest
  ORDER BY stage DESC, seq_id
"""

PACK_FILL_SUMMARY_SQL = f"""
  WITH {LM_SCORES_CTE},
  {_PACKED_CTE},
  s AS (
    SELECT stage,
           CAST(COUNT(*) AS BIGINT) AS n_seqs,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS tokens,
           CAST(COUNT(*) * {_PACK_BUDGET} AS BIGINT) AS capacity
    FROM manifest GROUP BY stage
  )
  SELECT stage, n_seqs, n_docs, tokens, capacity,
         {exact_ppm_sql('tokens', 'capacity')} AS fill_ppm
  FROM s
  ORDER BY stage DESC
"""

PACK_FILL_HISTOGRAM_SQL = f"""
  WITH {LM_SCORES_CTE},
  {_PACKED_CTE},
  b AS (
    SELECT stage,
           CAST(LEAST((tokens * 8) // {_PACK_BUDGET},
                      {_HIST_BINS - 1}) AS BIGINT) AS fill_bin,
           tokens
    FROM manifest
  )
  SELECT stage, fill_bin,
         CAST(COUNT(*) AS BIGINT) AS n_seqs,
         MIN(tokens) AS min_tokens,
         MAX(tokens) AS max_tokens
  FROM b
  GROUP BY stage, fill_bin
  ORDER BY stage DESC, fill_bin
"""

QUERIES_EXPORT: dict[str, tuple[SparkQuery, "str | None"]] = {
    "pack_by_curriculum_stage": (
        q_pack_by_curriculum_stage,
        PACK_BY_STAGE_SQL,
    ),
    "pack_stage_fill_summary": (
        q_pack_stage_fill_summary,
        PACK_FILL_SUMMARY_SQL,
    ),
    "pack_fill_histogram": (q_pack_fill_histogram, PACK_FILL_HISTOGRAM_SQL),
}

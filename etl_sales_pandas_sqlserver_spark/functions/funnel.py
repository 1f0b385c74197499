"""Curation funnel audit: per-stage survival of the cleaning pipeline.

``corpus_curation_pipeline`` (functions/traindata.py) emits only the
FINAL census of its four-stage chain (eval holdout -> exact dedup ->
token-length gate -> benchmark decontamination). The operational
artifact every large-scale curation pipeline also publishes — the
FineWeb/RefinedWeb-style filtering report, and the descendant of the
reference's valid/invalid split-with-Reason audit (main.py:106-147,
where every dropped row is attributed to the FIRST rule that rejected
it: N > A > D) — is the per-stage funnel: how many documents and tokens each gate
removed, and how many entered it.

Single-pass shape, not a per-stage re-run: every document is attributed
to the FIRST stage that rejects it (or ``kept``) in one projection —
one corpus scan feeding a keep-first test spelled as a map-side-
combinable ``min(doc_id)`` per fingerprint plus a null-safe join back
(skew-immune where a ``row_number`` window is not: AQE splits a hot
join partition but can never split a window partition, and a
boilerplate fingerprint with millions of copies is a REALISTIC hot
key), one membership join against the decontamination set
(inverted-index build, eval side tiny — AQE broadcasts it), then a
hash aggregate keyed by the FIXED 5-value stage domain, map-side
combined to <= 5 rows per task. The docs-entering arithmetic runs as a
window over that <= 5-row frame (the bounded single-partition class of
``curriculum_pacing_schedule``). A k-stage funnel over 100 TB therefore
costs ONE pass plus the dedup/decontaminate shuffles the pipeline
already pays — never k scans.

Stage spellings are IMPORTED from their owning modules so the audit can
never disagree with the pipeline it audits: the fingerprint key from
functions/textstats.py, the ``_MIN_TOKENS`` gate from
functions/traindata.py, the contamination set from functions/dedup.py,
token counts from functions/tokcount.py. The oracle replays the naive
left-join decomposition, so the driver hash-compare proves the
union-of-branches engine plan equals the rule-by-rule definition.

- ``curation_funnel_stages``: global funnel — per stage in pipeline
  order: docs/tokens attributed, docs entering, and the exact ppm of
  entering docs the stage consumed.
- ``curation_funnel_by_source``: the same attribution keyed by
  (source, stage) — which domains lose their volume at which gate
  (bounded output: |sources| x 5 rows).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .dedup import DECONTAMINATE_SQL, q_decontaminate
from .intmath import exact_ppm_spark, exact_ppm_sql
from .tokcount import (
    N_TOKENS_SQL,
    fingerprint_col,
    fingerprint_sql,
    n_tokens_spark,
)
from .traindata import _MIN_TOKENS

SparkQuery = Callable[[SparkSession, str], DataFrame]

# pipeline order -> stage label (fixed 5-value domain)
_STAGES = ["eval_holdout", "exact_dup", "too_short", "contaminated", "kept"]


def _stage_name_col() -> F.Column:
    pred = None
    for order, name in enumerate(_STAGES[:-1]):
        cond = F.col("stage_order") == order
        pred = F.when(cond, name) if pred is None else pred.when(cond, name)
    return pred.otherwise(_STAGES[-1])


def _staged_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tok, stage_order, stage): every document attributed
    to the first pipeline stage that rejects it, in one pass."""
    docs = load_table(spark, sf_dir, "documents")
    # eval docs never enter the pool (corpus_curation_pipeline stage 0)
    pool = docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        "source",
        n_tokens_spark().alias("n_tok"),
        fingerprint_col().alias("fingerprint"),
    )
    # keep-first as a MIN-AGG + join, not a row_number window: a
    # boilerplate fingerprint with 10^9 copies would funnel a window
    # partition through one task (AQE cannot split a window), while
    # the min() partial-aggregates map-side and AQE skew-splits the
    # sort-merge join back. Null-safe key: null-text docs share the
    # null fingerprint group, exactly like the oracle's PARTITION BY.
    # rn > 1  <=>  doc_id > min(doc_id) over the group.
    firsts = pool.groupBy(F.col("fingerprint").alias("fp")).agg(
        F.min("doc_id").alias("first_id")
    )
    ranked = pool.join(
        firsts, F.col("fingerprint").eqNullSafe(F.col("fp")), "inner"
    ).withColumn(
        "rn", F.when(F.col("doc_id") == F.col("first_id"), 1).otherwise(2)
    )
    contaminated = (
        q_decontaminate(spark, sf_dir)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
        .withColumn("is_contam", F.lit(True))
    )
    # membership probe: contaminated is tiny relative to the corpus
    # (eval-side-bounded), AQE broadcasts it — no hint needed
    # too_short is NULL-ABSORBING (r14, ADVICE fix): a null-text doc
    # has NULL n_tok (size(split(NULL)) is NULL on both engines), and
    # a bare ``n_tok < _MIN_TOKENS`` predicate is NULL for it, letting
    # it fall through to 'kept' — while corpus_curation_pipeline drops
    # the same doc because NULL fails its ``n_tokens >= _MIN_TOKENS``
    # filter. The explicit isNull arm keeps the funnel's 'kept' equal
    # to the pipeline census on null-text corpora too.
    stage_order = (
        F.when(F.col("rn") > 1, 1)
        .when(
            F.col("n_tok").isNull() | (F.col("n_tok") < _MIN_TOKENS), 2
        )
        .when(F.col("is_contam"), 3)
        .otherwise(4)
    )
    pool_staged = (
        ranked.join(contaminated, "doc_id", "left")
        .select(
            "source",
            "n_tok",
            stage_order.cast("long").alias("stage_order"),
        )
    )
    eval_staged = docs.filter(F.col("doc_id") % 10 == 0).select(
        "source",
        n_tokens_spark().alias("n_tok"),
        F.lit(0).cast("long").alias("stage_order"),
    )
    return pool_staged.unionByName(eval_staged).withColumn(
        "stage", _stage_name_col()
    )


def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _staged_docs(spark, sf_dir)
        .groupBy("stage_order", "stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("n_tok"), F.lit(0)).cast("long").alias("tokens"),
        )
    )
    # docs entering stage i = total - everything dropped before i;
    # both windows run over the <= 5-row stage frame
    w_prev = Window.orderBy("stage_order").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy()
    return (
        agg.select(
            "stage_order",
            "stage",
            "n_docs",
            "tokens",
            (
                F.sum("n_docs").over(w_all)
                - F.coalesce(F.sum("n_docs").over(w_prev), F.lit(0))
            ).alias("docs_in"),
        )
        .select(
            "stage_order",
            "stage",
            "n_docs",
            "tokens",
            "docs_in",
            F.expr(exact_ppm_spark("n_docs", "docs_in")).alias("ppm_of_in"),
        )
        .orderBy("stage_order")
    )


def q_funnel_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _staged_docs(spark, sf_dir)
        .groupBy("source", "stage_order", "stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("n_tok"), F.lit(0)).cast("long").alias("tokens"),
        )
    )


_STAGED_CTE = f"""
  pool AS (
    SELECT doc_id, source,
           CAST({N_TOKENS_SQL} AS BIGINT) AS n_tok,
           {fingerprint_sql()} AS fingerprint
    FROM documents WHERE doc_id % 10 <> 0
  ),
  ranked AS (
    SELECT doc_id, source, n_tok,
           row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
    FROM pool
  ),
  contaminated AS (
    SELECT DISTINCT train_id AS doc_id FROM ({DECONTAMINATE_SQL}) dc
  ),
  staged AS (
    SELECT r.source, r.n_tok,
           CAST(CASE WHEN r.rn > 1 THEN 1
                     WHEN r.n_tok IS NULL OR r.n_tok < {_MIN_TOKENS} THEN 2
                     WHEN c.doc_id IS NOT NULL THEN 3
                     ELSE 4 END AS BIGINT) AS stage_order
    FROM ranked r LEFT JOIN contaminated c USING (doc_id)
    UNION ALL
    SELECT source, CAST({N_TOKENS_SQL} AS BIGINT) AS n_tok,
           CAST(0 AS BIGINT) AS stage_order
    FROM documents WHERE doc_id % 10 = 0
  ),
  named AS (
    SELECT stage_order,
           CASE stage_order WHEN 0 THEN 'eval_holdout'
                            WHEN 1 THEN 'exact_dup'
                            WHEN 2 THEN 'too_short'
                            WHEN 3 THEN 'contaminated'
                            ELSE 'kept' END AS stage,
           source, n_tok
    FROM staged
  )
"""

FUNNEL_STAGES_SQL = f"""
  WITH {_STAGED_CTE},
  agg AS (
    SELECT stage_order, stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) AS tokens
    FROM named GROUP BY stage_order, stage
  ),
  fun AS (
    SELECT stage_order, stage, n_docs, tokens,
           CAST(SUM(n_docs) OVER ()
                - COALESCE(SUM(n_docs) OVER (
                      ORDER BY stage_order
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ), 0) AS BIGINT) AS docs_in
    FROM agg
  )
  SELECT stage_order, stage, n_docs, tokens, docs_in,
         {exact_ppm_sql('n_docs', 'docs_in')} AS ppm_of_in
  FROM fun
  ORDER BY stage_order
"""

FUNNEL_BY_SOURCE_SQL = f"""
  WITH {_STAGED_CTE}
  SELECT source, stage_order, stage,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) AS tokens
  FROM named
  GROUP BY source, stage_order, stage
  ORDER BY source, stage_order
"""

QUERIES_EXPORT: dict[str, tuple[SparkQuery, "str | None"]] = {
    "curation_funnel_stages": (q_funnel_stages, FUNNEL_STAGES_SQL),
    "curation_funnel_by_source": (q_funnel_by_source, FUNNEL_BY_SOURCE_SQL),
}

"""Corpus snapshot diff: classify every document across two corpus
versions as added / removed / edited / unchanged by CONTENT
fingerprint, plus the per-source churn rollup.

This is the incremental-ingest bookkeeping step a production corpus
pipeline runs before any dedup/curation pass: yesterday's snapshot vs
today's decides what actually needs reprocessing (the edited+added
slice), what downstream artifacts to invalidate (removed), and whether
a source's churn rate looks anomalous. The fingerprint is the same
whitespace-normalized md5 the exact-dedup family uses
(tokcount.fingerprint_col and its SQL twin), so "edited"
means the CONTENT changed, not merely the bytes.

The two snapshots here are derived deterministically from the one
``documents`` table (old = doc_id % 5 != 4, new = doc_id % 11 != 7,
new text gains a suffix when doc_id % 7 == 3) -- the derivation is the
test fixture; the operator itself (fingerprint scan + FULL OUTER join
on the key + null/equality classification) is the production shape.

Scale: fingerprints are computed scan-side (one md5 per doc, no
shuffle), the FULL OUTER join shuffles only (doc_id, 32-byte fp) pairs
on the join key, and the churn rollup is map-side combinable. At
100 TB both snapshots would be bucketed by doc_id, making the join
shuffle-free; nothing else changes.

Registered since round 10 (functions/registry.py); driver-hash green.
tests/test_corpus_diff.py runs the same compare the driver uses.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .tokcount import fingerprint_col, fingerprint_sql

SparkQuery = Callable[[SparkSession, str], DataFrame]

#: snapshot membership / edit markers (pure arithmetic on doc_id so
#: both engines derive identical fixtures)
_OLD_MOD, _OLD_DROP = 5, 4
_NEW_MOD, _NEW_DROP = 11, 7
_EDIT_MOD, _EDIT_HIT = 7, 3
_EDIT_SUFFIX = " rev2"


def _snapshots(spark: SparkSession, sf_dir: str) -> "tuple[DataFrame, DataFrame]":
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    old = docs.filter(F.col("doc_id") % _OLD_MOD != _OLD_DROP).select(
        "doc_id", "source", fingerprint_col().alias("fp")
    )
    new_text = F.when(
        F.col("doc_id") % _EDIT_MOD == _EDIT_HIT,
        F.concat(F.col("text"), F.lit(_EDIT_SUFFIX)),
    ).otherwise(F.col("text"))
    new = (
        docs.filter(F.col("doc_id") % _NEW_MOD != _NEW_DROP)
        .withColumn("text", new_text)
        .select("doc_id", "source", fingerprint_col().alias("fp"))
    )
    return old, new


def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    old, new = _snapshots(spark, sf_dir)
    o = old.select(
        F.col("doc_id"), F.col("source").alias("src_old"), F.col("fp").alias("fp_old")
    )
    n = new.select(
        F.col("doc_id"), F.col("source").alias("src_new"), F.col("fp").alias("fp_new")
    )
    j = o.join(n, "doc_id", "full_outer")
    status = (
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") != F.col("fp_new"), F.lit("edited"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            "doc_id",
            F.coalesce("src_new", "src_old").alias("source"),
            status.alias("status"),
        )
    )


def q_corpus_churn_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    diff = q_corpus_snapshot_diff(spark, sf_dir)
    return (
        diff.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("status") == "added").cast("long")).alias("n_added"),
            F.sum((F.col("status") == "removed").cast("long")).alias(
                "n_removed"
            ),
            F.sum((F.col("status") == "edited").cast("long")).alias("n_edited"),
            F.sum((F.col("status") == "unchanged").cast("long")).alias(
                "n_unchanged"
            ),
        )
    )


_DIFF_CTE = f"""
  old AS (
    SELECT doc_id, source, {fingerprint_sql()} AS fp
    FROM documents WHERE doc_id % {_OLD_MOD} <> {_OLD_DROP}
  ),
  new AS (
    SELECT doc_id, source,
           {fingerprint_sql(
               f"CASE WHEN doc_id % {_EDIT_MOD} = {_EDIT_HIT} "
               f"THEN text || '{_EDIT_SUFFIX}' ELSE text END"
           )} AS fp
    FROM documents WHERE doc_id % {_NEW_MOD} <> {_NEW_DROP}
  ),
  d AS (
    SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
           coalesce(new.source, old.source) AS source,
           CASE WHEN old.fp IS NULL THEN 'added'
                WHEN new.fp IS NULL THEN 'removed'
                WHEN old.fp <> new.fp THEN 'edited'
                ELSE 'unchanged' END AS status
    FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
  )"""

CORPUS_DIFF_SQL = f"""
  WITH {_DIFF_CTE}
  SELECT doc_id, source, status FROM d ORDER BY doc_id
"""

CORPUS_CHURN_SQL = f"""
  WITH {_DIFF_CTE}
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_added,
         CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_removed,
         CAST(SUM(CASE WHEN status = 'edited' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_edited,
         CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unchanged
  FROM d
  GROUP BY source
  ORDER BY source
"""

#: merged into functions/registry.py FUNCTION_QUERIES (round 10)
QUERIES_EXPORT: dict[str, tuple[SparkQuery, "str | None"]] = {
    "corpus_snapshot_diff": (q_corpus_snapshot_diff, CORPUS_DIFF_SQL),
    "corpus_churn_by_source": (q_corpus_churn_by_source, CORPUS_CHURN_SQL),
}

"""Deterministic weighted sampling: priority sampling (Duffield,
Lund & Thorup) with md5-derived uniforms, top-k per stratum.

A training-data mix often wants "sample k documents per language,
longer documents proportionally more likely" -- weighted sampling
without replacement. ``rand()`` breaks reproducibility (and the
driver's cross-engine hash); the standard fix is priority sampling:
give row i priority ``w_i / u_i`` with ``u_i`` a uniform derived from
a STABLE hash of the row's key, keep the k highest priorities per
stratum. Re-runs, retries and both engines agree bit-for-bit because
the uniform is ``(first 8 md5 hex digits + 1) / 2^32`` -- md5 is
identical everywhere, and the single double division of identical
operands is IEEE-rounded identically.

Scale shape: priorities are stateless per-row expressions (no shuffle);
the per-stratum top-k plans as WindowGroupLimit (per-partition top-k
BEFORE the exchange), so the shuffle carries at most k rows per
(partition, stratum) -- never the corpus.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .tokcount import md5_slice, md5_slice_sql

SparkQuery = Callable[[SparkSession, str], DataFrame]

_SAMPLE_K = 5

WEIGHTED_PRIORITY_SQL = f"""
  WITH p AS (
    SELECT doc_id, lang, n_chars,
           n_chars * 4294967296.0
             / ({md5_slice_sql("CAST(doc_id AS VARCHAR)", 1, 8)} + 1)
             AS priority
    FROM documents
  ),
  r AS (
    SELECT doc_id, lang, n_chars, priority,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY priority DESC, doc_id) AS rnk
    FROM p
  )
  SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id,
         CAST(n_chars AS BIGINT) AS n_chars
  FROM r
  WHERE rnk <= {_SAMPLE_K}
  ORDER BY lang, rnk
"""


def q_sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    # u = (first 32 md5 bits + 1) / 2^32 in (0, 1]; priority = w / u.
    # Spelled as w * 2^32 / (h + 1): one double division of identical
    # bigint operands on both engines (w * 2^32 <= ~2.6e12, exact in
    # double), so the order -- and the hash -- is engine-independent.
    h = md5_slice(F.col("doc_id").cast("string"), 1, 8)
    p = docs.withColumn(
        "priority",
        F.col("n_chars") * F.lit(4294967296.0) / (h + F.lit(1)),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("priority").desc(), F.col("doc_id")
    )
    return (
        p.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= _SAMPLE_K)
        .select("lang", "rnk", "doc_id", "n_chars")
    )


QUERIES_EXPORT: dict[str, tuple[SparkQuery, str | None]] = {
    "sample_weighted_priority": (q_sample_weighted_priority, WEIGHTED_PRIORITY_SQL),
}

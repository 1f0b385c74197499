"""Budgeted corpus release: water-fill → sample → token-balanced shards.

The round-11 capstone composite — the writer path a pipeline runs to
cut a training corpus release under a token budget, chaining the three
primitives end-to-end on ONE memoized projection
(``budget.doc_tokens``):

1. **allocate**: water-fill the global budget across sources
   (``functions/budget.py`` — discrete max-min fair, all int64);
2. **sample**: the deterministic md5 ppm gate admits each doc iff
   ``gate < funded_ppm(source)`` (the same shared gate the audit
   query reports on);
3. **shard**: the SAMPLED stream flows through the two-level chunked
   exclusive prefix sum (``functions/sharding.py``) into token-balanced output
   shards — each row of the result is one shard a copy task would
   write, with its doc/token volume and source diversity.

Like ``corpus_curation_pipeline`` for the dedup/quality side, the
value of registering the COMPOSITE (not just its stages) is that the
driver hash-verifies the stages agree end-to-end: the gate decides
membership, the prefix sum orders exactly the surviving docs, and the
DuckDB oracle recomputes the whole chain with a naive global window —
any disagreement between the staged Spark decomposition and the
straight-line semantics is a hash mismatch.

Scale: one text scan into the memoized 4-int64-column projection; the
water-fill is |sources|-row windows; the gate is stateless; the shard
assignment adds the shuffles the plain manifest pays (chunk sums,
superchunk rollup, by-chunk window) — nothing new beyond the proven
stages.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .budget import SAMPLE_GATE_SQL, _WF_CTE, _waterfill, doc_tokens
from .intmath import exact_ppm_spark, exact_ppm_sql
from .sharding import _N_SHARDS, assign_token_shards
from .tokcount import N_TOKENS_SQL

SparkQuery = Callable[[SparkSession, str], DataFrame]


def q_release_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = doc_tokens(spark, sf_dir)
    per_source = docs.groupBy("source").agg(F.sum("n_tok").alias("avail"))
    shares = _waterfill(per_source).select(
        "source",
        F.expr(exact_ppm_spark("alloc", "avail")).alias("target_ppm"),
    )
    sampled = docs.join(
        F.broadcast(shares), "source"  # broadcast-ok: |sources|-row waterfill frame
    ).filter(F.col("gate") < F.col("target_ppm"))
    placed = assign_token_shards(sampled.select("doc_id", "n_tok", "source"))
    return (
        placed.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens"),
            F.count_distinct(F.col("source")).alias("n_sources"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


RELEASE_SHARD_SQL = f"""
  {_WF_CTE},
  d AS (
    SELECT doc_id, source,
           CAST({N_TOKENS_SQL} AS BIGINT) AS n_tok,
           {SAMPLE_GATE_SQL} AS gate
    FROM documents
  ),
  sh AS (
    SELECT source, {exact_ppm_sql('alloc', 'avail')} AS target_ppm
    FROM alloc
  ),
  sampled AS (
    SELECT d.doc_id, d.source, d.n_tok
    FROM d JOIN sh USING (source)
    WHERE d.gate < sh.target_ppm
  ),
  c AS (
    SELECT doc_id, source, n_tok,
           CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT)
             AS before,
           CAST(SUM(n_tok) OVER () AS BIGINT) AS total
    FROM sampled
  )
  SELECT before // GREATEST((total + {_N_SHARDS - 1}) // {_N_SHARDS},
                            CAST(1 AS BIGINT)) AS shard_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS tokens,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         MIN(doc_id) AS min_doc_id,
         MAX(doc_id) AS max_doc_id
  FROM c
  GROUP BY 1
  ORDER BY 1
"""

QUERIES_EXPORT: dict[str, tuple[SparkQuery, "str | None"]] = {
    "release_shard_manifest": (q_release_shard_manifest, RELEASE_SHARD_SQL),
}

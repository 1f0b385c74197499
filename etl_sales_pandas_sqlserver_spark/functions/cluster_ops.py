"""Cluster post-processing: pick the canonical representative per
near-dup cluster.

Clustering (functions/dedup.py cluster_components over the
MinHash-verified pairs) answers "which documents are the same"; the
dedup DECISION still needs "which one do we keep". The standard policy
keeps the best-quality member and drops the rest -- here "best" is the
deterministic integer policy (longest text, doc_id tie-break) so the
choice is reproducible and oracle-checkable; swapping in a model score
is a one-line change to the ordering.

Scale shape: cluster labels come from the shared memoized pair feed
(O(log n) large-star/small-star rounds); the representative choice is
one WindowGroupLimit-style top-1 per cluster plus a member count --
both map-side-combinable aggregates over |clustered docs| rows, never
the corpus.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .dedup import (
    _JACCARD_THRESHOLD,
    _SHINGLES_CTE,
    minhash_clusters,
)

SparkQuery = Callable[[SparkSession, str], DataFrame]

CLUSTER_REPS_SQL = f"""
  WITH RECURSIVE {_SHINGLES_CTE},
  dup AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
          >= {_JACCARD_THRESHOLD}
  ),
  edges AS (
    SELECT a_id AS s, b_id AS d FROM dup
    UNION ALL
    SELECT b_id AS s, a_id AS d FROM dup
  ),
  walk(node, reach) AS (
    SELECT s, d FROM edges
    UNION
    SELECT w.node, e.d FROM walk w JOIN edges e ON e.s = w.reach
  ),
  clusters AS (
    SELECT node AS doc_id, LEAST(node, MIN(reach)) AS cluster_id
    FROM walk GROUP BY node
  ),
  scored AS (
    SELECT c.cluster_id, c.doc_id, length(d.text) AS n_chars
    FROM clusters c JOIN documents d USING (doc_id)
  ),
  ranked AS (
    SELECT cluster_id, doc_id, n_chars,
           ROW_NUMBER() OVER (PARTITION BY cluster_id
                              ORDER BY n_chars DESC, doc_id) AS rn
    FROM scored
  )
  SELECT r.cluster_id,
         r.doc_id AS rep_doc_id,
         CAST(r.n_chars AS BIGINT) AS rep_chars,
         m.n_members
  FROM ranked r
  JOIN (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM clusters GROUP BY cluster_id) m USING (cluster_id)
  WHERE r.rn = 1
  ORDER BY r.cluster_id
"""


def q_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = minhash_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n_chars")
    )
    scored = clusters.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    reps = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("n_chars").cast("bigint").alias("rep_chars"),
        )
    )
    members = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return reps.join(members, "cluster_id")


QUERIES_EXPORT: dict[str, tuple[SparkQuery, str | None]] = {
    "dedup_cluster_representatives": (
        q_cluster_representatives,
        CLUSTER_REPS_SQL,
    ),
}

"""Array / lateral-view operators: positional explode over token
arrays and element-wise vector aggregation. These are the engine's
generate/flatten surface (Hive LATERAL VIEW, Trino UNNEST WITH
ORDINALITY) -- pervasive in LLM-corpus feature work and absent from the
reference's scalar-only pipeline (SURVEY.md section 2.2).

Scale shapes:

- **positional explode** (`token_position_profile`): posexplode of the
  first 32 tokens per doc -- the slice caps fan-out at 32 rows/doc
  BEFORE the generate, so blow-up is bounded by construction and the
  aggregation is a 32-key partial agg (map-side combine collapses each
  task to <=32 rows; the shuffle is bytes, not the corpus).
- **vector centroid** (`embedding_centroid_by_group`): element-wise
  mean via posexplode + (group, dim) aggregation. One shuffle whose
  key space is |groups| x dims; partial aggregation makes the shuffle
  volume |tasks| x |keys|, independent of corpus row count -- the
  explode-then-agg form is how vector averaging scales, vs a
  zip_with fold that would serialize per group. Values quantize to
  1e-6 fixed point BEFORE summing (trunc-toward-zero on both engines)
  so the accumulation is integer-exact and associative -- float sums
  are order-dependent, and casting floats to DECIMAL rounds
  differently across engines.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokcount import ws_split, ws_split_sql
from ..sources.testdata import load_table

SparkQuery = Callable[[SparkSession, str], DataFrame]

_MAX_POS = 32
_N_GROUPS = 8


TOKEN_POSITION_SQL = rf"""
  WITH toks AS (
    SELECT doc_id, {ws_split_sql()} AS w
    FROM documents
  ),
  pos AS (
    -- w IS NOT NULL: a null-text doc must generate ZERO rows, as
    -- posexplode(NULL) does; DuckDB's least() SKIPS nulls, so without
    -- the filter len(NULL) -> least(NULL, 32) = 32 phantom positions
    SELECT doc_id, w,
           unnest(range(1, least(len(w), {_MAX_POS}) + 1)) AS p
    FROM toks WHERE w IS NOT NULL
  )
  SELECT p - 1 AS pos,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(CAST(length(w[p]) AS DECIMAL(18,0))) AS DOUBLE)
           / COUNT(*) AS avg_len
  FROM pos GROUP BY p ORDER BY pos
"""


def q_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", ws_split().alias("w"))
    exploded = toks.select(
        F.posexplode(F.slice("w", 1, _MAX_POS)).alias("pos", "tok")
    )
    return (
        exploded.groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (
                F.sum(F.length("tok").cast("decimal(18,0)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_len"),
        )
    )


EMBEDDING_CENTROID_SQL = f"""
  WITH e AS (
    SELECT vec_id % {_N_GROUPS} AS grp,
           CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings
  ),
  pos AS (
    SELECT grp, v, unnest(range(1, len(v) + 1)) AS p FROM e
  )
  SELECT grp, p - 1 AS dim,
         CAST(SUM(CAST(trunc(v[p] * 1000000.0) AS BIGINT)) AS DOUBLE)
           / 1000000.0 / COUNT(*) AS centroid
  FROM pos GROUP BY grp, p ORDER BY grp, dim
"""


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        (F.col("vec_id") % _N_GROUPS).alias("grp"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    exploded = e.select("grp", F.posexplode("v").alias("dim", "x"))
    # ANSI double->long cast truncates toward zero, matching DuckDB's
    # trunc(); the summed fixed-point longs are exact and associative
    q = (F.col("x") * 1_000_000.0).cast("long")
    return (
        exploded.groupBy("grp", "dim")
        .agg(
            (
                F.sum(q).cast("double") / F.lit(1_000_000.0) / F.count(F.lit(1))
            ).alias("centroid")
        )
    )


ARRAY_QUERIES: dict[str, tuple[SparkQuery, str | None]] = {
    "token_position_profile": (q_token_positions, TOKEN_POSITION_SQL),
    "embedding_centroid_by_group": (q_embedding_centroids, EMBEDDING_CENTROID_SQL),
}

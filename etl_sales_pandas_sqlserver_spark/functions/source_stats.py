"""Cross-source corpus statistics: contamination matrix, per-source
dedup-rate rollup, and temperature-scaled language sampling weights.

Three corpus-health queries a training-data pipeline runs between
ingest and mixing (none exist in the reference, whose surface is the
sales ETL — these extend the LLM-curation family the brief asks for):

- **contamination matrix**: for every pair of sources, how many
  DISTINCT word 3-shingles they share. Shared-shingle mass between
  e.g. a crawl slice and a benchmark-derived source is the standard
  first signal of cross-source leakage; the per-pair number feeds the
  decontamination family (dedup.py) with which pairs to actually scan.
- **dedup-rate rollup**: per source, what fraction of its documents
  are members of an exact-duplicate group (same content fingerprint
  appearing >1 time anywhere in the corpus), in exact ppm. The
  per-source dup rate is the triage number that decides which sources
  get the expensive near-dup passes.
- **language sampling weights**: UniMax/temperature-style mixture
  weights per language, w_l ∝ sqrt(token_count_l) (temperature T=2),
  spelled in cross-engine-exact arithmetic: floor(sqrt(double)) of an
  exact int64 is the same correctly-rounded IEEE value on both
  engines (the kmeans-cosine precedent), and the ppm share is integer
  division over int64 sums.

Scale shapes:
- contamination: the only large shuffle carries (shingle, source)
  pairs — text never shuffles; per-shingle source sets are bounded by
  the source count (collect_set), so a super-common shingle costs one
  bounded row, not a quadratic blowup; the pair fan-out is
  |sources|^2-bounded per shingle and the final rollup is map-side
  combinable into at most |sources|^2 rows.
- dedup rollup: one (fp, source) shuffle for the group sizes, one
  broadcast-joinable fp->count table? No — the count table is
  corpus-sized, so it stays a shuffle join ON fp (both sides already
  hash-partitioned by fp from the groupBy; AQE reuses the
  partitioning) and only (fp, source, cnt) rows move.
- sampling weights: one map-side-combinable agg to |langs| rows; the
  window for the total runs over those few rows only.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .dedup import _doc_shingles
from .intmath import exact_ppm_spark, exact_ppm_sql
from .tokcount import (
    N_TOKENS_SQL,
    fingerprint_col,
    fingerprint_sql,
    n_tokens_spark,
    ws_split_sql,
)

SparkQuery = Callable[[SparkSession, str], DataFrame]


# ---------------------------------------------------------------------------
# 1. Cross-source contamination matrix.
# ---------------------------------------------------------------------------

CONTAMINATION_SQL = rf"""
  WITH toks AS (
    SELECT doc_id, source, {ws_split_sql()} AS w
    FROM documents
  ),
  sh AS (
    SELECT source,
           UNNEST(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                 for i in range(1, len(w) - 1)])) AS shingle
    FROM toks
  ),
  ss AS (SELECT DISTINCT source, shingle FROM sh),
  pairs AS (
    SELECT a.source AS src_a, b.source AS src_b
    FROM ss a JOIN ss b
      ON a.shingle = b.shingle AND a.source < b.source
  )
  SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
  FROM pairs
  GROUP BY src_a, src_b
  ORDER BY src_a, src_b
"""


def q_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct shared 3-shingles per source pair. Reuses the
    session-memoized shingle frame (dedup._doc_shingles) — the same
    word 3-shingles every text near-dup detector keys on."""
    sh = _doc_shingles(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # no .distinct() before the groupBy: collect_set dedups sources per
    # shingle anyway, and a distinct would add a second full shuffle
    # keyed on (source, shingle) ahead of the shingle-keyed one
    ss = sh.join(src, "doc_id").select(
        "source", F.explode("s").alias("shingle")
    )
    per = (
        ss.groupBy("shingle")
        .agg(F.collect_set("source").alias("srcs"))
        .filter(F.size("srcs") >= 2)
    )
    pairs = (
        per.select(F.explode("srcs").alias("src_a"), "srcs")
        .select("src_a", F.explode("srcs").alias("src_b"))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    return (
        pairs.groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


# ---------------------------------------------------------------------------
# 2. Per-source exact-duplicate rate rollup.
# ---------------------------------------------------------------------------

DEDUP_RATE_SQL = rf"""
  WITH d AS (
    SELECT source,
           {fingerprint_sql()} AS fp
    FROM documents
  ),
  g AS (SELECT fp, COUNT(*) AS cnt FROM d GROUP BY fp)
  SELECT d.source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN g.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_docs,
         CAST(CAST(SUM(CASE WHEN g.cnt > 1 THEN 1 ELSE 0 END) AS HUGEINT)
           * 1000000 // CAST(COUNT(*) AS HUGEINT) AS BIGINT) AS dup_ppm
  FROM d JOIN g USING (fp)
  GROUP BY d.source
  ORDER BY d.source
"""


def q_source_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of each source's docs that belong to an exact-dup
    group anywhere in the corpus (content fingerprint seen >1 time),
    as integer ppm. Same fingerprint as the exact-dedup family."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", fingerprint_col().alias("fp")
    )
    g = d.groupBy("fp").agg(F.count(F.lit(1)).alias("cnt"))
    dup = F.when(F.col("cnt") > 1, F.lit(1)).otherwise(F.lit(0))
    return (
        d.join(g, "fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(dup).alias("n_dup_docs"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            F.expr(exact_ppm_spark("n_dup_docs", "n_docs")).alias("dup_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# 3. Temperature-scaled language sampling weights (UniMax-style, T=2).
# ---------------------------------------------------------------------------

LANG_WEIGHTS_SQL = f"""
  WITH t AS (
    SELECT lang,
           CAST(SUM({N_TOKENS_SQL})
                AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY lang
  ),
  w AS (
    SELECT lang, total_tokens,
           CAST(floor(sqrt(CAST(total_tokens AS DOUBLE))) AS BIGINT)
             AS sqrt_weight
    FROM t
  )
  SELECT lang, total_tokens, sqrt_weight,
         CAST(CAST(sqrt_weight AS HUGEINT) * 1000000
           // CAST(SUM(sqrt_weight) OVER () AS HUGEINT) AS BIGINT) AS share_ppm
  FROM w
  ORDER BY lang
"""


def q_lang_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling share ∝ sqrt(token count): the T=2 point
    of temperature-scaled mixture sampling (UniMax-family multilingual
    mixing). Cross-engine exact: total_tokens is an int64, sqrt of an
    exact int64-in-double is correctly rounded IEEE on both engines,
    floor+cast pins it to int64, and the ppm share is integer
    division. The OVER () total runs over |langs| rows only."""
    docs = load_table(spark, sf_dir, "documents")
    t = (
        docs.select(
            "lang",
            n_tokens_spark().alias("n_ws"),
        )
        .groupBy("lang")
        .agg(F.sum("n_ws").alias("total_tokens"))
    )
    w = t.select(
        "lang",
        "total_tokens",
        F.floor(F.sqrt(F.col("total_tokens").cast("double")))
        .cast("long")
        .alias("sqrt_weight"),
    )
    total = Window.partitionBy()
    return (
        w.withColumn("_tot", F.sum("sqrt_weight").over(total))
        .select(
            "lang",
            "total_tokens",
            "sqrt_weight",
            # integer division end to end (Spark `div` == DuckDB `//`
            # on positive int64) — a double-divide-then-truncate can
            # round across an integer boundary
            F.expr(exact_ppm_spark("sqrt_weight", "_tot")).alias("share_ppm"),
        )
    )


QUERIES_EXPORT: dict[str, tuple[SparkQuery, "str | None"]] = {
    "contamination_matrix_sources": (q_contamination_matrix, CONTAMINATION_SQL),
    "source_dedup_rate_rollup": (q_source_dedup_rate, DEDUP_RATE_SQL),
    "lang_sampling_weights_sqrt": (q_lang_sampling_weights, LANG_WEIGHTS_SQL),
}

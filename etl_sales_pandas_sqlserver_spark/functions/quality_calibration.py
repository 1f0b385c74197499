"""Per-source quality calibration: rank-normalize a cheap quality
score WITHIN each source and keep the top fraction of every source.

A global quality threshold (functions/textstats.py's C4/Gopher-style
rules) systematically starves sources whose raw scores sit lower --
web text vs reference text -- so production curation calibrates
per-domain: each document's score becomes its PERCENTILE within its
own source, and the keep decision is applied to percentiles. That
preserves the corpus mix while still dropping each source's worst
tail (the same reason importance weights are ratio-based).

Everything is integer-exact so the driver can hash it: the score is
average token length in millionths (total non-space characters *
10^6 div token count -- both engines count CODE POINTS), the
percentile is (rank - 1) * 10^6 div (n_source - 1) over the
deterministic (score, doc_id) order, single-doc sources pin to 0.

Scale: one character-counting projection (scan-side), then rank +
source size in ONE source-partitioned window exchange (two window
functions share the partitioning); no joins, no collects. A skewed
giant source concentrates its rank sort in one task -- the same bound
as any per-key window; the chunked-window rewrite
(operators/scale.py) is the escape hatch if a source ever needs it.

Registered since round 10 (functions/registry.py); driver-hash green.
tests/test_quality_calibration.py runs the driver-style oracle
compare.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .tokcount import space_split, space_split_sql

SparkQuery = Callable[[SparkSession, str], DataFrame]

_PPM = 1_000_000
#: keep the top half of every source
_KEEP_PPM = 500_000


def q_quality_percentile_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        F.array_size(space_split("text")).alias("n_tok"),
    ).select(
        "doc_id",
        "source",
        F.expr(
            f"CAST(length(replace(text, ' ', '')) AS BIGINT) * {_PPM} div n_tok"
        ).alias("score_ppm"),
    )
    w = Window.partitionBy("source").orderBy("score_ppm", "doc_id")
    ranked = scored.select(
        "doc_id",
        "source",
        "score_ppm",
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_src"),
    )
    pct = F.when(
        F.col("n_src") > 1,
        F.expr(f"(rnk - 1) * {_PPM} div (n_src - 1)"),
    ).otherwise(F.lit(0).cast("bigint"))
    return (
        ranked.select(
            "doc_id",
            "source",
            "score_ppm",
            pct.alias("pct_ppm"),
        )
        .withColumn("keep", F.col("pct_ppm") >= _KEEP_PPM)
    )


QUALITY_PCT_SQL = f"""
  WITH s AS (
    SELECT doc_id, source,
           CAST(length(replace(text, ' ', '')) AS BIGINT) * {_PPM}
             // len({space_split_sql('text')}) AS score_ppm
    FROM documents
  ),
  r AS (
    SELECT doc_id, source, score_ppm,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY score_ppm NULLS FIRST,
                                       doc_id NULLS FIRST) AS rnk,
           COUNT(*) OVER (PARTITION BY source) AS n_src
    FROM s
  )
  SELECT doc_id, source, score_ppm,
         CASE WHEN n_src > 1
              THEN (rnk - 1) * {_PPM} // (n_src - 1)
              ELSE 0 END AS pct_ppm,
         (CASE WHEN n_src > 1
               THEN (rnk - 1) * {_PPM} // (n_src - 1)
               ELSE 0 END) >= {_KEEP_PPM} AS keep
  FROM r
  ORDER BY doc_id
"""

#: merged into functions/registry.py FUNCTION_QUERIES (round 10)
QUERIES_EXPORT: dict[str, tuple[SparkQuery, "str | None"]] = {
    "quality_percentile_by_source": (
        q_quality_percentile_by_source,
        QUALITY_PCT_SQL,
    ),
}

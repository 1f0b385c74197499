"""Dataset cards: the per-source (and corpus-global) summary artifact
a curation pipeline publishes with every corpus release.

Registered since round 11 (functions/registry.py); the driver-style
parity tests in tests/test_dataset_cards.py run the SAME compare the
driver uses.

A "dataset card" row condenses the numbers every other observability
family computes separately into the one table reviewers actually read:
volume (docs, tokens), duplication (exact-dup membership rate), mix
concentration (language Gini impurity — how dominated a source is by
one language), and length shape (histogram-derived p95). Nothing like
it exists in the reference (its surface is the sales ETL); this is the
capstone of the LLM-curation observability families.

Cross-engine exactness: counts and token totals are int64. Gini
impurity avoids the entropy logarithm (transcendental — libm differs
across engines) while measuring the same concentration signal:
``gini_ppm = (total² − Σ_lang cnt²) · 10⁶ div total²`` — 0 for a
single-language source, approaching 10⁶·(1−1/k) for a uniform k-way
mix. Every ppm share (gini, dup rate) is computed in int128-class
arithmetic via the shared ``intmath.exact_ppm_*`` spelling — a bare
int64 ``tot² · 10⁶`` would wrap silently in Spark (and raise in
DuckDB) once a source passes ~3·10⁶ docs (r10 review). The per-lang
``Σ cnt²`` input itself stays exact in int64 past 3·10⁹ docs per
source; the DECIMAL-accumulate form applies beyond (same note as the
k-means profile). The p95 length cap reuses the mergeable-histogram
family's ceil-rank kernel (histograms.ceil_rank_cap_agg) and bin
spelling, and token counts reuse batching's — the card can never
de-sync from the families it summarizes.

Scale shapes: one projection computes fingerprint/tokens/length at the
scan; the only corpus-sized shuffles are the fp-keyed dup-group agg
(map-side combinable, carries (fp, int) only — identical shape to
source_dedup_rate_rollup) and the (source, lang)/(source, bin) aggs
(map-side combinable to tiny tables). The final assembly joins
|sources|-row frames — broadcast-trivial by construction.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .histograms import _BIN_CAP_SPARK, _BIN_CAP_SQL, ceil_rank_cap_agg
from .intmath import PPM as _PPM, exact_ppm_spark, exact_ppm_sql
from .tokcount import (
    N_TOKENS_SQL,
    fingerprint_col,
    fingerprint_sql,
    n_tokens_spark,
)

SparkQuery = Callable[[SparkSession, str], DataFrame]

#: Gini ppm in int128-class arithmetic (tot^2 * 1e6 wraps a bare int64
#: once a source passes ~3e6 docs; the shared spelling is exact to 38
#: digits). s2 = sum of squared per-lang counts stays exact in int64
#: past 3e9 docs per source; the DECIMAL-accumulate form applies beyond.
_GINI_PPM_SQL = exact_ppm_sql(
    "CAST(tot AS HUGEINT) * tot - s2", "CAST(tot AS HUGEINT) * tot"
)
_GINI_PPM_SPARK = exact_ppm_spark(
    "CAST(tot AS DECIMAL(38,0)) * tot - s2",
    "CAST(tot AS DECIMAL(38,0)) * tot",
)

#: shared scan-side projection (Spark) and its DuckDB twin: one pass
#: computes every per-doc input the card needs
_BASE_SQL = rf"""
    SELECT source, lang,
           CAST(n_chars AS BIGINT) AS n,
           CAST({N_TOKENS_SQL} AS BIGINT) AS tok,
           {fingerprint_sql()} AS fp
    FROM documents
"""


def _base(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "source",
        "lang",
        F.col("n_chars").cast("long").alias("n"),
        n_tokens_spark().alias("tok"),
        fingerprint_col().alias("fp"),
    )


DATASET_CARD_SQL = f"""
  WITH base AS ({_BASE_SQL}),
  g AS (SELECT fp, COUNT(*) AS cnt FROM base GROUP BY fp),
  vol AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(b.tok) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN g.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup
    FROM base b JOIN g USING (fp)
    GROUP BY source
  ),
  lc AS (
    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
    FROM base GROUP BY source, lang
  ),
  gini AS (
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS tot,
           CAST(SUM(c * c) AS BIGINT) AS s2
    FROM lc GROUP BY source
  ),
  hist AS (
    SELECT source, {_BIN_CAP_SQL} AS bin_cap,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM base GROUP BY source, bin_cap
  ),
  cum AS (
    SELECT source, bin_cap,
           CAST(SUM(n_docs) OVER (PARTITION BY source
                                  ORDER BY bin_cap NULLS FIRST)
                AS BIGINT) AS cum_docs,
           CAST(SUM(n_docs) OVER (PARTITION BY source) AS BIGINT) AS total
    FROM hist
  ),
  p95 AS (
    SELECT source,
           MIN(CASE WHEN cum_docs >= (95 * total + 99) // 100
                    THEN bin_cap END) AS p95_len_cap
    FROM cum GROUP BY source
  )
  SELECT v.source, v.n_docs, v.total_tokens,
         {exact_ppm_sql('v.n_dup', 'v.n_docs')} AS dup_ppm,
         {_GINI_PPM_SQL} AS lang_gini_ppm,
         p.p95_len_cap
  FROM vol v JOIN gini gi USING (source) JOIN p95 p USING (source)
  ORDER BY v.source
"""


def q_dataset_card_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One card row per source: volume, exact-dup membership rate,
    language Gini impurity, histogram p95 length — each in the exact
    integer spelling its home family uses, assembled over
    |sources|-row join keys."""
    base = _base(spark, sf_dir)
    g = base.groupBy("fp").agg(F.count(F.lit(1)).alias("cnt"))
    dup = F.when(F.col("cnt") > 1, F.lit(1)).otherwise(F.lit(0))
    vol = (
        base.join(g, "fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("total_tokens"),
            F.sum(dup).alias("n_dup"),
        )
    )
    lc = base.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    gini = lc.groupBy("source").agg(
        F.sum("c").alias("tot"), F.sum(F.col("c") * F.col("c")).alias("s2")
    )
    hist = (
        base.select("source", F.expr(_BIN_CAP_SPARK).alias("bin_cap"))
        .groupBy("source", "bin_cap")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    wc = (
        Window.partitionBy("source")
        .orderBy("bin_cap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("source")
    cum = hist.select(
        "source",
        "bin_cap",
        F.sum("n_docs").over(wc).alias("cum_docs"),
        F.sum("n_docs").over(wt).alias("total_docs"),
    )
    p95 = cum.groupBy("source").agg(
        ceil_rank_cap_agg(95).alias("p95_len_cap")
    )
    return (
        vol.join(gini, "source")
        .join(p95, "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.expr(exact_ppm_spark("n_dup", "n_docs")).alias("dup_ppm"),
            F.expr(_GINI_PPM_SPARK).alias("lang_gini_ppm"),
            "p95_len_cap",
        )
    )


DATASET_CARD_GLOBAL_SQL = f"""
  WITH base AS ({_BASE_SQL}),
  g AS (SELECT fp, COUNT(*) AS cnt FROM base GROUP BY fp),
  vol AS (
    SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(b.tok) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN g.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup
    FROM base b JOIN g USING (fp)
  ),
  lc AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY lang),
  gini AS (
    SELECT CAST(SUM(c) AS BIGINT) AS tot, CAST(SUM(c * c) AS BIGINT) AS s2
    FROM lc
  ),
  hist AS (
    SELECT {_BIN_CAP_SQL} AS bin_cap, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM base GROUP BY bin_cap
  ),
  cum AS (
    SELECT bin_cap,
           CAST(SUM(n_docs) OVER (ORDER BY bin_cap) AS BIGINT) AS cum_docs,
           CAST(SUM(n_docs) OVER () AS BIGINT) AS total
    FROM hist
  ),
  q AS (
    SELECT MIN(CASE WHEN cum_docs >= (total + 1) // 2
                    THEN bin_cap END) AS p50_len_cap,
           MIN(CASE WHEN cum_docs >= (95 * total + 99) // 100
                    THEN bin_cap END) AS p95_len_cap
    FROM cum
  )
  SELECT v.n_sources, v.n_docs, v.total_tokens,
         {exact_ppm_sql('v.n_dup', 'v.n_docs')} AS dup_ppm,
         {_GINI_PPM_SQL} AS lang_gini_ppm,
         q.p50_len_cap, q.p95_len_cap
  FROM vol v CROSS JOIN gini gi CROSS JOIN q
"""


def q_dataset_card_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-level card: one row a release pipeline stamps on the
    whole snapshot. Same integer spellings as the per-source card;
    the three single-row side frames assemble via crossJoin (1×1×1)."""
    base = _base(spark, sf_dir)
    g = base.groupBy("fp").agg(F.count(F.lit(1)).alias("cnt"))
    dup = F.when(F.col("cnt") > 1, F.lit(1)).otherwise(F.lit(0))
    vol = base.join(g, "fp").agg(
        F.countDistinct("source").alias("n_sources"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").alias("total_tokens"),
        F.sum(dup).alias("n_dup"),
    )
    lc = base.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    gini = lc.agg(
        F.sum("c").alias("tot"), F.sum(F.col("c") * F.col("c")).alias("s2")
    )
    hist = (
        base.select(F.expr(_BIN_CAP_SPARK).alias("bin_cap"))
        .groupBy("bin_cap")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    wc = (
        Window.partitionBy()
        .orderBy("bin_cap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy()
    cum = hist.select(
        "bin_cap",
        F.sum("n_docs").over(wc).alias("cum_docs"),
        F.sum("n_docs").over(wt).alias("total_docs"),
    )
    # ceil(t/2) == ceil(50t/100): p50 shares the ceil-rank kernel
    q = cum.agg(
        ceil_rank_cap_agg(50).alias("p50_len_cap"),
        ceil_rank_cap_agg(95).alias("p95_len_cap"),
    )
    return (
        vol.crossJoin(F.broadcast(gini))  # broadcast-ok: single-row lang-Gini frame
        .crossJoin(F.broadcast(q))  # broadcast-ok: single-row quantile frame
        .select(
            "n_sources",
            "n_docs",
            "total_tokens",
            F.expr(exact_ppm_spark("n_dup", "n_docs")).alias("dup_ppm"),
            F.expr(_GINI_PPM_SPARK).alias("lang_gini_ppm"),
            "p50_len_cap",
            "p95_len_cap",
        )
    )


QUERIES_EXPORT: dict[str, tuple[SparkQuery, "str | None"]] = {
    "dataset_card_by_source": (q_dataset_card_by_source, DATASET_CARD_SQL),
    "dataset_card_global": (q_dataset_card_global, DATASET_CARD_GLOBAL_SQL),
}

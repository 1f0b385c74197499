"""Paragraph-grain corpus QC: exact paragraph-level duplication
(Gopher/MassiveText-style filtering) and per-document lexical
diversity stats.

Whole-document dedup (exact / MinHash / SimHash, functions/dedup.py)
misses boilerplate REUSE: navigation chrome, license blocks and
templated intros repeat across otherwise-distinct pages, and the
Gopher pipeline drops documents whose duplicated-paragraph fraction is
high. The testdata's documents carry no paragraph delimiters, so the
"paragraph" here is a disjoint 10-token window -- the splitter is one
line in production; every other piece of the plumbing (stable
cross-engine paragraph hash, global occurrence counts, per-doc
duplicated fraction, keep/drop verdict) is the real shape.

Scale notes: one explode to (doc_id, paragraph_hash) rows -- linear in
corpus tokens; the global occurrence count is a window over the hash
(ONE shuffle, partitioned by hash -- no counts-table join back);
per-doc rollup is a second, map-side-combinable aggregate. The
diversity stats are a single Arrow-vectorized pass (utf-32 code-point
view, one unique-count per doc) with no shuffle at all before the tiny
per-doc output. md5 is bit-identical in Spark and DuckDB, so the driver hash
checks the paragraph identity function itself.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .tokcount import space_split, space_split_sql

SparkQuery = Callable[[SparkSession, str], DataFrame]

_PARA_TOKENS = 10
#: drop a doc when >= 30% of its paragraphs occur elsewhere too
#: (compared in integers: 10 * n_dup >= 3 * n_paras)
_DUP_NUM, _DUP_DEN = 3, 10

PARAGRAPH_DUP_SQL = f"""
  WITH toks AS (
    SELECT doc_id, {space_split_sql('text')} AS ts FROM documents
  ),
  paras AS (
    SELECT doc_id,
           UNNEST(list_transform(
             range(0, len(ts) // {_PARA_TOKENS}),
             i -> md5(array_to_string(
                    ts[i * {_PARA_TOKENS} + 1 : (i + 1) * {_PARA_TOKENS}],
                    ' ')))) AS phash
    FROM toks
  ),
  c AS (
    SELECT doc_id, phash,
           COUNT(*) OVER (PARTITION BY phash) AS n_occ
    FROM paras
  )
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_paras,
         CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup,
         ({_DUP_DEN} * SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END))
           < ({_DUP_NUM} * COUNT(*)) AS keep
  FROM c
  GROUP BY 1
  ORDER BY 1
"""


def q_paragraph_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", space_split("text").alias("ts"))
    # guard the short-doc case BEFORE building the index sequence:
    # Spark's sequence(0, -1) counts DOWN to [0, -1] (DuckDB's
    # range(0, 0) is empty), so a <10-token doc would explode into two
    # phantom paragraphs -- same latent-divergence class as the
    # round-8 advice on q_text_diversity
    paras = toks.filter(F.size("ts") >= _PARA_TOKENS).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, (size(ts) div {_PARA_TOKENS}) - 1), "
                f"i -> md5(array_join(slice(ts, i * {_PARA_TOKENS} + 1, "
                f"{_PARA_TOKENS}), ' ')))"
            )
        ).alias("phash"),
    )
    # global occurrence count as a window over the hash: one shuffle,
    # no counts-table self-join
    occ = paras.withColumn(
        "n_occ", F.count(F.lit(1)).over(Window.partitionBy("phash"))
    )
    dup = (F.col("n_occ") > 1).cast("long")
    return (
        occ.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(dup).alias("n_dup"),
        )
        .select(
            "doc_id",
            "n_paras",
            "n_dup",
            (
                F.lit(_DUP_DEN) * F.col("n_dup")
                < F.lit(_DUP_NUM) * F.col("n_paras")
            ).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Lexical diversity: char-frequency Gini impurity + type-token ratio.
# Gini avoids the cross-engine transcendental hazard entropy carries
# (ln is not identically rounded across libm builds): it is pure
# integer arithmetic until ONE double division of identical bigint
# operands, which IEEE rounds identically everywhere. Low Gini = a
# document dominated by few characters (degenerate/repetitive text);
# low TTR = token-level repetition. Both are standard quality-filter
# features.
# ---------------------------------------------------------------------------

DIVERSITY_SQL = f"""
  WITH s AS (
    SELECT doc_id, text,
           string_split(text, '') AS cs,
           {space_split_sql('text')} AS ts
    FROM documents
    WHERE length(text) > 0
  ),
  q AS (
    SELECT doc_id,
           length(text) AS n_chars,
           len(ts) AS n_tokens,
           len(list_distinct(ts)) AS n_distinct,
           CAST(list_sum(list_transform(
             list_transform(list_distinct(cs),
                            c -> len(list_filter(cs, x -> x = c))),
             n -> CAST(n AS BIGINT) * n)) AS BIGINT) AS sq
    FROM s
  )
  SELECT doc_id,
         CAST(n_chars AS BIGINT) AS n_chars,
         CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(n_distinct AS BIGINT) AS n_distinct_tokens,
         (n_chars * n_chars - sq) / (n_chars * n_chars) AS char_gini,
         n_distinct / n_tokens AS type_token_ratio
  FROM q
  ORDER BY doc_id
"""


def q_text_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc lexical diversity at CHARACTER (code-point) grain.

    Round-8 advice closed two kernel/oracle asymmetries here: the
    empty-text guard is now mirrored into DIVERSITY_SQL (``WHERE
    length(text) > 0`` -- the kernel has always skipped empty docs,
    whose char_gini is 0/0), and the kernel counts Unicode CODE POINTS
    (utf-32 view of the text), not UTF-8 bytes, matching DuckDB's
    ``length()`` / ``string_split(text, '')`` semantics on non-ASCII
    text rather than coinciding with them only on ASCII fixtures.
    """
    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def _stats(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf[[len(t) > 0 for t in pdf["text"]]]
            if len(pdf) == 0:
                continue
            out = {
                "doc_id": pdf["doc_id"].to_numpy(),
                "n_chars": np.empty(len(pdf), np.int64),
                "n_tokens": np.empty(len(pdf), np.int64),
                "n_distinct_tokens": np.empty(len(pdf), np.int64),
                "sq": np.empty(len(pdf), np.int64),
            }
            for j, t in enumerate(pdf["text"]):
                # code points, not bytes: one uint32 per character
                cps = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
                cnt = np.unique(cps, return_counts=True)[1].astype(np.int64)
                toks = t.split(" ")
                out["n_chars"][j] = cps.size
                out["n_tokens"][j] = len(toks)
                out["n_distinct_tokens"][j] = len(set(toks))
                out["sq"][j] = int((cnt * cnt).sum())
            yield pd.DataFrame(out)

    raw = docs.mapInPandas(
        _stats,
        schema=(
            "doc_id long, n_chars long, n_tokens long, "
            "n_distinct_tokens long, sq long"
        ),
    )
    n2 = F.col("n_chars") * F.col("n_chars")
    return raw.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_distinct_tokens",
        ((n2 - F.col("sq")) / n2).alias("char_gini"),
        (F.col("n_distinct_tokens") / F.col("n_tokens")).alias(
            "type_token_ratio"
        ),
    )


QUERIES_EXPORT: dict[str, tuple[SparkQuery, str | None]] = {
    "dedup_paragraph_exact": (q_paragraph_dup, PARAGRAPH_DUP_SQL),
    "text_diversity_stats": (q_text_diversity, DIVERSITY_SQL),
}

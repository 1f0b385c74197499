"""Text analysis over the ``documents`` table: token counting, quality
scoring, language identification, document fingerprinting.

All four operators are pure JVM-side expression pipelines (split /
regexp / higher-order array functions / md5) -- no Python UDFs -- so
they whole-stage-codegen and scale linearly with input splits: a scan +
project (+ one hash-agg shuffle where the output is grouped). At 100 TB
the only shuffle in this file is the final small-keyspace aggregate.

Cross-engine determinism: token counts and length sums are integers;
every ratio is a single double division on identical integer operands,
so Spark and DuckDB agree bitwise (IEEE-754). Fingerprints are md5 hex
strings, identical in both engines.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import memo
from ..sources.testdata import load_table
from .tokcount import (
    N_TOKENS_SQL,
    WS_CHARS,
    fingerprint_col,
    fingerprint_sql,
    md5_slice,
    md5_slice_sql,
    n_tokens_spark,
    ws_split,
    ws_split_sql,
)

SparkQuery = Callable[[SparkSession, str], DataFrame]

#: BPE-ish surface tokenizer: runs of lowercase alnum OR a single
#: non-alnum-non-whitespace char. The whitespace exclusion is the
#: explicit ``tokcount.WS_CLASS`` set, not ``\s`` (r16: Java's ``\s``
#: includes U+000B where RE2's does not, so the engines disagreed on
#: whether a vertical tab is a token char -- same grain unification
#: as the fingerprint spelling).
_RE_TOKEN = f"[a-z0-9]+|[^a-z0-9{WS_CHARS}]"

#: tiny function-word lists for the language-ID heuristic. Overlaps
#: (de/la appear in several Romance lists) are fine -- scoring is
#: deterministic and the tiebreak order is fixed.
_LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "nicht"],
    "fr": ["le", "la", "de", "et", "un", "est", "dans", "les"],
}
#: deterministic argmax precedence when scores tie
_LANG_ORDER = ["en", "es", "de", "fr"]


# ---------------------------------------------------------------------------
# 1. Token counting: whitespace tokens + BPE-ish regex tokens, per source.
# ---------------------------------------------------------------------------

TOKEN_STATS_SQL = f"""
  WITH d AS (
    SELECT source,
           {N_TOKENS_SQL} AS n_ws,
           len(regexp_extract_all(lower(text), '{_RE_TOKEN}')) AS n_re,
           length(text) AS n_char
    FROM documents
  )
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(n_ws) AS BIGINT) AS total_ws_tokens,
         CAST(SUM(n_re) AS BIGINT) AS total_re_tokens,
         CAST(SUM(n_char) AS DOUBLE) / SUM(n_ws) AS chars_per_token,
         MIN(n_ws) AS min_tokens,
         MAX(n_ws) AS max_tokens
  FROM d
  GROUP BY source
  ORDER BY source
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        n_tokens_spark().alias("n_ws"),
        F.array_size(
            F.regexp_extract_all(F.lower("text"), F.lit(_RE_TOKEN), F.lit(0))
        )
        .cast("long")
        .alias("n_re"),
        F.length("text").alias("n_char"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_ws").alias("total_ws_tokens"),
            F.sum("n_re").alias("total_re_tokens"),
            (F.sum("n_char").cast("double") / F.sum("n_ws")).alias("chars_per_token"),
            F.min("n_ws").alias("min_tokens"),
            F.max("n_ws").alias("max_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# 2. Quality scoring: per-doc length / stopword-ratio / mean-token-length
#    heuristics -> a quality class. The standard cheap pre-filter in a
#    training-data pipeline (C4/Gopher-style rules).
# ---------------------------------------------------------------------------

_EN_STOP_SQL = ", ".join(f"'{w}'" for w in _LANG_STOPWORDS["en"])

QUALITY_SCORES_SQL = f"""
  WITH t AS (
    SELECT doc_id,
           {ws_split_sql()} AS toks,
           length(text) AS n_char
    FROM documents
  ), m AS (
    SELECT doc_id, n_char,
           len(toks) AS n_tokens,
           list_sum(list_transform(toks, t -> length(t))) AS token_chars,
           len(list_filter(toks, t -> t IN ({_EN_STOP_SQL}))) AS n_stop
    FROM t
  )
  SELECT doc_id, n_tokens,
         CAST(token_chars AS DOUBLE) / n_tokens AS avg_token_len,
         CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
         CASE WHEN n_tokens >= 20
               AND CAST(n_stop AS DOUBLE) / n_tokens BETWEEN 0.01 AND 0.6
               AND CAST(token_chars AS DOUBLE) / n_tokens BETWEEN 2.0 AND 12.0
              THEN 'good'
              WHEN n_tokens >= 5 THEN 'fair'
              ELSE 'junk' END AS quality
  FROM m
  ORDER BY doc_id
"""


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(w) for w in _LANG_STOPWORDS["en"]])
    t = docs.select(
        "doc_id", ws_split().alias("toks"), F.length("text").alias("n_char")
    )
    m = t.select(
        "doc_id",
        "n_char",
        F.array_size("toks").alias("n_tokens"),
        F.aggregate(
            F.transform("toks", lambda x: F.length(x)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("token_chars"),
        F.array_size(
            F.filter("toks", lambda x: F.array_contains(stop_arr, x))
        ).alias("n_stop"),
    )
    avg_len = F.col("token_chars").cast("double") / F.col("n_tokens")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    quality = (
        F.when(
            (F.col("n_tokens") >= 20)
            & stop_ratio.between(0.01, 0.6)
            & avg_len.between(2.0, 12.0),
            "good",
        )
        .when(F.col("n_tokens") >= 5, "fair")
        .otherwise("junk")
    )
    return m.select(
        "doc_id",
        "n_tokens",
        avg_len.alias("avg_token_len"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality"),
    )


# ---------------------------------------------------------------------------
# 3. Language ID: function-word overlap scoring with a fixed-precedence
#    argmax. Compared against the table's claimed ``lang`` column as a
#    confusion-matrix-style rollup.
# ---------------------------------------------------------------------------


def _lang_scores_sql() -> str:
    scores = ",\n           ".join(
        f"len(list_filter(toks, t -> t IN ({', '.join(repr(w) for w in ws)}))) AS s_{lang}"
        for lang, ws in _LANG_STOPWORDS.items()
    )
    # fixed-precedence argmax: first lang (in _LANG_ORDER) whose score
    # is >= every other score wins
    cases = []
    for lang in _LANG_ORDER:
        conds = " AND ".join(
            f"s_{lang} >= s_{other}" for other in _LANG_ORDER if other != lang
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " ELSE 'und' END"
    return f"""
  WITH t AS (
    SELECT doc_id, lang,
           {ws_split_sql('lower(text)')} AS toks
    FROM documents
  ), s AS (
    SELECT doc_id, lang,
           {scores}
    FROM t
  )
  SELECT lang AS claimed_lang, {case_sql} AS predicted_lang,
         COUNT(*) AS n_docs
  FROM s
  GROUP BY 1, 2
  ORDER BY 1, 2
"""


LANG_ID_SQL = _lang_scores_sql()


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        ws_split(F.lower("text")).alias("toks"),
    )
    def _overlap(ws: list[str]):
        arr = F.array(*[F.lit(w) for w in ws])
        return F.array_size(F.filter("toks", lambda x: F.array_contains(arr, x)))

    score_cols = [
        _overlap(ws).alias(f"s_{lang}") for lang, ws in _LANG_STOPWORDS.items()
    ]
    s = t.select("doc_id", "lang", *score_cols)
    pred = None
    for lang in _LANG_ORDER:
        cond = None
        for other in _LANG_ORDER:
            if other == lang:
                continue
            c = F.col(f"s_{lang}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        pred = (
            F.when(cond, lang) if pred is None else pred.when(cond, lang)
        )
    pred = pred.otherwise("und")
    return (
        s.select(F.col("lang").alias("claimed_lang"), pred.alias("predicted_lang"))
        .groupBy("claimed_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# 4. Document fingerprinting: md5 over whitespace-normalized text. The
#    exact-dedup content key; n_copies counts fingerprint collisions
#    (group sizes) via one window over the fingerprint.
# ---------------------------------------------------------------------------

FINGERPRINT_SQL = f"""
  WITH f AS (
    SELECT doc_id,
           {fingerprint_sql()} AS fingerprint
    FROM documents
  )
  SELECT doc_id, fingerprint,
         COUNT(*) OVER (PARTITION BY fingerprint) AS n_copies
  FROM f
  ORDER BY doc_id
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select("doc_id", fingerprint_col().alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    return f.select(
        "doc_id", "fingerprint", F.count(F.lit(1)).over(w).alias("n_copies")
    )


# ---------------------------------------------------------------------------
# PII redaction: mask emails/phone numbers before training. The regex
# subset used is semantically identical under Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded repetition, no lookaround.
# The synthetic corpus carries no natural PII, so the query plants
# deterministic contact strings on a doc_id-keyed subset (identical
# construction in both engines) purely to exercise the masking; the
# redaction itself is the reusable ``redact_pii`` expression.
# At 100 TB this is a stateless per-row projection -- no shuffle, runs
# fused into the scan.
# ---------------------------------------------------------------------------

_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PHONE_RE = r"\+?[0-9][0-9()\- ]{7,}[0-9]"


def redact_pii(col):
    """Mask emails then phone-shaped digit runs."""
    return F.regexp_replace(
        F.regexp_replace(col, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )


PII_REDACT_SQL = f"""
  WITH enriched AS (
    SELECT doc_id,
           text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com'
                     ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' call +1 555 000 ' || CAST(1000 + doc_id % 9000
                                                     AS VARCHAR)
                     ELSE '' END AS text
    FROM documents
  )
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INTEGER)
           AS n_emails,
         CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS INTEGER)
           AS n_phones,
         md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>',
                                           'g'),
                            '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
  FROM enriched
  ORDER BY doc_id
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    email_tail = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
        ),
    ).otherwise("")
    phone_tail = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(
            F.lit(" call +1 555 000 "),
            (1000 + F.col("doc_id") % 9000).cast("string"),
        ),
    ).otherwise("")
    enriched = docs.select(
        "doc_id", F.concat("text", email_tail, phone_tail).alias("text")
    )
    return enriched.select(
        "doc_id",
        F.array_size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0))
        .cast("int")
        .alias("n_emails"),
        F.array_size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0))
        .cast("int")
        .alias("n_phones"),
        F.md5(redact_pii(F.col("text")).cast("binary")).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# 6. Intra-document repetition (Gopher-style corpus quality): fraction
# of duplicated word 3-grams within each doc. High-duplication docs
# (boilerplate, templated spam, scraper loops) are standard LLM-corpus
# drop candidates (Gopher-class filters cut at ~0.2 dup-frac on web
# text; this synthetic corpus tops out at 0.07, so the flag threshold
# here is 0.01 -- the top ~1% -- to keep the flag discriminating).
# Pure per-row array expressions -- no shuffle at all
# until the ORDER BY; at 100 TB this is a map-only pass that pushes
# only (doc_id, text) through codegen and emits fixed-width scores.
# ---------------------------------------------------------------------------

TEXT_REPETITION_SQL = rf"""
  WITH toks AS (
    SELECT doc_id, {ws_split_sql()} AS w
    FROM documents
  ),
  grams AS (
    SELECT doc_id,
           CASE WHEN len(w) < 3 THEN []
                ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                      for i in range(1, len(w) - 1)] END AS g
    FROM toks
  )
  SELECT doc_id,
         CAST(len(g) AS BIGINT) AS n_3grams,
         CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
         CASE WHEN len(g) = 0 THEN CAST(0.0 AS DOUBLE)
              ELSE 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)
         END AS dup_frac,
         CASE WHEN len(g) = 0 THEN FALSE
              ELSE 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g) > 0.01
         END AS flagged
  FROM grams ORDER BY doc_id
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grams_expr = """
      CASE WHEN array_size(w) < 3 THEN array()
           ELSE transform(sequence(1, array_size(w) - 2),
                          i -> concat_ws(' ', w[i-1], w[i], w[i+1]))
      END
    """
    g = docs.select("doc_id", ws_split().alias("w")).select(
        "doc_id", F.expr(grams_expr).alias("g")
    )
    n = F.array_size("g").cast("long")
    nd = F.array_size(F.array_distinct("g")).cast("long")
    dup = F.lit(1.0) - nd.cast("double") / n
    return g.select(
        "doc_id",
        n.alias("n_3grams"),
        nd.alias("n_distinct"),
        F.when(n == 0, F.lit(0.0).cast("double")).otherwise(dup).alias("dup_frac"),
        F.when(n == 0, F.lit(False)).otherwise(dup > 0.01).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
# algorithm): hash every K-token gram, slide a W-gram window, record
# each window's minimum hash (rightmost on ties). Guarantees: any
# shared run of K+W-1 tokens between two documents yields at least one
# shared fingerprint, while selecting only ~2/(W+1) of all grams --
# the position-robust substring-matching layer the k-gram families
# (dedup_ngram_*, dedup_repeated_spans) don't cover.
#
# Portability trick that makes this EXACTLY oracle-replayable: the
# rightmost-min-with-tie-break selection is folded into one integer --
# cmb = hash * 2^20 + (2^20 - 1 - pos) -- so a plain window MIN picks
# the winner (smaller hash wins; among equal hashes the larger pos
# encodes smaller) and decoding recovers (hash, pos). The hash is the
# first 10 md5 hex digits as an integer (tokcount.md5_slice; < 2^40,
# so cmb < 2^60 -- int64-safe under ANSI). Position
# must fit 20 bits (1M grams per document) -- production chunks longer
# docs first (chunk_context_windows).
#
# Scale: grams and hashes are computed IN-ARRAY (one row per doc
# through codegen), then one posexplode + one window shuffle
# partitioned by doc_id -- per-doc local work, no cross-doc traffic.
# ---------------------------------------------------------------------------

_WINNOW_K = 3  # tokens per gram
_WINNOW_W = 4  # grams per winnowing window
_POS_ENC = 1 << 20

WINNOW_SQL = f"""
  WITH toks AS (
    SELECT doc_id,
           {ws_split_sql('lower(text)')} AS w
    FROM documents
  ),
  grams AS (
    SELECT doc_id,
           list_transform(
             range(1, len(w) - {_WINNOW_K} + 2),
             i -> array_to_string(list_slice(w, i, i + {_WINNOW_K} - 1), ' ')
           ) AS g
    FROM toks
    WHERE len(w) >= {_WINNOW_K}
  ),
  cmb AS (
    SELECT doc_id,
           list_transform(
             range(1, len(g) + 1),
             i -> {md5_slice_sql("g[i]", 1, 10)} * {_POS_ENC}
                  + ({_POS_ENC} - i)
           ) AS cs
    FROM grams
  ),
  ex AS (SELECT doc_id, UNNEST(cs) AS c FROM cmb),
  win AS (
    SELECT doc_id, c,
           MIN(c) OVER (PARTITION BY doc_id
                        ORDER BY ({_POS_ENC} - 1 - c % {_POS_ENC})
                        ROWS BETWEEN CURRENT ROW
                        AND {_WINNOW_W - 1} FOLLOWING) AS sel,
           COUNT(*) OVER (PARTITION BY doc_id
                          ORDER BY ({_POS_ENC} - 1 - c % {_POS_ENC})
                          ROWS BETWEEN CURRENT ROW
                          AND {_WINNOW_W - 1} FOLLOWING) AS n_in_win
    FROM ex
  )
  SELECT DISTINCT doc_id,
         CAST({_POS_ENC} - 1 - sel % {_POS_ENC} AS BIGINT) AS fp_pos,
         CAST(sel // {_POS_ENC} AS BIGINT) AS fp_hash
  FROM win
  WHERE n_in_win = {_WINNOW_W}
  ORDER BY doc_id, fp_pos
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", ws_split(F.lower("text")).alias("w")).filter(
        F.size("w") >= _WINNOW_K
    )

    # grams + hash + position encoding all inside the array, and the
    # frame CHECKPOINTED before the explode: the checkpoint is an
    # optimizer barrier, so projection collapse cannot fold the
    # transform into the generator and evaluate it interpreted (the
    # round-5 explode-over-uncached-array cliff -- measured here
    # 4.1s -> 1.2s at sf0.1)
    def build() -> DataFrame:
        return toks.select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(1), F.size("w") - _WINNOW_K + 1),
                lambda i: md5_slice(
                    F.array_join(F.slice("w", i, _WINNOW_K), " "), 1, 10
                )
                * _POS_ENC
                + (_POS_ENC - i),
            ).alias("cs"),
        )

    cmb = memo(spark, "winnow_grams", sf_dir, "documents", build)
    ex = cmb.select("doc_id", F.explode("cs").alias("c")).withColumn(
        "p", F.lit(_POS_ENC - 1) - F.col("c") % F.lit(_POS_ENC)
    )
    frame = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.currentRow, _WINNOW_W - 1)
    )
    win = ex.select(
        "doc_id",
        F.min("c").over(frame).alias("sel"),
        F.count(F.lit(1)).over(frame).alias("n_in_win"),
    )
    return (
        win.filter(F.col("n_in_win") == _WINNOW_W)
        .select(
            "doc_id",
            (F.lit(_POS_ENC - 1) - F.col("sel") % F.lit(_POS_ENC))
            .cast("bigint")
            .alias("fp_pos"),
            # integer DIV, not float division: sel is up to 2^60 and a
            # double quotient would round the low bits of the hash
            F.expr(f"CAST(sel DIV {_POS_ENC} AS BIGINT)").alias("fp_hash"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Document-frequency quality scoring (CCNet-style cheap proxy for LM
# perplexity): a document whose tokens are mostly corpus-rare is
# disproportionately likely to be noise (mojibake, ids, boilerplate
# markup), while all-common tokens suggest template text. Per doc:
# the mean document-frequency of its tokens, the hapax share (tokens
# appearing in exactly one document), and a quality band.
#
# Cross-engine determinism rule: EVERYTHING aggregates in exact
# integers (sum of df counts, token counts, hapax counts); the only
# float op is ONE final division per row -- a single IEEE-754 op both
# engines compute identically -- and the band thresholds compare
# integers cross-multiplied, never floats. (Float SUMS are
# order-dependent and would break the driver's value hash.)
#
# Scale: token df is a vocab-sized aggregate; the doc join ships
# (token, df) pairs keyed by token, then one groupBy doc_id -- three
# key-local shuffles, no row ever carries text past the explode.
# ---------------------------------------------------------------------------

DOCFREQ_QUALITY_SQL = f"""
  WITH tok AS (
    SELECT doc_id,
           UNNEST({ws_split_sql('lower(text)')})
             AS tok
    FROM documents
  ),
  df AS (
    SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM tok GROUP BY tok
  ),
  n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
  per_doc AS (
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(d.df) AS BIGINT) AS sum_df,
           CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax
    FROM tok t JOIN df d ON d.tok = t.tok
    GROUP BY t.doc_id
  )
  SELECT doc_id, n_tokens, sum_df, n_hapax,
         CAST(sum_df AS DOUBLE) / (n_tokens * n_docs) AS mean_df_ratio,
         CASE WHEN 50 * sum_df >= 39 * n_tokens * n_docs THEN 'common'
              WHEN 25 * sum_df >= 19 * n_tokens * n_docs THEN 'typical'
              ELSE 'rare' END AS band
  FROM per_doc CROSS JOIN n
  ORDER BY doc_id
"""


def q_docfreq_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(ws_split(F.lower("text"))).alias("tok"),
    )
    df_tbl = tok.groupBy("tok").agg(
        F.count_distinct("doc_id").alias("df")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    per_doc = (
        tok.join(df_tbl, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("df").alias("sum_df"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_hapax"),
        )
    )
    denom = F.col("n_tokens") * F.col("n_docs")
    # thresholds (0.78 / 0.76) sit inside the corpus's observed ratio
    # band (0.72-0.79 on the synthetic vocab) so all three bands are
    # exercised; spelled as integer cross-multiplications
    band = (
        F.when(F.lit(50) * F.col("sum_df") >= F.lit(39) * denom, "common")
        .when(F.lit(25) * F.col("sum_df") >= F.lit(19) * denom, "typical")
        .otherwise("rare")
    )
    return (
        per_doc.crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "n_tokens",
            "sum_df",
            "n_hapax",
            (F.col("sum_df").cast("double") / denom).alias("mean_df_ratio"),
            band.alias("band"),
        )
    )


TEXT_QUERIES: dict[str, tuple[SparkQuery, str | None]] = {
    "text_docfreq_quality": (q_docfreq_quality, DOCFREQ_QUALITY_SQL),
    "text_winnow_fingerprints": (q_winnow_fingerprints, WINNOW_SQL),
    "text_token_stats": (q_token_stats, TOKEN_STATS_SQL),
    "text_repetition_scores": (q_text_repetition, TEXT_REPETITION_SQL),
    "text_quality_scores": (q_quality_scores, QUALITY_SCORES_SQL),
    "text_lang_id": (q_lang_id, LANG_ID_SQL),
    "text_fingerprint": (q_fingerprint, FINGERPRINT_SQL),
    "text_pii_redact": (q_pii_redact, PII_REDACT_SQL),
}

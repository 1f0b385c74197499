"""Corpus search / frequency primitives a training-data pipeline needs
beyond dedup: BM25 keyword retrieval over the documents table and
exact heavy-hitter detection with sketch-pruned counting.

No reference counterpart (the reference is a sales CSV->SQL-Server
ETL, main.py:53-210); these extend the Layer-B LLM-pipeline surface.

Float discipline (see SKILL gotchas): BM25 is computed as the SAME
sequence of correctly-rounded IEEE double ops on both engines --
integer tf/df/dl aggregates first, one fixed-order expression per
term, and the 3-term sum spelled as s1 + s2 + s3 in fixed textual
order (a SUM() over terms would be order-dependent). The idf uses the
RATIONAL form (N - df + 0.5) / (df + 0.5) rather than its log: same
ranking monotonicity, and it keeps libm (whose last-ulp behavior
differs across engines) out of the hash-compared output.
"""

from __future__ import annotations

from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import memo
from ..sources.testdata import load_table
from .tokcount import space_split, space_split_sql

SparkQuery = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------------------
# BM25 top-k retrieval. Plan shape at 100 TB: one groupBy(doc) for
# document lengths, one groupBy(doc) for the query terms' tfs -- the tf
# aggregate only sees postings of the 3 query terms (the IN filter
# pushes into the scan side of the explode), so its shuffle is ~|hits|,
# not |corpus postings|; df/N/avgdl are single-row or 3-row broadcast
# builds; the final top-10 compiles to TakeOrderedAndProject (k rows
# per partition, no global sort).
# k1 = 1.2 and b = 0.75 are spelled inline on both engines, with
# k1 + 1 = 2.2 and 1 - b = 0.25.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("vector", "stream", "spark")
_BM25_TOPK = 10

_terms_sql = ", ".join(f"'{t}'" for t in _BM25_TERMS)

BM25_SEARCH_SQL = f"""
  WITH tok AS (
    SELECT doc_id, UNNEST({space_split_sql('trim(lower(text))')}) AS tok
    FROM documents
  ),
  dl AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
  ),
  stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS total_tokens
    FROM dl
  ),
  tf AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN tok = '{_BM25_TERMS[0]}' THEN 1 ELSE 0 END)
                AS BIGINT) AS tf0,
           CAST(SUM(CASE WHEN tok = '{_BM25_TERMS[1]}' THEN 1 ELSE 0 END)
                AS BIGINT) AS tf1,
           CAST(SUM(CASE WHEN tok = '{_BM25_TERMS[2]}' THEN 1 ELSE 0 END)
                AS BIGINT) AS tf2
    FROM tok WHERE tok IN ({_terms_sql})
    GROUP BY doc_id
  ),
  df AS (
    SELECT CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
           CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
           CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
    FROM tf
  ),
  scored AS (
    SELECT t.doc_id, t.tf0, t.tf1, t.tf2,
      ((CAST(s.n_docs AS DOUBLE) - CAST(d.df0 AS DOUBLE) + 0.5)
         / (CAST(d.df0 AS DOUBLE) + 0.5))
        * ((CAST(t.tf0 AS DOUBLE) * 2.2)
           / (CAST(t.tf0 AS DOUBLE)
              + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE)
                 / (CAST(s.total_tokens AS DOUBLE)
                    / CAST(s.n_docs AS DOUBLE)))))) +
      ((CAST(s.n_docs AS DOUBLE) - CAST(d.df1 AS DOUBLE) + 0.5)
         / (CAST(d.df1 AS DOUBLE) + 0.5))
        * ((CAST(t.tf1 AS DOUBLE) * 2.2)
           / (CAST(t.tf1 AS DOUBLE)
              + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE)
                 / (CAST(s.total_tokens AS DOUBLE)
                    / CAST(s.n_docs AS DOUBLE)))))) +
      ((CAST(s.n_docs AS DOUBLE) - CAST(d.df2 AS DOUBLE) + 0.5)
         / (CAST(d.df2 AS DOUBLE) + 0.5))
        * ((CAST(t.tf2 AS DOUBLE) * 2.2)
           / (CAST(t.tf2 AS DOUBLE)
              + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE)
                 / (CAST(s.total_tokens AS DOUBLE)
                    / CAST(s.n_docs AS DOUBLE)))))) AS score
    FROM tf t JOIN dl l ON l.doc_id = t.doc_id CROSS JOIN stats s
    CROSS JOIN df d
  )
  SELECT doc_id, tf0, tf1, tf2, score
  FROM scored
  ORDER BY score DESC, doc_id
  LIMIT {_BM25_TOPK}
"""


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(space_split(F.trim(F.lower("text")))).alias("tok"),
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
    )
    tf = (
        tok.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id")
        .agg(
            *[
                F.sum((F.col("tok") == t).cast("long")).alias(f"tf{i}")
                for i, t in enumerate(_BM25_TERMS)
            ]
        )
    )
    df_row = tf.agg(
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ]
    )
    # exact operand order as the oracle: avgdl = total/n inside the
    # dl-ratio, 0.25 + 0.75 * ratio, tf*2.2 numerator
    avgdl = F.col("total_tokens").cast("double") / F.col("n_docs").cast(
        "double"
    )
    norm = F.lit(1.2) * (
        F.lit(0.25) + F.lit(0.75) * (F.col("dl").cast("double") / avgdl)
    )

    def term_score(i: int):
        idf = (
            F.col("n_docs").cast("double")
            - F.col(f"df{i}").cast("double")
            + F.lit(0.5)
        ) / (F.col(f"df{i}").cast("double") + F.lit(0.5))
        return idf * (
            (F.col(f"tf{i}").cast("double") * F.lit(2.2))
            / (F.col(f"tf{i}").cast("double") + norm)
        )

    score = term_score(0) + term_score(1) + term_score(2)
    return (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))  # single-row corpus stats
        .crossJoin(F.broadcast(df_row))  # single-row per-term dfs
        .select("doc_id", "tf0", "tf1", "tf2", score.alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_BM25_TOPK)
    )


# ---------------------------------------------------------------------------
# Exact heavy hitters with sketch-pruned counting. The naive plan
# (groupBy every key, filter count > n/k) shuffles the FULL key
# universe; the scalable shape is two passes: (1) a Misra-Gries
# summary per partition -- capacity k, mergeable, provably a SUPERSET
# of every key with global frequency > n/k -- union'ed into a small
# candidate set; (2) exact counts for candidates only, so the
# aggregation shuffle carries at most |partitions| * k keys no matter
# how large the key universe grows. Output is EXACT (candidates are
# re-counted, false positives filtered), so the DuckDB oracle is a
# plain GROUP BY ... HAVING -- the hash match certifies both the MG
# superset guarantee and the recount.
# ---------------------------------------------------------------------------

_HH_K = 128

HEAVY_HITTERS_SQL = f"""
  WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM events)
  SELECT e.user_id, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events e CROSS JOIN t
  GROUP BY e.user_id, t.total
  HAVING COUNT(*) * {_HH_K} > t.total
  ORDER BY user_id
"""


def _misra_gries_candidates(keys: DataFrame, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries (capacity ``k``) over the
    single key column; returns the distinct candidate key set."""
    import pandas as pd

    col = keys.columns[0]

    def summarize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        # Batch-merged Misra-Gries (Agarwal et al. mergeable-summaries
        # form): fold each Arrow batch's EXACT value_counts into the
        # capped counter, then shrink by subtracting the (k+1)-th
        # largest count and dropping non-positives. Per batch this is
        # one vectorized count + an O(m log m) sort over m <= k +
        # |distinct in batch| — no per-row Python loop. The guarantee
        # the recount stage needs survives: total decrement per key is
        # bounded exactly as in row-at-a-time MG, so any key with
        # partition frequency > partition_count/(k+1) is retained.
        # Null keys count too (dropna=False): the row-at-a-time kernel
        # this replaced counted them, and a null key CAN be a true
        # heavy hitter. NaN/None normalize to one sentinel so the
        # count folds into a single counter across batches (NaN is
        # not equal to itself as a dict key -- split counters would
        # each be decremented separately and break the superset
        # guarantee).
        _null = object()
        counters: dict = {}
        for pdf in batches:
            for key, cnt in pdf[col].value_counts(dropna=False).items():
                if pd.isna(key):
                    key = _null
                counters[key] = counters.get(key, 0) + int(cnt)
            if len(counters) > k:
                vals = sorted(counters.values(), reverse=True)
                thresh = vals[k]
                counters = {
                    c: v - thresh for c, v in counters.items() if v > thresh
                }
        yield pd.DataFrame(
            {col: [None if c is _null else c for c in counters]}
        )

    return keys.mapInPandas(summarize, schema=f"{col} {keys.schema[col].dataType.simpleString()}").distinct()


def q_heavy_hitters_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    # null-safe semi join: the kernel now emits a null candidate when
    # nulls are frequent, and SQL GROUP BY (the oracle) keeps the NULL
    # group -- a plain equi semi join would silently drop it here.
    # EqualNullSafe still hash-joins (no BNLJ).
    cand = _misra_gries_candidates(ev, _HH_K).withColumnRenamed(
        "user_id", "_cand_id"
    )
    total = ev.agg(F.count(F.lit(1)).alias("total"))
    return (
        ev.join(
            cand, F.col("user_id").eqNullSafe(F.col("_cand_id")), "left_semi"
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .crossJoin(F.broadcast(total))  # single-row total
        .filter(F.col("n_events") * _HH_K > F.col("total"))
        .select("user_id", "n_events")
    )


# ---------------------------------------------------------------------------
# Bigram language-model statistics: conditional probability
# p(w2 | w1) = c(w1 w2) / c(w1 *) for the corpus's top bigrams -- the
# building block of n-gram quality filters (a document whose bigrams
# are all low-probability is noise) and of classic LM perplexity
# scoring. Integer counts end-to-end; the conditional probability is
# ONE final correctly-rounded division per row, so the hash-compared
# doubles are bitwise-portable. The bigram pairs are built INSIDE the
# row (transform over a position sequence -- no self-join, no O(len^2)
# blow-up); two hash-agg shuffles total (bigram counts, unigram
# prefix counts), both map-side combinable. Top-50 by count compiles
# to TakeOrderedAndProject.
# ---------------------------------------------------------------------------

_BIGRAM_TOPK = 50

BIGRAM_LM_SQL = f"""
  WITH toks AS (
    SELECT doc_id, {space_split_sql('trim(lower(text))')} AS w
    FROM documents
  ),
  big AS (
    SELECT UNNEST([struct_pack(w1 := w[i], w2 := w[i+1])
                   for i in range(1, len(w))]) AS b
    FROM toks WHERE len(w) >= 2
  ),
  pairs AS (
    SELECT b.w1 AS w1, b.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c12
    FROM big GROUP BY 1, 2
  ),
  uni AS (
    SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM pairs GROUP BY 1
  )
  SELECT p.w1, p.w2, p.c12, u.c1,
         CAST(p.c12 AS DOUBLE) / CAST(u.c1 AS DOUBLE) AS cond_p
  FROM pairs p JOIN uni u ON u.w1 = p.w1
  ORDER BY p.c12 DESC, p.w1, p.w2
  LIMIT {_BIGRAM_TOPK}
"""


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        space_split(F.trim(F.lower("text"))).alias("w")
    ).filter(F.size("w") >= 2)
    big = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), "
                "i -> named_struct('w1', w[i-1], 'w2', w[i]))"
            )
        ).alias("b")
    ).select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    pairs = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = pairs.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return (
        pairs.join(uni, "w1")
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            (F.col("c12").cast("double") / F.col("c1").cast("double")).alias(
                "cond_p"
            ),
        )
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(_BIGRAM_TOPK)
    )


# ---------------------------------------------------------------------------
# LM-quality document ranking: the actual curation USE of the bigram
# stats -- score each document by the mean corpus-conditional
# probability of its bigrams; documents full of improbable bigrams
# (mojibake, shredded markup, word salad) sink to the bottom and a
# pipeline drops the tail. All arithmetic is integer: each bigram
# contributes (c12 * 10^6) div c1 parts-per-million, the per-doc sum
# and final mean are integer divisions -- no float accumulation order,
# no log. Joins shuffle (doc_id, bigram-hash) ints; the global bigram
# table is corpus-vocabulary sized (size-based planning, no forced
# broadcast).
# ---------------------------------------------------------------------------

#: the score CTE chain ending in ``lm_scores(doc_id, n_bigrams,
#: lm_score_ppm)`` — shared verbatim by the band-pruning oracle
#: (functions/pruning.py), mirroring the shared ``lm_doc_scores``
#: Spark helper
LM_SCORES_CTE = f"""
  toks AS (
    SELECT doc_id, {space_split_sql('trim(lower(text))')} AS w
    FROM documents
  ),
  db AS (
    SELECT doc_id,
           UNNEST([hash(w[i] || chr(30) || w[i+1])
                   for i in range(1, len(w))]) AS bh
    FROM toks WHERE len(w) >= 2
  ),
  pairs AS (
    SELECT bh, CAST(COUNT(*) AS BIGINT) AS c12 FROM db GROUP BY 1
  ),
  -- unigram prefix totals need the prefix word, not the pair hash:
  uni AS (
    SELECT hw1, CAST(COUNT(*) AS BIGINT) AS c1 FROM (
      SELECT hash(w[i]) AS hw1
      FROM toks, UNNEST(range(1, len(w))) AS t(i)
      WHERE len(w) >= 2
    ) GROUP BY 1
  ),
  scored AS (
    SELECT d.doc_id,
           (p.c12 * 1000000) // u.c1 AS ppm
    FROM (
      SELECT doc_id,
             UNNEST([hash(w[i] || chr(30) || w[i+1])
                     for i in range(1, len(w))]) AS bh,
             UNNEST([hash(w[i]) for i in range(1, len(w))]) AS hw1
      FROM toks WHERE len(w) >= 2
    ) d
    JOIN pairs p ON p.bh = d.bh
    JOIN uni u ON u.hw1 = d.hw1
  ),
  lm_scores AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS lm_score_ppm
    FROM scored GROUP BY doc_id
  )
"""

LM_QUALITY_SQL = f"""
  WITH {LM_SCORES_CTE}
  SELECT doc_id, n_bigrams, lm_score_ppm
  FROM lm_scores
  ORDER BY doc_id
"""


def lm_doc_scores(docs: DataFrame) -> DataFrame:
    """Per-document corpus-bigram-LM quality score: mean over the
    doc's bigrams of ``P(w2|w1)`` in integer ppm, computed against
    the corpus-wide bigram/unigram counts. Returns
    ``(doc_id, n_bigrams, lm_score_ppm)``; docs with <2 tokens are
    absent (no bigrams — same rule on both engines). Shared by
    ``text_lm_quality_rank`` and the band-pruning family
    (functions/pruning.py) so the score spelling cannot drift between
    the rank and the prune."""
    toks = docs.select(
        "doc_id", space_split(F.trim(F.lower("text"))).alias("w")
    ).filter(F.size("w") >= 2)
    # both hashes built in-array; only (doc_id, int64, int64) shuffles.
    # chr(30) (record separator) keeps "ab c"+"d" distinct from
    # "ab"+"c d" in the pair hash on both engines.
    db = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), i -> named_struct("
                "'bh', xxhash64(concat(w[i-1], char(30), w[i])), "
                "'hw1', xxhash64(w[i-1])))"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.bh").alias("bh"), F.col("p.hw1").alias("hw1"))
    # The PROBE side pre-aggregates bigram instances to per-doc
    # distinct bigrams with a multiplicity (guide: aggregate before
    # you shuffle): the two count-table joins and the final per-doc
    # aggregate then move doc-distinct rows instead of raw instances —
    # at corpus scale the join shuffle drops by the average within-doc
    # bigram repetition factor. The corpus/unigram counts keep reading
    # the raw explode (their shuffles were already tiny after map-side
    # partial aggregation, and a shared pre-aggregate does NOT get
    # exchange-reused across the branches — column pruning gives each
    # branch a different projection, so it only added an exchange:
    # measured 1.08s -> 1.85s; this hybrid measured 0.89s at sf0.1).
    # Arithmetic stays exact: a (bh, hw1) group's m instances share
    # one integer ppm, so sum-over-instances == m * ppm and
    # count-over-instances == sum(m).
    dbg = db.groupBy("doc_id", "bh", "hw1").agg(
        F.count(F.lit(1)).alias("m")
    )
    pairs = db.groupBy("bh").agg(F.count(F.lit(1)).alias("c12"))
    uni = db.groupBy("hw1").agg(F.count(F.lit(1)).alias("c1"))
    scored = (
        dbg.join(pairs, "bh")
        .join(uni, "hw1")
        .select(
            "doc_id",
            "m",
            F.expr("m * ((c12 * 1000000) div c1)").alias("mppm"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("m").alias("n_bigrams"),
        F.expr("sum(mppm) div sum(m)").alias("lm_score_ppm"),
    )


# Memoized corpus score feed (r18, the round-7 pair-feed pattern):
# EIGHT registered queries start from the corpus bigram-LM score
# (this ranker, the band-prune, the curriculum trio via _scored_docs,
# the pack_* trio), and in a serial sweep each rebuilt the full
# explode + three-join score pipeline independently (~0.7-1s each at
# sf0.1). The feed is computed once per session and documents content
# via cache.memo -- the result is three int64 columns per scored
# document (|docs| x 24 bytes, far below the shingle memo's footprint),
# so the pinned blocks are negligible while the recompute was the
# dominant shared cost of the curriculum/pack families.
# ``lm_doc_scores`` itself stays frame-in/frame-out for arbitrary
# inputs (tests score synthetic corpora through it).


def lm_doc_scores_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo(
        spark, "lm_doc_scores", sf_dir, "documents",
        lambda: lm_doc_scores(load_table(spark, sf_dir, "documents")),
    )


def q_lm_quality_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_doc_scores_for(spark, sf_dir)


SEARCH_QUERIES: dict[str, tuple[SparkQuery, str | None]] = {
    "text_bm25_search": (q_bm25_search, BM25_SEARCH_SQL),
    "text_bigram_lm": (q_bigram_lm, BIGRAM_LM_SQL),
    "text_lm_quality_rank": (q_lm_quality_rank, LM_QUALITY_SQL),
    "heavy_hitters_users": (q_heavy_hitters_users, HEAVY_HITTERS_SQL),
}

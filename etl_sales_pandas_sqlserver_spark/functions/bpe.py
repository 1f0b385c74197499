"""BPE tokenizer-training primitives: pair counting and merge apply.

Byte-pair-encoding training is an iterative loop whose data-side
primitives are these two queries:

1. ``bpe_top_pairs`` — one merge-candidate round: split text into
   whitespace words, count every ADJACENT CHARACTER PAIR inside each
   word across the whole corpus, take the top candidates by count —
   the pairs a trainer would merge next. (The trainer's loop is
   driver-side iteration over this primitive, like k-means over the
   assignment step; the primitive is what must scale.)
2. ``bpe_apply_merges`` (r14) — the other half: APPLY a fixed K-entry
   merge table to tokenize the corpus and report per-source token /
   merge-hit counts — the "how much does this vocabulary compress my
   corpus" audit every tokenizer-training pipeline publishes.

top_pairs semantics (identical both engines): words = whitespace split
of ``trim(lower(text))`` on the explicit ``tokcount.WS_CLASS`` grain
(r15: respelled from ``\\s+`` so the merge-table derivation and the
apply side share ONE whitespace definition — the r14 ADVICE finding
was exactly this intra-module grain mix); words shorter than 2
characters have no pairs; pair ``i`` = the two-character substring at
position ``i``
(CHARACTER grain, so multibyte text pairs identically — substr is
char-based in both Spark and DuckDB); top 50 by count descending, pair
ascending as the deterministic tiebreak at the cutoff.

apply_merges semantics (identical both engines, pinned by the
staged-corpus unit test): the merge table is the top ``_APPLY_K``
pairs ranked by (count DESC, pair ASC) — i.e. ``bpe_top_pairs``'s own
deterministic order. A word starts as its character sequence; each
merge rule, in rank order, makes ONE full pass merging adjacent token
pairs whose concatenation equals the rule, GREEDY LEFT-TO-RIGHT
NON-OVERLAPPING (``aaa`` under rule ``aa`` -> ``[aa, a]``). This is a
FIXED-table apply — re-deriving candidates between merges is the
trainer's driver-side loop, exactly like k-means iteration, and stays
out of the data path.

Scale shape: top_pairs builds pairs INSIDE the row (transform over a
position sequence, then explode — no self-join, the same pattern as
the bigram LM build) and flows into ONE map-side-combinable hash
aggregation keyed by the pair string; the top-50 compiles to
TakeOrderedAndProject (per-partition top-k, 50 rows shuffled).
apply_merges tokenizes the DISTINCT-WORD VOCABULARY, not the corpus:
per (source, word) counts reduce the corpus to its vocabulary (a
shuffle the word-count already pays, map-side combinable), the K
in-row merge passes run once per distinct word (vocabulary <<
corpus — the Heaps'-law win that makes a 100 TB apply affordable),
and occurrence counts multiply the per-word token arithmetic back at
the end. Each merge pass is a single LINEAR JVM string replace over a
sentinel-delimited char encoding (see ``_one_merge_pass``; r17 — the
earlier ``F.aggregate`` array fold was O(len^2) per pass in word
length because the array accumulator copies on every append, a
straggler shape on any pathologically long word). The merge table
itself is a bounded driver-side collect (<= _APPLY_K rows, the
kmeans-centroid pattern) compiled into the pass expressions — no join
against an unbounded side, no UDF.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .tokcount import ws_split, ws_split_sql

SparkQuery = Callable[[SparkSession, str], DataFrame]

_TOPK = 50
#: merge-table size for bpe_apply_merges: enough rules that chains and
#: priority interactions are exercised, small enough that the K in-row
#: fold passes stay cheap (each pass is one interpreted lambda over a
#: short char array, once per DISTINCT word)
_APPLY_K = 16


def q_bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(ws_split(F.lower("text"))).alias("w")
    ).filter(F.length("w") >= 2)
    # Pre-aggregate word OCCURRENCES to the distinct-word VOCABULARY
    # with a multiplicity before building bigrams (r18, guide §2.3
    # "aggregate before you shuffle" -- the same Heaps'-law move
    # bpe_apply_merges already makes): the per-character transform +
    # explode + substring then run once per DISTINCT word instead of
    # once per occurrence, and the pair aggregate sums multiplicities.
    # Exact by distribution: every occurrence of one word contributes
    # the identical bigram multiset, so sum(m) over distinct words ==
    # count(*) over occurrences. The added vocab-keyed exchange is
    # map-side combinable and bounded by vocabulary growth, while the
    # bigram build shrinks by the corpus word-repetition factor.
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("m"))
    # sequence lower bound == 1 is guaranteed by the length filter
    # (sequence(a, b) with b < a would count DOWN)
    pairs = wc.select(
        "m",
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("m").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(_TOPK)
    )


BPE_TOP_PAIRS_SQL = f"""
  WITH words AS (
    SELECT UNNEST({ws_split_sql('lower(text)')}) AS w
    FROM documents
  ),
  pairs AS (
    SELECT UNNEST([substr(w, i, 2) for i in range(1, len(w))]) AS pair
    FROM words WHERE len(w) >= 2
  )
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs
  GROUP BY pair
  ORDER BY n DESC, pair
  LIMIT {_TOPK}
"""

# ---------------------------------------------------------------------------
# bpe_apply_merges (r14): tokenize the corpus with a fixed merge table.
# ---------------------------------------------------------------------------


#: token sentinels for the linear merge-pass encoding below. Control
#: chars U+0001/U+0002 never occur in real text; ``_wrap_chars``
#: raises loudly (rather than corrupting the encoding) if they do.
_S1 = "\x01"
_S2 = "\x02"


def _wrap_chars(w) -> "F.Column":
    """Encode a word column as a sentinel-delimited token string: each
    character ``c`` becomes ``\\x01 c \\x02``. ``(?s)`` makes ``.``
    match U+2028/U+2029 too (Java ``.`` excludes line separators by
    default, and those are NOT ``WS_CLASS`` separators, so they can
    legitimately sit inside a word). The guard is the house
    assert-in-coalesce-first-arm pattern: a raw word containing a
    sentinel char raises loudly instead of silently corrupting token
    boundaries."""
    wrapped = F.regexp_replace(w, "(?s)(.)", f"{_S1}$1{_S2}")
    return F.coalesce(
        F.assert_true(
            ~(w.contains(_S1) | w.contains(_S2)),
            F.lit(
                "bpe sentinel guard: raw word contains U+0001/U+0002,"
                " which would corrupt the merge-pass token encoding"
            ),
        ),
        wrapped,
    )


def _one_merge_pass(s, pair: str):
    """One greedy left-to-right non-overlapping pass of ``pair`` over a
    sentinel-encoded token string: a single JVM ``replace`` of
    ``\\x01 a \\x02 \\x01 b \\x02`` with ``\\x01 ab \\x02``. JVM
    replace scans left-to-right, never rescanning the substituted text
    — exactly the greedy fold (``aaa`` under rule ``aa`` ->
    ``[aa, a]``), including run parity. Sentinels anchor token
    boundaries: a 2-char rule can only ever merge two 1-char tokens
    (no rule is ever 3+ chars, so a merged token never merges again),
    and the pattern cannot match inside a multi-char token. O(len) per
    pass and whole-stage-codegen'd — this replaced the r14-r16
    ``F.aggregate`` array fold whose per-element accumulator copy made
    it O(len^2) in word length (the r16 mega-doc probe, at commit
    ``9dbaa4e``, measured 4x wall per 2x length).
    ``F.lit`` keeps corpus-derived rule text (quotes, backslashes) out
    of SQL literals entirely."""
    return F.replace(
        s,
        F.lit(_S1 + pair[0] + _S2 + _S1 + pair[1] + _S2),
        F.lit(_S1 + pair + _S2),
    )


def _token_count(s) -> "F.Column":
    """Token count of a sentinel-encoded string: one ``\\x01`` per
    token (split yields a leading empty element)."""
    return F.array_size(F.split(s, _S1)) - 1


def q_bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # merge table: bounded driver-side collect (<= _APPLY_K rows), the
    # kmeans-centroid pattern; rank order == top_pairs' deterministic
    # (count DESC, pair ASC) order, re-sorted driver-side so the fold
    # order can never depend on collect()'s row order
    rows = (
        q_bpe_top_pairs(spark, sf_dir)
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(_APPLY_K)
        .collect()
    )
    merges = [
        r["pair"] for r in sorted(rows, key=lambda r: (-r["n"], r["pair"]))
    ]
    docs = load_table(spark, sf_dir, "documents")
    word_counts = (
        docs.select(
            "source",
            F.explode(ws_split(F.lower("text"))).alias("w"),
        )
        .filter(F.length("w") >= 1)
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    # tokenize each DISTINCT word once (vocabulary << corpus), then
    # multiply by occurrence counts
    vocab = word_counts.select("w").distinct()
    toks = _wrap_chars(F.col("w"))
    for pair in merges:
        toks = _one_merge_pass(toks, pair)
    tokenized = vocab.select(
        "w",
        F.length("w").cast("long").alias("n_chars_w"),
        _token_count(toks).cast("long").alias("n_toks_w"),
    )
    return (
        word_counts.join(tokenized, "w")
        .groupBy("source")
        .agg(
            F.sum("n_occ").cast("long").alias("n_words"),
            F.sum(F.col("n_chars_w") * F.col("n_occ"))
            .cast("long")
            .alias("n_chars"),
            F.sum(F.col("n_toks_w") * F.col("n_occ"))
            .cast("long")
            .alias("n_tokens"),
            F.sum(
                (F.col("n_chars_w") - F.col("n_toks_w")) * F.col("n_occ")
            )
            .cast("long")
            .alias("n_merge_hits"),
        )
    )


def _apply_merges_sql() -> str:
    """Naive per-word oracle: the merge table is re-derived in SQL (the
    same top-K CTE), and each word's tokenization replays the K greedy
    passes via a recursive CTE over merge rank. One pass is spelled
    POSITIONALLY (run-parity: merge at match positions an even offset
    into their consecutive-match run — exactly the greedy fold's
    fixpoint), because DuckDB list comprehensions can't carry a
    sequential accumulator. O(len^2) per distinct word per step —
    oracle-naive by design."""
    return f"""
  WITH RECURSIVE
  merges AS (
    SELECT pair,
           CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS r
    FROM (
      SELECT pair, COUNT(*) AS n
      FROM (
        SELECT UNNEST([substr(w, i, 2) for i in range(1, len(w))]) AS pair
        FROM (
          SELECT UNNEST({ws_split_sql('lower(text)')}) AS w
          FROM documents
        ) WHERE len(w) >= 2
      )
      GROUP BY pair
      ORDER BY n DESC, pair
      LIMIT {_APPLY_K}
    )
  ),
  word_counts AS (
    SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM (
      SELECT source,
             UNNEST({ws_split_sql('lower(text)')}) AS w
      FROM documents
    ) WHERE len(w) >= 1
    GROUP BY source, w
  ),
  vocab AS (SELECT DISTINCT w FROM word_counts),
  steps AS (
    SELECT w, [substr(w, i, 1) for i in range(1, len(w)+1)] AS t,
           CAST(0 AS BIGINT) AS step
    FROM vocab
    UNION ALL
    SELECT w,
           [CASE WHEN sel[i] THEN p ELSE t[i] END
            for i in range(1, len(t)+1)
            if i = 1 OR NOT sel[i-1]] AS t,
           step + 1
    FROM (
      SELECT w, t, p, step,
             [mt[i] AND ((i - list_max(
                 [j for j in range(0, i) if j = 0 OR NOT mt[j]])) % 2 = 1)
              for i in range(1, len(t)+1)] AS sel
      FROM (
        SELECT s.w, s.t, m.pair AS p, s.step,
               [CASE WHEN i < len(s.t) AND s.t[i] || s.t[i+1] = m.pair
                     THEN true ELSE false END
                for i in range(1, len(s.t)+1)] AS mt
        FROM steps s JOIN merges m ON m.r = s.step + 1
      )
    )
  ),
  tokenized AS (
    SELECT w, CAST(len(w) AS BIGINT) AS n_chars_w,
           CAST(len(t) AS BIGINT) AS n_toks_w
    FROM steps WHERE step = (SELECT COUNT(*) FROM merges)
  )
  SELECT source,
         CAST(SUM(n_occ) AS BIGINT) AS n_words,
         CAST(SUM(n_chars_w * n_occ) AS BIGINT) AS n_chars,
         CAST(SUM(n_toks_w * n_occ) AS BIGINT) AS n_tokens,
         CAST(SUM((n_chars_w - n_toks_w) * n_occ) AS BIGINT) AS n_merge_hits
  FROM word_counts JOIN tokenized USING (w)
  GROUP BY source
  ORDER BY source
"""


BPE_APPLY_MERGES_SQL = _apply_merges_sql()

QUERIES_EXPORT: dict[str, tuple[SparkQuery, "str | None"]] = {
    "bpe_top_pairs": (q_bpe_top_pairs, BPE_TOP_PAIRS_SQL),
    "bpe_apply_merges": (q_bpe_apply_merges, BPE_APPLY_MERGES_SQL),
}

"""Training-batch shaping: sequence-length bucketing, packing
efficiency across context sizes, and OOV rate per source.

Three batch-economics queries an LLM training pipeline runs after
curation and before shard writing (none exist in the reference, whose
surface is the sales ETL — these extend the LLM-curation family the
brief asks for):

- **sequence-length buckets / padding waste**: docs bucketed to the
  next power-of-two token count (min 16, the realistic pad floor);
  per bucket the padded-token overhead in exact ppm. This is the
  dynamic-batching decision table: which buckets to serve, how much
  compute padding burns in each.
- **packing efficiency curve**: for each candidate context length,
  the padded-token waste of chunked packing (docs split into
  ctx-token chunks, last chunk padded — the deterministic lower bound
  any smarter packer must beat). The curve is what picks the training
  context length for a corpus; the greedy packer itself lives in
  traindata.py (pack_training_sequences).
- **OOV rate per source**: share of token occurrences outside the
  corpus-global top-K vocabulary. The per-source OOV number is the
  standard tokenizer-fit triage: a source with 30% OOV against the
  corpus vocab either needs its own tokenizer budget or gets
  down-mixed.

Cross-engine exactness: token/chunk totals are int64 (safe past
9·10¹⁸ — thousands of PB of text); the ppm shares multiply those
totals by 10⁶, which a bare int64 would wrap at a few tens of TB, so
they are computed in int128-class arithmetic via the shared
``intmath.exact_ppm_*`` spelling (Spark DECIMAL(38,0) ``div`` /
DuckDB HUGEINT ``//`` — identical floors, r10-verified). The
next-power-of-two is the shared ``intmath.next_pow2_*`` bit-math
fragment (no log2 — libm transcendentals differ across engines).
Token counts reuse the whitespace-split spelling of the lang-weights
query (source_stats.py) so every token-economics number in the
registry agrees on the grain.

Scale shapes:
- buckets: one token-count projection at the scan, one map-side
  combinable agg to at most ~50 rows (log2 of the longest doc); no
  join, no window, text never shuffles.
- packing curve: the ctx axis is a 3-element literal explode (3x a
  doc-count agg, still map-side combinable to 3 rows); per-doc chunk
  math is codegen'd column arithmetic.
- OOV: the large shuffle is the (token) count agg — map-side
  combinable, carries (token, int64) only; the top-K vocab is a
  TakeOrdered (per-partition top-K, K rows to the driver plan — never
  a global sort), and rejoining it to the token stream is an explicit
  K-row broadcast. At 100 TB the token-count agg is the same shape as
  the docfreq/BM25 family's — the corpus's distinct-token table, hash
  partitioned.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .intmath import (
    PPM as _PPM,
    exact_ppm_spark,
    exact_ppm_sql,
    next_pow2_spark,
    next_pow2_sql,
)

# The token counts are tokcount's -- the grain the budget / sharding /
# release / curriculum families compute on, so batch economics can
# never desync from the shard boundaries.
from .tokcount import N_TOKENS_SQL, n_tokens_spark, ws_split, ws_split_sql

SparkQuery = Callable[[SparkSession, str], DataFrame]
_MIN_BUCKET = 16
_CTX_SIZES = (128, 256, 512)
_VOCAB_K = 64


# ---------------------------------------------------------------------------
# 1. Sequence-length buckets and padding waste.
# ---------------------------------------------------------------------------

SEQ_BUCKET_SQL = f"""
  WITH t AS (
    SELECT CAST({N_TOKENS_SQL} AS BIGINT) AS n FROM documents
  ),
  b AS (
    SELECT n,
           CASE WHEN n <= {_MIN_BUCKET} THEN CAST({_MIN_BUCKET} AS BIGINT)
                ELSE {next_pow2_sql('n')}
           END AS bucket_cap
    FROM t
  ),
  g AS (
    SELECT bucket_cap,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) AS BIGINT) * bucket_cap AS padded_tokens
    FROM b GROUP BY bucket_cap
  )
  SELECT bucket_cap, n_docs, total_tokens, padded_tokens,
         {exact_ppm_sql('padded_tokens - total_tokens', 'padded_tokens')}
           AS waste_ppm
  FROM g
  ORDER BY bucket_cap
"""


def q_seq_bucket_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs bucketed to the next power-of-two token count (>= 16);
    per bucket the padding overhead of batching at the bucket cap, in
    exact ppm. next_pow2 is bit math (length of the binary string of
    n-1), not log2 — transcendentals differ across libm builds."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(n_tokens_spark().alias("n"))
    cap = F.when(
        F.col("n") <= _MIN_BUCKET, F.lit(_MIN_BUCKET).cast("long")
    ).otherwise(F.expr(next_pow2_spark("n")))
    g = (
        t.select(F.col("n"), cap.alias("bucket_cap"))
        .groupBy("bucket_cap")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("total_tokens"),
        )
    )
    return g.select(
        "bucket_cap",
        "n_docs",
        "total_tokens",
        (F.col("n_docs") * F.col("bucket_cap")).alias("padded_tokens"),
    ).select(
        "*",
        F.expr(
            exact_ppm_spark(
                "padded_tokens - total_tokens", "padded_tokens"
            )
        ).alias("waste_ppm"),
    )


# ---------------------------------------------------------------------------
# 2. Packing efficiency across candidate context lengths.
# ---------------------------------------------------------------------------

PACKING_CURVE_SQL = f"""
  WITH t AS (
    SELECT CAST({N_TOKENS_SQL} AS BIGINT) AS n FROM documents
  ),
  x AS (
    SELECT c.ctx, t.n, (t.n + c.ctx - 1) // c.ctx AS chunks
    FROM t CROSS JOIN (
      SELECT CAST(UNNEST({list(_CTX_SIZES)}) AS BIGINT) AS ctx
    ) c
  )
  SELECT ctx, n_docs, n_chunks, padded_tokens,
         {exact_ppm_sql('padded_tokens - total_tokens', 'padded_tokens')}
           AS waste_ppm
  FROM (
    SELECT ctx,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(chunks) AS BIGINT) AS n_chunks,
           CAST(SUM(chunks) AS BIGINT) * ctx AS padded_tokens,
           CAST(SUM(n) AS BIGINT) AS total_tokens
    FROM x GROUP BY ctx
  )
  ORDER BY ctx
"""


def q_packing_efficiency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked-packing waste at each candidate context length: docs
    split into ceil(n/ctx) chunks, last chunk padded. The deterministic
    baseline every smarter packer must beat; 3 literal ctx points, so
    the explode triples a 1-column agg input, nothing more."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(n_tokens_spark().alias("n"))
    x = t.select(
        "n",
        F.explode(
            F.array(*[F.lit(c).cast("long") for c in _CTX_SIZES])
        ).alias("ctx"),
    ).select(
        "ctx", "n", F.expr("(n + ctx - 1) div ctx").alias("chunks")
    )
    g = x.groupBy("ctx").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("chunks").alias("n_chunks"),
        F.sum("n").alias("_tok"),
    )
    return g.select(
        "ctx",
        "n_docs",
        "n_chunks",
        (F.col("n_chunks") * F.col("ctx")).alias("padded_tokens"),
        "_tok",
    ).select(
        "ctx",
        "n_docs",
        "n_chunks",
        "padded_tokens",
        F.expr(
            exact_ppm_spark("padded_tokens - _tok", "padded_tokens")
        ).alias("waste_ppm"),
    )


# ---------------------------------------------------------------------------
# 3. OOV rate per source against the corpus-global top-K vocabulary.
# ---------------------------------------------------------------------------

OOV_RATE_SQL = f"""
  WITH toks AS (
    SELECT source,
           UNNEST({ws_split_sql()}) AS token
    FROM documents
  ),
  counts AS (
    SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
  ),
  vocab AS (
    SELECT token FROM counts ORDER BY cnt DESC, token LIMIT {_VOCAB_K}
  )
  SELECT source, n_tokens, n_oov,
         {exact_ppm_sql('n_oov', 'n_tokens')} AS oov_ppm
  FROM (
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov
    FROM toks t LEFT JOIN vocab v USING (token)
    GROUP BY t.source
  )
  ORDER BY source
"""


def q_oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token occurrences outside the global top-K vocab, per source,
    in exact ppm. Vocab selection is fully deterministic (count desc,
    token asc — a row_number order, not a ties-included rank) so both
    engines pick the identical K tokens. The Spark top-K is a
    TakeOrdered, not a global sort; the vocab rejoin is a K-row
    broadcast against the token stream."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(ws_split()).alias("token"),
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = (
        counts.orderBy(F.desc("cnt"), F.asc("token"))
        .limit(_VOCAB_K)
        .select("token", F.lit(1).alias("_in_vocab"))
    )
    oov = F.when(F.col("_in_vocab").isNull(), F.lit(1)).otherwise(F.lit(0))
    return (
        toks.join(F.broadcast(vocab), "token", "left")  # broadcast-ok: vocab is LIMIT K = 64 rows by construction
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(oov).alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.expr(exact_ppm_spark("n_oov", "n_tokens")).alias("oov_ppm"),
        )
    )


QUERIES_EXPORT: dict[str, tuple[SparkQuery, "str | None"]] = {
    "seq_bucket_padding_waste": (
        q_seq_bucket_padding_waste,
        SEQ_BUCKET_SQL,
    ),
    "packing_efficiency_curve": (
        q_packing_efficiency_curve,
        PACKING_CURVE_SQL,
    ),
    "oov_rate_by_source": (q_oov_rate_by_source, OOV_RATE_SQL),
}

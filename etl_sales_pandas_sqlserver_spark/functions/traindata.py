"""Training-data curation operators over the ``documents`` /
``embeddings`` tables: deterministic dataset splitting, stratified
sampling, vocabulary statistics, token salience, sequence packing and
embedding quantization -- the standard corpus-prep steps between "raw
crawl" and "training batches".

Every operator here is expressed in pure JVM-side DataFrame expressions
(no Python in the hot path) and has a DuckDB oracle twin.

Cross-engine determinism notes:

- **hash split**: the split assignment is the first 4 hex digits of
  ``md5(doc_id)`` mod 100 -- md5 is bit-identical everywhere, the hex
  parse is exact integer arithmetic, so Spark and DuckDB agree row by
  row (and re-runs are reproducible, unlike ``rand()``-based splits).
- **no float rounding in quantization**: int8 quantization truncates
  toward zero on BOTH engines (Spark ANSI double->int cast truncates;
  DuckDB ``CAST(double AS INT)`` ROUNDS, so the oracle spells
  ``trunc()`` explicitly).
- **no transcendentals**: token salience uses the rational form
  ``tf * N / df`` (one double division on identical bigint operands)
  instead of ``tf * ln(N/df)`` -- ``ln`` is not guaranteed identically
  rounded across libm implementations.

At 100 TB: split/sample are stateless per-row filters (no shuffle at
all -- they pipeline into whatever reads them); vocabulary/salience
aggregate on token (one shuffle, map-side combined); packing is a
per-stratum running sum (one shuffle on the stratum key); quantization
is per-row (no shuffle). Nothing here materializes the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import memo
from ..operators.scale import range_partitions, range_row_index
from ..sources.testdata import load_table
from .tokcount import (
    N_TOKENS_SQL,
    fingerprint_col,
    fingerprint_sql,
    md5_slice,
    md5_slice_sql,
    n_tokens_spark,
)

# ---------------------------------------------------------------------------
# Deterministic hash split: md5(doc_id) -> bucket 0..99 -> 80/10/10.
# ---------------------------------------------------------------------------

_SPLIT_HASH_SQL = md5_slice_sql("CAST(doc_id AS VARCHAR)", 1, 4)

SPLIT_SQL = f"""
  SELECT doc_id,
         CASE WHEN bucket < 80 THEN 'train'
              WHEN bucket < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id,
           {_SPLIT_HASH_SQL}
             % 100 AS bucket
    FROM documents
  )
  ORDER BY doc_id
"""


def _split_hash():
    """Spark twin of ``_SPLIT_HASH_SQL``: the first 16 md5 bits of
    ``doc_id``; mod 100 it is the split/sample bucket."""
    return md5_slice(F.col("doc_id").cast("string"), 1, 4)


def q_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = _split_hash() % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return docs.select("doc_id", split.alias("split"))


# ---------------------------------------------------------------------------
# Stratified sampling: per-language keep rates applied via the same
# md5 bucket -- a deterministic analogue of df.sampleBy(). Being a
# stateless filter it costs zero shuffles and composes with any
# downstream pipeline (the classic "rebalance languages before
# training" step).
# ---------------------------------------------------------------------------

_KEEP_RATES = {"en": 30, "zh": 60, "de": 60, "fr": 60, "es": 60}

SAMPLE_SQL = f"""
  SELECT doc_id, lang
  FROM (
    SELECT doc_id, lang,
           {_SPLIT_HASH_SQL}
             % 100 AS bucket
    FROM documents
  )
  WHERE bucket < CASE lang
      WHEN 'en' THEN {_KEEP_RATES["en"]}
      WHEN 'zh' THEN {_KEEP_RATES["zh"]}
      WHEN 'de' THEN {_KEEP_RATES["de"]}
      WHEN 'fr' THEN {_KEEP_RATES["fr"]}
      ELSE {_KEEP_RATES["es"]} END
  ORDER BY doc_id
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = _split_hash() % 100
    rate = (
        F.when(F.col("lang") == "en", _KEEP_RATES["en"])
        .when(F.col("lang") == "zh", _KEEP_RATES["zh"])
        .when(F.col("lang") == "de", _KEEP_RATES["de"])
        .when(F.col("lang") == "fr", _KEEP_RATES["fr"])
        .otherwise(_KEEP_RATES["es"])
    )
    return (
        docs.filter(bucket < rate).select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# Vocabulary: top-5 tokens per language by frequency (tie -> token
# asc). Tokenizer = lowercase, split on non-alphanumeric runs --
# identical regex semantics in Spark and DuckDB; empty fragments
# filtered on both sides. Plan: explode -> one (lang, token) hash agg
# (map-side combined), then a 5-row-per-group WindowGroupLimit over
# the tiny aggregate -- the window never sees raw tokens.
# ---------------------------------------------------------------------------

TOPK_TOKENS_SQL = """
  SELECT lang, token, cnt, rank
  FROM (
    SELECT lang, token, cnt,
           row_number() OVER (PARTITION BY lang
                              ORDER BY cnt DESC, token) AS rank
    FROM (
      SELECT lang, t.token AS token, COUNT(*) AS cnt
      FROM documents,
           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(token)
      WHERE t.token <> ''
      GROUP BY lang, t.token
    )
  )
  WHERE rank <= 5
  ORDER BY lang, rank
"""


def _tokens():
    return F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != ""
    )


def q_topk_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(_tokens()).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "token")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "token", "cnt", "rank")
    )


# ---------------------------------------------------------------------------
# Token salience: tf * (N / df) -- the rational tf-idf variant (no
# ln, see module docstring), top 20 corpus-wide. df counts DISTINCT
# documents per token; both tf and df come out of ONE explode pass
# (count + count-distinct in the same agg). N is a broadcast scalar.
# ---------------------------------------------------------------------------

TOKEN_SALIENCE_SQL = """
  WITH toks AS (
    SELECT doc_id, t.token AS token
    FROM documents,
         unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(token)
    WHERE t.token <> '' AND doc_id IS NOT NULL
  ),
  stats AS (
    SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
    FROM toks GROUP BY token
  ),
  n AS (SELECT COUNT(*) AS n_docs FROM documents WHERE doc_id IS NOT NULL)
  SELECT token, tf, df,
         CAST(tf * n.n_docs AS DOUBLE) / df AS salience
  FROM stats, n
  ORDER BY salience DESC, token
  LIMIT 20
"""


def q_token_salience(spark: SparkSession, sf_dir: str) -> DataFrame:
    # id-less documents are excluded on BOTH engines (r16): df counts
    # DISTINCT doc_id, which skips NULLs, so a token seen only in an
    # id-less doc would carry df = 0 -- Spark's ANSI division raises
    # where DuckDB flows inf. Same exclusion rationale as
    # shard_manifest_tokens: the doc can't be attributed, so it is not
    # part of the salience universe (tf, df, AND N agree on that).
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    toks = docs.select("doc_id", F.explode(_tokens()).alias("token"))
    stats = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        stats.join(F.broadcast(n))
        .select(
            "token",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "salience"
            ),
        )
        .orderBy(F.col("salience").desc(), "token")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Sequence packing: assign documents to fixed-budget training
# sequences (4000 chars) per language, greedy in doc_id order --
# seq_id = floor(chars-before-this-doc / budget), i.e. the standard
# "concat and chop" packing. One window cumsum per stratum (shuffle on
# lang); the output aggregates per sequence. Note a document larger
# than the budget still lands in one sequence (chop happens at
# tokenize time downstream); the assignment stays deterministic.
# ---------------------------------------------------------------------------

_SEQ_BUDGET = 4000

#: DuckDB widens integer SUM to int128 (hugeint); the driver hashes by
#: value *type*, so both SUM-derived columns cast back to BIGINT to
#: match Spark's int64 (same bug class as the q12 fix, commit 3ab0c3d).
PACK_SEQUENCES_SQL = f"""
  WITH assigned AS (
    SELECT lang, doc_id, n_chars,
           CAST((SUM(n_chars) OVER (PARTITION BY lang
                                    ORDER BY doc_id NULLS FIRST
                                    ROWS UNBOUNDED PRECEDING) - n_chars)
                // {_SEQ_BUDGET} AS BIGINT) AS seq_id
    FROM documents
  )
  SELECT lang, seq_id, COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
  FROM assigned
  GROUP BY lang, seq_id
  ORDER BY lang, seq_id
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    before = F.sum("n_chars").over(w) - F.col("n_chars")
    # chars-before / budget, truncating division (operands nonnegative,
    # so trunc == floor == DuckDB's `//`; quotient << 2^53, so the
    # intermediate double division is exact-enough to cast)
    assigned = docs.withColumn("seq_id", (before / _SEQ_BUDGET).cast("long"))
    return (
        assigned.groupBy("lang", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding int8 quantization: symmetric per-vector scale
# (127/max|x|), truncate-toward-zero to int, all element-wise double
# arithmetic (exact float->double widening first). Per-row only -- at
# 100 TB this runs fully pipelined inside the scan stage.
# ---------------------------------------------------------------------------

QUANTIZE_SQL = """
  SELECT vec_id,
         CAST(127.0 AS DOUBLE) / mx AS scale,
         array_to_string(
           list_transform(
             embedding,
             x -> CAST(trunc(CAST(x AS DOUBLE) * (CAST(127.0 AS DOUBLE) / mx))
                       AS INTEGER)
           ), ','
         ) AS qvec
  FROM (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding,
                                   x -> abs(CAST(x AS DOUBLE)))) AS mx
    FROM embeddings
  )
  WHERE mx > 0.0
  ORDER BY vec_id
"""


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    mx = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    )
    with_mx = emb.withColumn("mx", mx).filter(F.col("mx") > 0.0)
    scale = F.lit(127.0) / F.col("mx")
    qvec = F.transform(
        "embedding", lambda x: (x.cast("double") * scale).cast("int")
    )
    # the int8 vector ships as a CSV string: the driver's value-hash
    # compares scalar cells, and 'int,int,...' is bit-identical across
    # engines where a raw list column's representation is not
    return with_mx.select(
        "vec_id",
        scale.alias("scale"),
        F.array_join(qvec, ",").alias("qvec"),
    )


# ---------------------------------------------------------------------------
# Weighted corpus mixing: the "domain reweighting" step of training-data
# assembly -- each source gets an epoch multiplier (2.0 = every doc
# twice, 0.25 = one doc in four, deterministic). Whole copies come from
# an explode over a per-row sequence; the fractional copy is a hash
# gate on a mix-specific salt (independent of the split/sample hash so
# the choices don't correlate). Stateless and shuffle-free at any
# scale: the fan-out is bounded by ceil(max weight) and pipelines into
# downstream consumers.
# ---------------------------------------------------------------------------

#: source -> (whole epochs, extra-copy percent). Effective weight =
#: whole + pct/100: src0 2.0x, src1 1.5x, src2 1.0x, src3 0.5x,
#: everything else 0.25x.
_MIX_WHOLE = {"src0": 2, "src1": 1, "src2": 1, "src3": 0}
_MIX_FRAC_PCT = {"src0": 0, "src1": 50, "src2": 0, "src3": 50}
_MIX_DEFAULT = (0, 25)

CORPUS_MIX_SQL = f"""
  WITH w AS (
    SELECT doc_id, source,
           CASE source WHEN 'src0' THEN {_MIX_WHOLE["src0"]}
                       WHEN 'src1' THEN {_MIX_WHOLE["src1"]}
                       WHEN 'src2' THEN {_MIX_WHOLE["src2"]}
                       WHEN 'src3' THEN {_MIX_WHOLE["src3"]}
                       ELSE {_MIX_DEFAULT[0]} END
           + CASE WHEN {md5_slice_sql("CAST(doc_id AS VARCHAR) || '#mix'", 1, 4)} % 100
                  < CASE source WHEN 'src0' THEN {_MIX_FRAC_PCT["src0"]}
                                WHEN 'src1' THEN {_MIX_FRAC_PCT["src1"]}
                                WHEN 'src2' THEN {_MIX_FRAC_PCT["src2"]}
                                WHEN 'src3' THEN {_MIX_FRAC_PCT["src3"]}
                                ELSE {_MIX_DEFAULT[1]} END
             THEN 1 ELSE 0 END AS total
    FROM documents
  )
  SELECT doc_id, source, e.epoch
  FROM w, unnest(generate_series(0, total - 1)) AS e(epoch)
  WHERE total >= 1
  ORDER BY doc_id, epoch
"""


def q_corpus_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    whole = (
        F.when(F.col("source") == "src0", _MIX_WHOLE["src0"])
        .when(F.col("source") == "src1", _MIX_WHOLE["src1"])
        .when(F.col("source") == "src2", _MIX_WHOLE["src2"])
        .when(F.col("source") == "src3", _MIX_WHOLE["src3"])
        .otherwise(_MIX_DEFAULT[0])
    )
    frac_pct = (
        F.when(F.col("source") == "src0", _MIX_FRAC_PCT["src0"])
        .when(F.col("source") == "src1", _MIX_FRAC_PCT["src1"])
        .when(F.col("source") == "src2", _MIX_FRAC_PCT["src2"])
        .when(F.col("source") == "src3", _MIX_FRAC_PCT["src3"])
        .otherwise(_MIX_DEFAULT[1])
    )
    gate = (
        md5_slice(F.concat(F.col("doc_id").cast("string"), F.lit("#mix")), 1, 4)
        % 100
    )
    total = whole + F.when(gate < frac_pct, 1).otherwise(0)
    # Spark's sequence(0, -1) would count DOWN; filter total>=1 first so
    # the sequence bound is always valid (DuckDB's generate_series side
    # is empty-on-negative, same final row set)
    return (
        docs.select("doc_id", "source", total.alias("total"))
        .filter(F.col("total") >= 1)
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(0), F.col("total") - 1)).alias("epoch"),
        )
        .withColumn("epoch", F.col("epoch").cast("long"))
    )


# ---------------------------------------------------------------------------
# Context-window chunking: overlapping fixed-size character windows
# (window 512, stride 384 -> 128-char overlap), the standard "chop long
# documents into training contexts" step. The window starts are a
# per-row sequence (JVM-side), the chunk text never leaves the executor
# -- the output carries its length and an md5 fingerprint instead, so
# the driver hash-compares chunk CONTENT without shipping it.
# ---------------------------------------------------------------------------

_CHUNK_CHARS = 512
_CHUNK_STRIDE = 384

CHUNK_WINDOWS_SQL = f"""
  SELECT doc_id,
         s.start // {_CHUNK_STRIDE} AS chunk_id,
         s.start,
         least({_CHUNK_CHARS}, length(text) - s.start) AS chunk_chars,
         substr(md5(substr(text, CAST(s.start AS INTEGER) + 1, {_CHUNK_CHARS})), 1, 8)
           AS chunk_fp
  FROM documents,
       unnest(range(0, greatest(length(text), 1), {_CHUNK_STRIDE})) AS s(start)
  ORDER BY doc_id, chunk_id
"""


def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = F.length("text")
    starts = F.sequence(
        F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(_CHUNK_STRIDE)
    )
    exploded = docs.select(
        "doc_id", "text", F.explode(starts).alias("start")
    )
    chunk = F.col("text").substr(F.col("start") + 1, F.lit(_CHUNK_CHARS))
    return (
        exploded.select(
            "doc_id",
            (F.col("start") / _CHUNK_STRIDE).cast("long").alias("chunk_id"),
            F.col("start").cast("long").alias("start"),
            F.least(F.lit(_CHUNK_CHARS), F.length("text") - F.col("start"))
            .cast("long")
            .alias("chunk_chars"),
            F.substring(F.md5(chunk.cast("binary")), 1, 8).alias("chunk_fp"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus curation capstone: the stages a pre-training data pipeline
# actually chains -- exact dedup -> quality gate -> benchmark
# decontamination -> deterministic split -- composed as ONE lazy plan.
# Each stage reuses the engine's primitive (fingerprint hash-agg,
# token-count filter, the inverted-index decontaminate, the md5 split
# bucket), so Catalyst fuses the filters into the scans and the only
# shuffles are the dedup hash-agg, the decontaminate join, and the
# final tiny rollup. Output is the per-(split, lang) corpus census --
# compact, and hash-verifiable against DuckDB replaying the identical
# five stages.
# ---------------------------------------------------------------------------

_MIN_TOKENS = 5


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import q_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    # train pool: eval docs (doc_id % 10 == 0) are the benchmark side
    pool = docs.filter(F.col("doc_id") % 10 != 0)
    # 1. exact dedup, keep-first (lowest doc_id per content hash)
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    deduped = (
        pool.withColumn("fingerprint", fingerprint_col())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    # 2. quality gate: drop fragments with too few tokens -- the one
    # token count (tokcount), shared with the funnel audit's census
    kept = deduped.filter(n_tokens_spark() >= _MIN_TOKENS)
    # 3. decontamination: drop anything near-duplicating an eval doc
    contaminated = q_decontaminate(spark, sf_dir).select(
        F.col("train_id").alias("doc_id")
    ).distinct()
    clean = kept.join(contaminated, "doc_id", "left_anti")
    # 4. deterministic split + 5. census rollup
    bucket = _split_hash() % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        clean.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def _curation_sql() -> str:
    from .dedup import DECONTAMINATE_SQL

    return f"""
  WITH pool AS (
    SELECT doc_id, lang, n_chars, text,
           {fingerprint_sql()} AS fingerprint
    FROM documents WHERE doc_id % 10 <> 0
  ),
  deduped AS (
    SELECT * FROM pool
    QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
  ),
  kept AS (
    SELECT * FROM deduped
    WHERE {N_TOKENS_SQL} >= {_MIN_TOKENS}
  ),
  contaminated AS (
    SELECT DISTINCT train_id AS doc_id FROM ({DECONTAMINATE_SQL}) c
  ),
  clean AS (
    SELECT k.* FROM kept k LEFT JOIN contaminated c ON c.doc_id = k.doc_id
    WHERE c.doc_id IS NULL
  )
  SELECT CASE
           WHEN {_SPLIT_HASH_SQL} % 100 < 80 THEN 'train'
           WHEN {_SPLIT_HASH_SQL} % 100 < 90 THEN 'val'
           ELSE 'test' END AS split,
         lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM clean
  GROUP BY 1, 2
  ORDER BY split, lang
"""


CORPUS_CURATION_SQL = _curation_sql()


# ---------------------------------------------------------------------------
# Per-source quota capping: web-scale corpora are dominated by a few
# giant domains; training mixes cap documents per source (C4-style
# domain balancing). Deterministic and unbiased: rank within source by
# the md5 of the doc id (content-uncorrelated, identical hex ordering
# on both engines), keep the first _SOURCE_CAP. Emitting only
# survivors lets Spark plan the rank filter as WindowGroupLimit -- the
# per-partition top-k is taken BEFORE the shuffle, so only ~cap rows
# per source per task move, not the whole corpus.
# ---------------------------------------------------------------------------

_SOURCE_CAP = 10

SOURCE_QUOTA_SQL = f"""
  SELECT doc_id, source
  FROM (
    SELECT doc_id, source,
           row_number() OVER (
             PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
    FROM documents
  )
  WHERE rk <= {_SOURCE_CAP}
  ORDER BY doc_id
"""


def q_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), "doc_id"
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _SOURCE_CAP)
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# Global training order: every document gets a unique, contiguous,
# DETERMINISTIC 0-based position in the training stream (shuffled by
# content hash so the order is seed-stable and source-decorrelated),
# plus its shard assignment. The naive spelling --
# row_number() OVER (ORDER BY key) -- funnels the whole corpus through
# ONE task (Spark plans a global window as a single partition); at
# 100 TB that is the canonical scale-killer. The scale path is the
# two-pass zip-with-index of operators.scale.range_row_index. The
# oracle is the single-task spelling (ROW_NUMBER over the same md5
# key) -- exact at test scale, and a green row proves the distributed
# numbering equals the global sort.
# ---------------------------------------------------------------------------

_N_ORDER_PARTS = 8
_N_SHARDS = 4

TRAINING_ORDER_SQL = f"""
  WITH ranked AS (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))
                              NULLS FIRST) - 1
             AS pos
    FROM documents
  )
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         CAST(pos % {_N_SHARDS} AS BIGINT) AS shard
  FROM ranked
  ORDER BY pos
"""


def q_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        keyed = docs.select(
            "doc_id", F.md5(F.col("doc_id").cast("string")).alias("k")
        )
        return range_partitions(keyed, ["k"], _N_ORDER_PARTS)

    parts = memo(spark, "training_order_ranges", sf_dir, "documents", build)
    numbered, _ = range_row_index(parts, ["doc_id"])
    return numbered.select(
        "doc_id",
        "pos",
        F.pmod(F.col("pos"), F.lit(_N_SHARDS)).cast("bigint").alias("shard"),
    )


# ---------------------------------------------------------------------------
# Hashed-n-gram importance weights (DSIR-style, Xie et al. 2023 "Data
# Selection via Importance Resampling"): score every raw document by
# how target-like its hashed character-bigram distribution is, so a
# quality-starved domain can be up-sampled without training a
# classifier. Bigrams hash into 64 buckets ((ascii(c1)*31 +
# ascii(c2)) % 64 -- pure integer arithmetic both engines compute
# identically); the per-bucket likelihood ratio is the add-one-
# smoothed target/raw frequency ratio in ppm, kept in INTEGER
# arithmetic so the driver hash is bit-exact (DSIR proper sums
# log-ratios in double -- at production scale swap the ppm column for
# log doubles; the plumbing is identical. The ppm products stay under
# int64 through ~sf100; the overflow-free form at any scale is the
# log-space one).
#
# Scale shape: one explode of in-row bucket ids -> per-doc bucket
# counts (groupBy doc_id,bucket: map-side combined), global bucket
# histograms for target and raw are 64-row aggregates, the ratio
# table broadcasts, and the final per-doc score is one more map-side-
# combined sum. No all-pairs anything; linear in corpus bytes.
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 64
_DSIR_TARGET_LANG = "en"

# Byte-grain oracle (round 10): the Spark kernel hashes UTF-8 payload
# BYTES, so the oracle must too. DuckDB has no blob indexing; bytes are
# recovered from to_hex(encode(text)) with hex-digit arithmetic, the
# same _bytes_cte spelling the five multimodal oracles adopted in r9
# (until r10 this was char-grain ascii(substr(...)) — ASCII-only).
IMPORTANCE_WEIGHTS_SQL = f"""
  WITH h AS (
    SELECT doc_id, lang, to_hex(encode(text)) AS hx,
           octet_length(encode(text)) AS nb
    FROM documents
  ),
  b AS (
    SELECT doc_id, lang, nb,
           list_transform(range(1, nb + 1),
             i -> 16 * (strpos('0123456789ABCDEF', substr(hx, 2*i - 1, 1)) - 1)
                + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1)) AS bs
    FROM h
  ),
  pairs AS (
    SELECT doc_id, lang,
           UNNEST(list_transform(range(1, nb), i ->
              (bs[i] * 31 + bs[i + 1]) % {_DSIR_BUCKETS})) AS bucket
    FROM b
  ),
  tc AS (SELECT bucket, COUNT(*) AS c FROM pairs
         WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY 1),
  rc AS (SELECT bucket, COUNT(*) AS c FROM pairs GROUP BY 1),
  tot AS (SELECT (SELECT SUM(c) FROM tc) AS t,
                 (SELECT SUM(c) FROM rc) AS r),
  ratios AS (
    SELECT rc.bucket,
           ((COALESCE(tc.c, 0) + 1) * (tot.r + {_DSIR_BUCKETS}) * 1000000)
             // ((rc.c + 1) * (tot.t + {_DSIR_BUCKETS})) AS ppm
    FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tot
  )
  SELECT p.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(r.ppm) AS BIGINT) AS importance_score
  FROM pairs p JOIN ratios r USING (bucket)
  GROUP BY 1
  ORDER BY 1
"""


def q_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-doc bucket histograms via an Arrow-vectorized kernel: one
    # flat uint8 buffer per batch, the bigram hash as two shifted numpy
    # slices, cross-doc boundary pairs masked out, and ONE bincount
    # over (doc_index * buckets + bucket). The JVM alternatives
    # (substring-in-lambda: O(n^2) seeks, 4.6s; per-char split +
    # zip_with: 7.5M tiny strings, 2.5s) lose to O(bytes) numpy by an
    # order of magnitude at sf0.1. Output is 64 rows per doc max --
    # the explode never leaves Python.
    import numpy as np
    import pandas as pd

    n_buckets = _DSIR_BUCKETS

    def _histograms(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # empty texts contribute no bigrams and would corrupt the
            # boundary mask (a zero-length segment makes two boundary
            # pairs share an index) -- drop them up front
            pdf = pdf[[len(t) > 0 for t in pdf["text"]]]
            if len(pdf) == 0:
                continue
            # byte grain throughout: offsets, boundary mask, and the
            # bigram hash all run over each doc's UTF-8 payload bytes,
            # matching the byte-recovery oracle — non-ASCII is exact,
            # not an error (the ASCII-only guard died in r10)
            bts = [t.encode("utf-8") for t in pdf["text"]]
            lens = np.fromiter(
                (len(t) for t in bts), dtype=np.int64, count=len(bts)
            )
            buf = np.frombuffer(b"".join(bts), dtype=np.uint8)
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            v = (
                buf[:-1].astype(np.int64) * 31 + buf[1:].astype(np.int64)
            ) % n_buckets if buf.size > 1 else np.empty(0, np.int64)
            doc_idx = np.repeat(np.arange(len(lens)), np.maximum(lens - 1, 0))
            keep = np.ones(buf.size - 1 if buf.size else 0, dtype=bool)
            # drop the pair straddling each doc boundary
            keep[starts[1:] - 1] = False
            v = v[keep]
            counts = np.bincount(
                doc_idx * n_buckets + v,
                minlength=len(lens) * n_buckets,
            ).reshape(len(lens), n_buckets)
            didx, bucket = np.nonzero(counts)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[didx],
                    "lang": pdf["lang"].to_numpy()[didx],
                    "bucket": bucket.astype(np.int64),
                    "cnt": counts[didx, bucket].astype(np.int64),
                }
            )

    # memoize the per-doc counts: three consumers (target histogram,
    # raw histogram, score join) would otherwise re-run the Python
    # kernel per consumer -- mapInPandas output is not an Exchange, so
    # plan reuse cannot deduplicate it. |docs| x 64 rows max.
    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return docs.select("doc_id", "lang", "text").mapInPandas(
            _histograms,
            schema="doc_id long, lang string, bucket long, cnt long",
        )

    per_doc = memo(spark, "bigram_histograms", sf_dir, "documents", build)
    tc = (
        per_doc.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("tc"))
    )
    rc = per_doc.groupBy("bucket").agg(F.sum("cnt").alias("rc"))
    # 64-row ratio table; the 1-row totals cross-join keeps everything
    # inside one broadcast-size build
    totals = tc.agg(F.sum("tc").alias("t")).crossJoin(
        rc.agg(F.sum("rc").alias("r"))
    )
    ratios = (
        rc.join(tc, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.expr(
                f"((coalesce(tc, 0) + 1) * (r + {_DSIR_BUCKETS}) * 1000000) "
                f"div ((rc + 1) * (t + {_DSIR_BUCKETS}))"
            ).alias("ppm"),
        )
    )
    return (
        per_doc.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.col("ppm")).alias("importance_score"),
        )
    )


TRAINDATA_QUERIES = {
    "importance_weights_ngram": (q_importance_weights, IMPORTANCE_WEIGHTS_SQL),
    "training_order_global_index": (q_training_order, TRAINING_ORDER_SQL),
    "source_quota_cap": (q_source_quota, SOURCE_QUOTA_SQL),
    "corpus_curation_pipeline": (q_corpus_curation, CORPUS_CURATION_SQL),
    "split_train_val_test": (q_split_train_val_test, SPLIT_SQL),
    "corpus_mix_weighted": (q_corpus_mix_weighted, CORPUS_MIX_SQL),
    "chunk_context_windows": (q_chunk_windows, CHUNK_WINDOWS_SQL),
    "stratified_sample_docs": (q_stratified_sample, SAMPLE_SQL),
    "topk_tokens_per_lang": (q_topk_tokens_per_lang, TOPK_TOKENS_SQL),
    "token_salience": (q_token_salience, TOKEN_SALIENCE_SQL),
    "pack_training_sequences": (q_pack_sequences, PACK_SEQUENCES_SQL),
    "quantize_embeddings_int8": (q_quantize_embeddings, QUANTIZE_SQL),
}

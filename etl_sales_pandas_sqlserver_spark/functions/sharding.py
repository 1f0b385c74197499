"""Token-balanced output shard manifest.

Writers of training corpora emit fixed-token-budget shards (so every
data-loader worker streams a near-equal token count), assigning each
document — whole, documents are never split across shards — to the
shard where its EXCLUSIVE prefix token sum lands:

    shard_id = tokens_before(doc) div S,
    S = ceil(total_tokens / N_SHARDS)

over the deterministic global order ``doc_id`` ascending. The output
is the per-shard manifest (doc/token counts, doc-id span) a writer
would hand to N parallel copy tasks.

The global prefix sum is the scale problem: a naive
``SUM() OVER (ORDER BY doc_id)`` plans a single-partition window (all
data through one task). :func:`chunked_prefix_sum` computes it with no
single-partition window anywhere in the plan; the curriculum packer
(``functions/currpack.py``) calls the same function keyed by stage.
The DuckDB oracle is the naive single window, so the compare also
proves the decomposition exact. ``tests/test_plan_shapes.py`` pins the
shape: the only ``Exchange SinglePartition`` in this plan (and the
release composite's) feeds the bounded keys-[] aggregate -- never a
Window.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .budget import doc_tokens
from .tokcount import N_TOKENS_SQL

SparkQuery = Callable[[SparkSession, str], DataFrame]

_N_SHARDS = 32
_CHUNK = 4096
_SUPER = 4096


def chunked_prefix_sum(frame: DataFrame, keys: list[str]) -> DataFrame:
    """Add ``before`` (the exclusive prefix sum of ``n_tok`` in
    ``doc_id`` order within ``keys``) and ``total`` (the sum of
    ``n_tok`` per key) to a ``(*keys, doc_id, n_tok, ...)`` frame.

    The decomposition is two-level fixed-width chunking, deterministic
    with no sampled boundaries (unlike range-partition numbering, which
    needs a checkpoint to freeze sampled ranges) and with NO
    single-partition window:

    1. fixed-width chunks ``chunk = doc_id div 4096`` and superchunks
       ``sup = chunk div 4096`` -- per-(keys, chunk) token sums via one
       map-side-combinable groupBy, rolled up once more to
       per-(keys, sup) sums (a second tiny groupBy over the |chunks|
       frame);
    2. superchunk offsets: per key, the |supers| rows (id-range/4096²
       -- ~600 rows at 10^10 docs) collapse into ONE sorted array,
       whose exclusive prefix sums and total are computed in-row with
       higher-order functions and exploded back out. With ``keys=[]``
       this is an ordinary global aggregate (``HashAggregate(keys=[]``,
       partials map-side); keyed, it is not even single-partition. The
       quadratic in-row cost is bounded by |supers|² (~360k adds at
       10^10 docs); for corpora past ~10^12 doc ids widen the chunk
       constants;
    3. chunk offsets = superchunk offset + exclusive prefix of chunk
       sums WITHIN the superchunk -- a window partitioned by
       (keys, sup), <= 4096 rows per partition by construction;
    4. join the chunk offset back on (keys, chunk) and add the
       WITHIN-chunk running sum -- a window partitioned by
       (keys, chunk), <= 4096 rows per partition, so no skew and no
       giant task.

    Spark's ``div`` truncates, so chunk 0 spans (-4096, 4096): wider,
    but still a contiguous doc-id range in ascending chunk order, which
    is all the decomposition needs. Everything is int64 (the sums wrap
    only past ~9.2e18 tokens). The input should be a narrow memoized
    projection: the chunk-sum build and the join probe both read it."""
    t = frame.withColumn("chunk", F.expr(f"doc_id div {_CHUNK}"))
    chunk_sums = t.groupBy(*keys, "chunk").agg(F.sum("n_tok").alias("c_tok"))
    super_sums = (
        chunk_sums.withColumn("sup", F.expr(f"chunk div {_SUPER}"))
        .groupBy(*keys, "sup")
        .agg(F.sum("c_tok").alias("s_tok"))
    )
    # sort_array over unique sup keys is deterministic; the arrays are
    # bounded by |supers| (map-side partial_collect_list)
    sup_off = (
        super_sums.groupBy(*keys)
        .agg(F.sort_array(F.collect_list(F.struct("sup", "s_tok"))).alias("a"))
        .select(
            *keys,
            F.explode(
                F.expr(
                    "transform(a, (x, i) -> named_struct("
                    "'sup', x.sup, "
                    "'s_off', aggregate(slice(a, 1, i), CAST(0 AS BIGINT),"
                    " (acc, y) -> acc + y.s_tok)))"
                )
            ).alias("o"),
            F.expr(
                "aggregate(a, CAST(0 AS BIGINT), (acc, y) -> acc + y.s_tok)"
            ).alias("total"),
        )
        .select(*keys, "o.sup", "o.s_off", "total")
    )
    # No broadcast hints on either equi-join: the probes are tiny at
    # test scale (AQE broadcasts them anyway) but |chunks| is NOT
    # bounded at corpus scale; as plain joins the planner reuses the
    # clustering the windows build
    w_cs = (
        Window.partitionBy(*keys, "sup")
        .orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        chunk_sums.withColumn("sup", F.expr(f"chunk div {_SUPER}"))
        .join(sup_off, [*keys, "sup"])
        .select(
            *keys,
            "chunk",
            (
                F.col("s_off")
                + F.coalesce(F.sum("c_tok").over(w_cs), F.lit(0).cast("long"))
            ).alias("c_off"),
            "total",
        )
    )
    w_in = (
        Window.partitionBy(*keys, "chunk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        t.join(offsets, [*keys, "chunk"])
        .withColumn(
            "before",
            F.col("c_off")
            + F.coalesce(F.sum("n_tok").over(w_in), F.lit(0).cast("long")),
        )
        .drop("chunk", "c_off")
    )


def assign_token_shards(toks: DataFrame) -> DataFrame:
    """Add ``before``, ``total`` and ``shard_id`` to a
    ``(doc_id, n_tok, ...)`` frame. Shared by the plain manifest and
    the budgeted-release pipeline (functions/release.py)."""
    return chunked_prefix_sum(toks, []).withColumn(
        "shard_id",
        F.expr(
            f"before div greatest((total + {_N_SHARDS - 1}) div {_N_SHARDS},"
            f" CAST(1 AS BIGINT))"
        ),
    )


def q_shard_manifest_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # doc_id IS NOT NULL on BOTH engines: the manifest's global order
    # IS doc_id, so an id-less document cannot be deterministically
    # placed (and the Spark chunk/super equi-joins drop a NULL chunk
    # anyway, while DuckDB's naive window would sort it NULLS LAST —
    # the r15 hostile-docs divergence). On data with null doc_ids the
    # manifest's token totals therefore run below the budget and
    # release totals (which keep those documents) by their tokens.
    # the chunk-sum build and the join probe both read the memoized
    # token projection, so the text column is scanned once
    docs = (
        doc_tokens(spark, sf_dir)
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", "n_tok")
    )
    placed = assign_token_shards(docs)
    return (
        placed.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


SHARD_MANIFEST_SQL = f"""
  WITH t AS (
    SELECT doc_id, CAST({N_TOKENS_SQL} AS BIGINT) AS n_tok
    FROM documents WHERE doc_id IS NOT NULL
  ),
  c AS (
    SELECT doc_id, n_tok,
           CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT)
             AS before,
           CAST(SUM(n_tok) OVER () AS BIGINT) AS total
    FROM t
  )
  SELECT before // GREATEST((total + {_N_SHARDS - 1}) // {_N_SHARDS},
                           CAST(1 AS BIGINT)) AS shard_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS tokens,
         MIN(doc_id) AS min_doc_id,
         MAX(doc_id) AS max_doc_id
  FROM c
  GROUP BY 1
  ORDER BY 1
"""

QUERIES_EXPORT: dict[str, tuple[SparkQuery, "str | None"]] = {
    "shard_manifest_tokens": (q_shard_manifest_tokens, SHARD_MANIFEST_SQL),
}

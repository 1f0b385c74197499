"""Scale-path utilities: bucketed (pre-shuffled) tables, salted joins
for skewed keys, chunked lookback windows and a distributed row index.

These are the two knobs the prompt-level plan can't express and
Catalyst can't infer:

- **Bucketing** trades one up-front shuffle at write time for ZERO
  shuffles on every subsequent join/aggregation on the bucket key. At
  100 TB a fact table joined daily against another fact on the same
  key should be bucketed once, not sort-merge-shuffled per query. The
  test suite asserts the property that matters: a join of two tables
  bucketed on the same key by the same bucket count plans with NO
  Exchange on either side.
- **Salting** splits a skewed build key into N sub-keys so one hot key
  no longer lands on one task. AQE's skew-join handles *sort-merge*
  skew automatically; salting remains the tool when the skewed side
  feeds an aggregation or the join is broadcast-infeasible. The
  explode side replicates the small table N times -- bounded, explicit
  fan-out instead of an unbounded hot partition.

:func:`range_row_index` numbers the rows of a :func:`range_partitions`
frame in a global sort order without the single-partition
``ROW_NUMBER() OVER (ORDER BY ...)`` window Spark would plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def write_bucketed(
    df: DataFrame, table: str, bucket_cols: list[str], n_buckets: int
) -> None:
    """Persist ``df`` as a bucketed managed table. Joins/aggs on
    ``bucket_cols`` against tables bucketed with the SAME column set
    and bucket count skip their shuffle."""
    df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, *bucket_cols
    ).saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str]
) -> DataFrame:
    """Join two bucketed tables on their bucket key. With matching
    bucketing this plans shuffle-free (assert: no Exchange below the
    SortMergeJoin)."""
    return spark.table(left_table).join(spark.table(right_table), on)


#: salt sub-keys per hot key, for both salted shapes
N_SALTS = 8


def salted_join(fact: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Inner-join ``fact`` to ``dim`` on ``key`` with the fact side
    salted: fact rows scatter across ``N_SALTS`` sub-keys, the dim side
    replicates once per salt. Result equals a plain inner join on
    ``key`` (asserted in tests) while a hot key occupies ``N_SALTS``
    tasks instead of one.

    The salt must be deterministic for result stability AND vary
    within a hot key for skew mitigation: it hashes the FULL fact row
    (all columns), so it is stable across retries and cluster
    topologies, and a hot key's rows fan out as long as any non-key
    column varies. (``spark_partition_id()`` would be constant per
    scan split -- a hot key concentrated in one coalesced partition
    would keep a single salt and defeat the whole mechanism;
    ``monotonically_increasing_id()`` is not stable across retries.)
    Fully identical duplicate rows share a salt, which only matters if
    duplicates themselves are the skew source.
    """
    fact_salted = fact.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(N_SALTS)),
    )
    dim_salted = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALTS)]))
    )
    return fact_salted.join(dim_salted, [key, "_salt"]).drop("_salt")


def salted_agg_count(df: DataFrame, key: str) -> DataFrame:
    """Two-phase count for a skewed group key: partial count per
    (key, salt), then final sum per key. Same result as a direct
    ``groupBy(key).count()`` (asserted in tests); the partial phase
    spreads a hot key over ``N_SALTS`` reducers. Spark's hash
    aggregation already does map-side partials -- this pattern matters
    when the hot key's *reduce* side overflows one task (e.g.
    count-distinct or collect-style aggs downstream)."""
    partial = (
        df.withColumn("_salt", F.pmod(F.xxhash64(F.col(key)) + F.spark_partition_id(), F.lit(N_SALTS)))
        .groupBy(key, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return partial.groupBy(key).agg(F.sum("_partial").alias("n"))


def chunked_lookback_window(
    df: DataFrame,
    key: str,
    tsu_col: str,
    agg_builder,
    lookback: int,
    chunk: int | None = None,
    out_col: str = "agg",
) -> DataFrame:
    """Per-row lookback-RANGE-window aggregate WITHOUT a per-key task.

    ``Window.partitionBy(key)`` puts every row of a key in ONE task --
    the shape AQE cannot split, so a hot key (one user with millions of
    events) pins a straggler no matter how the rest of the job scales.
    This is the window-shaped sibling of salting: the salt is the TIME
    CHUNK. Rows are assigned to ``floor(tsu / chunk)``; rows in the
    last ``lookback`` of each chunk are replayed once into the next
    chunk as flagged warm-up rows, so every chunk partition contains
    the full ``[chunk_start - lookback, chunk_end)`` history its native
    rows' frames can reach. The window then runs over
    ``(key, chunk)`` -- a hot key spreads across ``span/chunk`` tasks
    -- and warm-up rows are dropped after the frame evaluates. Result
    is row-for-row identical to the global per-key window (the
    registered chunked query shares its DuckDB oracle with the plain
    one, so the driver hash-checks the equivalence).

    Cost model: duplicated-row fraction is ``lookback/chunk`` (default
    chunk = 6x lookback -> ~17% replay), paid once at the exchange; in
    return the per-key frame work parallelizes. Correctness needs only
    ``chunk >= lookback`` (asserted) so a frame never reaches back more
    than one chunk.

    ``agg_builder`` receives the (key, chunk)-scoped ``Window`` spec
    and returns the aggregate Column, e.g.
    ``lambda w: F.sum("x").over(w)``.
    """
    if chunk is None:
        chunk = 6 * lookback
    if chunk < lookback:
        raise ValueError(f"chunk ({chunk}) must be >= lookback ({lookback})")
    # FLOOR division in exact int64 arithmetic. `/` on BIGINTs returns
    # DOUBLE (a boundary row could chunk off by one ulp at
    # epoch-microsecond magnitudes), and bare `div`/`%` truncate toward
    # zero / keep the dividend's sign -- for NEGATIVE timestamps that
    # shifts the chunk id by one and makes the replay test compare a
    # negative remainder, silently dropping cross-boundary history.
    # pmod(tsu, chunk) is always in [0, chunk), so subtracting it lands
    # on an exact multiple of chunk where `div` equals floor division.
    ck = F.expr(
        f"(`{tsu_col}` - pmod(`{tsu_col}`, {int(chunk)})) div {int(chunk)}"
    )
    native = F.struct(ck.alias("_ck"), F.lit(False).alias("_warm"))
    replay = F.struct((ck + 1).alias("_ck"), F.lit(True).alias("_warm"))
    assignments = F.when(
        F.pmod(F.col(tsu_col), F.lit(chunk)) >= F.lit(chunk - lookback),
        F.array(native, replay),
    ).otherwise(F.array(native))
    staged = (
        df.withColumn("_assign", F.explode(assignments))
        .withColumn("_ck", F.col("_assign._ck"))
        .withColumn("_warm", F.col("_assign._warm"))
        .drop("_assign")
    )
    # EXPLICIT partition count: AQE sizes shuffles by bytes, and a hot
    # key's chunk cells are only a few MB -- left to itself it
    # coalesces them into ONE partition, single-tasking exactly the
    # frame evaluation this operator exists to parallelize (measured:
    # the 100k-row hot leg ran slower than the plain window until
    # pinned). An explicit repartition(n, ...) is exempt from AQE
    # coalescing and satisfies the window's clustering requirement, so
    # no second exchange is added. CPU-bound frame work wants one
    # partition per core regardless of byte size.
    n_parts = int(
        staged.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    staged = staged.repartition(n_parts, key, "_ck")
    w = (
        Window.partitionBy(key, "_ck")
        .orderBy(tsu_col)
        .rangeBetween(-lookback, Window.currentRow)
    )
    return (
        staged.withColumn(out_col, agg_builder(w))
        .filter(~F.col("_warm"))
        .drop("_ck", "_warm")
    )


def hybrid_lookback_window(
    df: DataFrame,
    key: str,
    tsu_col: str,
    agg_builder,
    lookback: int,
    chunk: int | None = None,
    out_col: str = "agg",
    hot_threshold: int = 100_000,
) -> DataFrame:
    """Skew-AWARE lookback window: route only HOT keys through the
    chunked rewrite, everything else through the plain per-key window.

    The all-chunked rewrite (:func:`chunked_lookback_window`) taxes the
    cold bulk: every (key, chunk) cell is its own window partition, so
    a corpus of small keys fragments into span/chunk times more sort
    groups than the plain window needs -- measured as the chunked twin
    costing MORE than plain on uniform data while winning on the hot
    key. Production skew handling is routing, not blanket rewriting:
    count rows per key (map-side combined, one tiny aggregate), take
    the keys above ``hot_threshold`` (bounded by |corpus|/threshold --
    broadcast-size by construction), send those through the chunked
    path and the rest through the plain window, and union. Both paths
    produce bit-identical per-row results (property-tested; the
    registered hybrid query shares the plain query's DuckDB oracle).

    ``hot_threshold`` is the row count above which one task's frame
    evaluation becomes the job's straggler; size it to roughly
    (rows per task budget), e.g. 100k for O(frame)-cost aggregates.
    """
    from pyspark.sql import Window

    hot_keys = (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > hot_threshold)
        .select(key)
    )
    # broadcast-ok: <= |rows|/hot_threshold keys by construction
    hot = df.join(F.broadcast(hot_keys), key, "left_semi")
    cold = df.join(F.broadcast(hot_keys), key, "left_anti")
    w = (
        Window.partitionBy(key)
        .orderBy(tsu_col)
        .rangeBetween(-lookback, Window.currentRow)
    )
    # same AQE hazard as the chunked path: window-frame evaluation is
    # CPU-bound, but AQE coalesces the cold leg's shuffle by BYTES --
    # a million small rows fit one 64 MB partition, and the whole cold
    # bulk single-tasks (measured: the cold leg swung 1s -> 18s run to
    # run on the skewed replica as AQE's size estimate crossed the
    # threshold). An explicit repartition(n, key) is exempt from
    # coalescing and satisfies the window's clustering requirement.
    n_parts = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    cold_out = cold.repartition(n_parts, key).withColumn(
        out_col, agg_builder(w)
    )
    hot_out = chunked_lookback_window(
        hot, key, tsu_col, agg_builder, lookback, chunk, out_col
    )
    return cold_out.unionByName(hot_out)


def range_partitions(df: DataFrame, order: list[str], n_parts: int) -> DataFrame:
    """``df`` range-repartitioned by ``order`` into ``n_parts``
    partitions, sorted within each and stamped with its ``pid``.
    ``order`` should be total (add a unique tiebreak column), or tied
    rows are numbered in an arbitrary order."""
    return (
        df.repartitionByRange(n_parts, *order)
        .sortWithinPartitions(*order)
        .withColumn("pid", F.spark_partition_id())
    )


def range_row_index(parts: DataFrame, carry: list[str]) -> tuple[DataFrame, DataFrame]:
    """``(numbered, counts)`` over a CHECKPOINTED :func:`range_partitions`
    frame: ``numbered`` is ``carry`` plus ``pos``, each row's 0-based
    position in the sort order; ``counts`` is each partition's
    ``(pid, n)``.

    The naive ``ROW_NUMBER() OVER (ORDER BY ...)`` funnels every row
    through ONE task. This is the two-pass zip-with-index instead, in
    DataFrame/Arrow land; nothing is collected:

    1. count rows per partition and prefix-sum the counts in a window
       over those |partitions| rows (single-task, but bounded by the
       partition count, not the data), then broadcast-join the offsets
       back;
    2. an Arrow-batched ``mapInPandas`` adds offset + running local
       index.

    The range bounds are sampled, so both passes must read one
    materialization of ``parts``: the caller owns its checkpoint
    (``cache.memo`` keyed on the source table)."""
    counts = parts.groupBy("pid").agg(F.count(F.lit(1)).alias("n"))
    off_win = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "pid", F.coalesce(F.sum("n").over(off_win), F.lit(0)).alias("off")
    )
    # the kernel reads only the carried columns and the offset
    staged = parts.join(F.broadcast(offsets), "pid").select(*carry, "off")

    def number_rows(batches):
        local = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            base = int(pdf["off"].iloc[0]) + local
            yield pdf[carry].assign(pos=range(base, base + len(pdf)))
            local += len(pdf)

    schema = T.StructType(
        [T.StructField(c, parts.schema[c].dataType) for c in carry]
        + [T.StructField("pos", T.LongType())]
    )
    return staged.mapInPandas(number_rows, schema=schema), counts

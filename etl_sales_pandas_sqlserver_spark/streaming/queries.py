"""Structured Streaming queries over ``events``, run as finite
``availableNow`` streams so the driver can check them like batch.

Two shapes:

- **watermarked tumbling-window aggregation** -- the canonical
  streaming rollup: event-time window + watermark bounds state, so at
  100 TB/day the state store holds only the open windows, not history.
- **arbitrary stateful sessionization** (``applyInPandasWithState``) --
  the gap-based session operator Spark has no built-in for. State per
  user carries (last event time, session count, event count) across
  micro-batches; Arrow moves each group's rows into pandas in batches.

Both produce deterministic results for a finite input regardless of
micro-batch slicing: the window agg is associative, and the session
state transition is order-correct because each group's rows are sorted
within the batch and the watermark admits no late data in replay.

Event time handling: events.parquet stores timestamp[us] (no tz),
declared TIMESTAMP under the session's pinned UTC timezone; all math is
integer microseconds (`unix_micros`), so results are
timezone-independent -- window keys are emitted as epoch-hour
integers, never formatted wall-clock strings.
"""

from __future__ import annotations

import itertools
from collections.abc import Iterator
from typing import Any, Callable, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.finiteness import finite_value_col
from ..functions.tokcount import N_TOKENS_SQL, n_tokens_spark
from ..session import isolated

SparkQuery = Callable[[SparkSession, str], DataFrame]

_SESSION_GAP_US = 30 * 60 * 1_000_000
_sink_counter = itertools.count()

#: events.parquet read schema: ts is stored as timestamp[us] with no
#: timezone; declared TIMESTAMP (LTZ) under the session's pinned UTC tz
#: it reads as the same instant the DuckDB oracle sees.
_EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite file stream over events.parquet with event-time columns:
    ``ts_us`` (long micros) and ``event_time`` (timestamp, for
    window/watermark)."""
    # the file stream source wants a directory: stream the sf dir with
    # a glob that admits only the events table
    raw = (
        spark.readStream.schema(_EVENTS_STREAM_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir.rstrip("/"))
    )
    return raw.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("ts").alias("event_time"),
        "user_id",
        "event_type",
        "value",
    )


#: State-store partition count, captured from spark.sql.shuffle.partitions
#: at CHECKPOINT CREATION and immutable for the checkpoint's lifetime.
#: Each partition is one state-store instance with fixed per-batch
#: overhead (maintenance thread, snapshot/delta files), so a local
#: availableNow run over sf-scale input pays ~32 stores' overhead for a
#: handful of open windows: measured 1.77s -> 1.14s warm on
#: stream_hourly_agg at 8. A real deployment sizes this to state VOLUME
#: (keys x state size / executor memory), not down -- these finite
#: oracle-checked streams are the small-state case. Local store opens
#: serialize: sessionize took 46s on its first run at 32 partitions and
#: 9s at 8; the streaming dedup paid ~20s of opens at 32 and ~2s at 8.
#: A pre-repartition cannot replace the conf: stateful operators take
#: the exact partition count of spark.sql.shuffle.partitions at plan
#: time, because the state layout is keyed to it.
_STATE_STORE_PARTITIONS = 8

#: The conf of every ``_run_to_table`` stream, set on the stream's
#: ``isolated`` session clone, never on the caller's. The no-data
#: micro-batch is off: see ``_run_to_table``.
_STREAM_CONF = {
    "spark.sql.shuffle.partitions": str(_STATE_STORE_PARTITIONS),
    "spark.sql.streaming.noDataMicroBatches.enabled": "false",
}


class WatermarkFinalizedAppendError(ValueError):
    """An append-mode stream whose rows are emitted only once the
    watermark finalizes them. ``_run_to_table`` turns off the no-data
    micro-batch that advances the watermark, so such a query would end
    with its last windows or unmatched outer rows never emitted."""


def _watermark_finalized(plan) -> str | None:
    """What in the analyzed ``plan`` emits in append mode only when the
    watermark passes: a streaming aggregate (event-time or session
    window) or an outer join of two streams. None for the
    arrival-driven shapes (dropDuplicates, inner interval join)."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "Aggregate" and node.isStreaming():
            return "a streaming aggregate"
        if (
            name == "Join"
            and "Outer" in node.joinType().toString()
            and node.left().isStreaming()
            and node.right().isStreaming()
        ):
            return "an outer stream-stream join"
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return None


def _run_to_table(result: DataFrame, mode: str) -> DataFrame:
    """Execute a finite stream into a memory sink and return the sink
    table. The stream runs on ``result``'s own session, which the
    queries build as an ``isolated`` clone carrying ``_STREAM_CONF``:
    the state-store partition count is captured at the start of the
    run (fresh checkpoint every run), and the caller's session never
    sees either conf.

    ``noDataMicroBatches`` is disabled (r18, guide §2.4 "remove work
    outright"): after the data batches, the engine by default
    schedules one more EMPTY micro-batch whose only job is to
    advance the watermark and evict now-expired state -- a full pass
    over every state-store instance (measured 1.6s on the
    stream-stream join, 0.4s on the streaming dedup; the complete/
    update-mode queries never get one for an availableNow run). For a
    FINITE replay whose stream terminates right after, that eviction
    maintains state nobody will read again: append-mode emission here
    is arrival-driven (dropDuplicates emits first-seen rows in the
    data batch; the interval join is INNER, so matches emit when both
    sides are present and the no-data batch emits nothing), so the
    sink table is identical with and without it -- verified
    row-for-row at sf0.001/0.01/0.1 and by the full oracle sweep. A
    24/7 deployment with downstream consumers of watermark-FINALIZED
    results (outer joins, append-mode window aggs) must keep the
    default instead; an append query of a watermark-finalized shape
    raises ``WatermarkFinalizedAppendError`` before it starts.

    The memory sink's temp view is dropped on the way out, whether the
    stream succeeded or failed: the returned frame is already resolved
    and keeps the sink's rows, while the view would hold them on the
    driver for as long as the session lives."""
    if mode == "append":
        shape = _watermark_finalized(result._jdf.queryExecution().analyzed())
        if shape is not None:
            raise WatermarkFinalizedAppendError(
                f"append-mode stream with {shape} emits only on watermark "
                "advance; run it in complete or update mode"
            )
    spark = result.sparkSession
    name = f"stream_sink_{next(_sink_counter)}"
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


# ---------------------------------------------------------------------------
# 1. Watermarked tumbling-window aggregation.
# ---------------------------------------------------------------------------

STREAM_HOURLY_SQL = """
  SELECT epoch_us(ts) // 3600000000 AS hour_bucket,
         event_type,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
  FROM events
  WHERE ts IS NOT NULL
  GROUP BY 1, 2
  ORDER BY 1, 2
"""


def q_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = isolated(spark, _STREAM_CONF)
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # finiteness-guarded (r16): see functions/finiteness.py
            F.sum(finite_value_col().cast("decimal(28,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            # epoch-hour integer key: timezone-proof on both engines
            F.expr("unix_micros(window.start) div 3600000000").alias("hour_bucket"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _run_to_table(agg, "complete")


# ---------------------------------------------------------------------------
# 2. Arbitrary stateful sessionization (applyInPandasWithState).
# ---------------------------------------------------------------------------

_SESSION_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)
_SESSION_STATE = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _sessionize_group(
    key: Tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """State transition: a new session starts when the gap from the
    previous event exceeds _SESSION_GAP_US. Vectorized over each Arrow
    batch; state carries (last_ts, sessions, events) across batches."""
    if state.exists:
        last_ts, n_sessions, n_events = state.get
    else:
        last_ts, n_sessions, n_events = None, 0, 0
    for pdf in batches:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        ts = pdf["ts_us"].to_numpy()
        if len(ts) == 0:
            continue
        prev = ts[:-1]
        gaps_new = (ts[1:] - prev) > _SESSION_GAP_US
        first_new = last_ts is None or (ts[0] - last_ts) > _SESSION_GAP_US
        n_sessions += int(first_new) + int(gaps_new.sum())
        n_events += len(ts)
        last_ts = int(ts[-1])
    state.update((last_ts, n_sessions, n_events))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_sessions": [n_sessions], "n_events": [n_events]}
    )


STREAM_SESSIONS_SQL = """
  WITH g AS (
    SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events
    WHERE ts IS NOT NULL
  ),
  o AS (
    SELECT user_id,
           CASE WHEN lag(tsu) OVER w IS NULL
                  OR tsu - lag(tsu) OVER w > 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM g
    WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
  )
  SELECT user_id,
         CAST(SUM(new_session) AS BIGINT) AS n_sessions,
         COUNT(*) AS n_events
  FROM o
  GROUP BY user_id
  ORDER BY user_id
"""


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = isolated(spark, _STREAM_CONF)
    # clock-less events (NULL ts) are excluded EXPLICITLY on both
    # engines (r14 hostile-events fix, same spelling as the batch
    # sessionize_events r13 fix): unfiltered, a null ts_us crashed the
    # stateful kernel's int64 numpy path, and the oracle now carries
    # the matching WHERE ts IS NOT NULL
    ev = (
        read_events_stream(spark, sf_dir)
        .select("user_id", "ts_us", "event_id")
        .filter(F.col("ts_us").isNotNull())
    )
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=_SESSION_OUTPUT,
        stateStructType=_SESSION_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_table(sessions, "update")
    # update-mode sinks may hold one row per micro-batch; counts are
    # monotone, so the final state per user is the max
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_sessions").alias("n_sessions"),
            F.max("n_events").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# 3. Streaming deduplication with watermark -- the streaming twin of
# dedup_exact: emit each (user_id, event_type) pair once. The
# watermark lets Spark expire dedup state for old event times; with
# availableNow replay the retained key set equals batch DISTINCT.
# Only the keys are emitted (which physical row survives a streaming
# dedup is micro-batch-order-dependent; the key set is not).
# ---------------------------------------------------------------------------

STREAM_DEDUP_SQL = """
  SELECT DISTINCT user_id, event_type FROM events
  ORDER BY user_id, event_type
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = isolated(spark, _STREAM_CONF)
    ev = read_events_stream(spark, sf_dir)
    deduped = (
        ev.withWatermark("event_time", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_table(deduped, "append")


# ---------------------------------------------------------------------------
# 4. Sliding-window counts: 2-hour windows every hour, so each event
# lands in exactly two windows. State is bounded by the watermark (2
# open windows per key at any event-time frontier). The oracle
# replays the overlap as a UNION ALL of the two hour-shifted buckets.
# ---------------------------------------------------------------------------

STREAM_SLIDING_SQL = """
  WITH hb AS (
    SELECT epoch_us(ts) // 3600000000 AS h, event_type, value FROM events
    WHERE ts IS NOT NULL
  ),
  contrib AS (
    SELECT h AS win_start, event_type, value FROM hb
    UNION ALL
    SELECT h - 1 AS win_start, event_type, value FROM hb
  )
  SELECT win_start, event_type, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
  FROM contrib
  GROUP BY 1, 2
  ORDER BY 1, 2
"""


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = isolated(spark, _STREAM_CONF)
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("event_time", "2 hours")
        .groupBy(
            F.window("event_time", "2 hours", "1 hour"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(finite_value_col().cast("decimal(28,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.expr("unix_micros(window.start) div 3600000000").alias(
                "win_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _run_to_table(agg, "complete")


# ---------------------------------------------------------------------------
# 5. Stream-static join: streamed orders enriched against the static
# customer/nation dimensions, aggregated to revenue per nation. The
# static side is planned per micro-batch (broadcast -- it's dimension
# sized); no state store is involved at all, which is exactly why the
# stream-static join is THE scalable enrichment pattern at 100 TB/day.
# ---------------------------------------------------------------------------

_ORDERS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType(), True),
        T.StructField("o_custkey", T.LongType(), True),
        T.StructField("o_orderstatus", T.StringType(), True),
        T.StructField("o_totalprice", T.DoubleType(), True),
        T.StructField("o_orderdate", T.TimestampType(), True),
        T.StructField("o_orderpriority", T.StringType(), True),
    ]
)

STREAM_STATIC_JOIN_SQL = """
  SELECT n.n_name AS nation_name, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS revenue
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n   ON n.n_nationkey = c.c_nationkey
  GROUP BY 1
  ORDER BY 1
"""


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = isolated(spark, _STREAM_CONF)
    from ..sources.testdata import load_table

    orders = (
        spark.readStream.schema(_ORDERS_STREAM_SCHEMA)
        .option("pathGlobFilter", "orders.parquet")
        .parquet(sf_dir.rstrip("/"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    # customer scales with the corpus: no forced broadcast on the
    # stream-static join (the planner broadcasts it while small); the
    # 25-row nation dim keeps its hint.
    joined = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    agg = joined.groupBy(F.col("n_name").alias("nation_name")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )
    return _run_to_table(agg, "complete")


# ---------------------------------------------------------------------------
# 6. Stream-stream interval join: view events joined to the same
# user's purchase events within the following hour, BOTH sides
# unbounded streams. Watermarks on both sides + the time-interval join
# condition let Spark bound each side's join state to the interval
# span (an un-watermarked stream-stream join would buffer forever).
# This is the streaming shape attribution pipelines need at scale:
# state per key ~ events within one interval, evicted as the
# watermark advances.
# ---------------------------------------------------------------------------

STREAM_STREAM_JOIN_SQL = """
  SELECT v.user_id,
         epoch_us(v.ts) AS view_us,
         epoch_us(p.ts) AS purchase_us
  FROM events v
  JOIN events p
    ON p.user_id = v.user_id
   AND v.event_type = 'view' AND p.event_type = 'purchase'
   AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
  ORDER BY 1, 2, 3
"""


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = isolated(spark, _STREAM_CONF)
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("ts_us").alias("view_us"),
            F.col("event_time").alias("view_time"),
        )
        .withWatermark("view_time", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts_us").alias("purchase_us"),
            F.col("event_time").alias("purchase_time"),
        )
        .withWatermark("purchase_time", "1 hour")
    )
    joined = views.join(
        purchases,
        F.expr(
            "user_id = p_user AND purchase_time >= view_time "
            "AND purchase_time <= view_time + INTERVAL 1 HOUR"
        ),
    ).select("user_id", "view_us", "purchase_us")
    return _run_to_table(joined, "append")


# ---------------------------------------------------------------------------
# 7. NATIVE session-window aggregation (F.session_window): Spark's
# built-in gap-based session operator, complementing the
# applyInPandasWithState sessionizer above -- the stateful variant
# shows the arbitrary-state escape hatch, this one shows that when the
# built-in CAN express the semantics it is the right tool (JVM state
# store merging sessions across micro-batches, no Python in the loop).
# One row per (user, session); the window's end is last-event + gap,
# so last-event time is recovered by subtracting the gap. Oracle: the
# classic batch islands spelling (lag > gap starts a new island) --
# boundary convention probed empirically: Spark MERGES two events
# spaced exactly one gap apart, which is precisely what "new island
# only when diff > gap" replays.
# ---------------------------------------------------------------------------

STREAM_SESSION_WINDOW_SQL = f"""
  WITH e AS (
    SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
    WHERE ts IS NOT NULL
  ),
  flagged AS (
    SELECT user_id, ts_us, value,
           CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id
                                              ORDER BY ts_us)
                     > {_SESSION_GAP_US} OR
                LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
                     IS NULL
                THEN 1 ELSE 0 END AS is_new
    FROM e
  ),
  islands AS (
    SELECT user_id, ts_us, value,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                             ROWS UNBOUNDED PRECEDING) AS sess
    FROM flagged
  )
  SELECT user_id,
         CAST(MIN(ts_us) AS BIGINT) AS session_start_us,
         CAST(MAX(ts_us) AS BIGINT) AS session_last_us,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
  FROM islands
  GROUP BY user_id, sess
  ORDER BY user_id, session_start_us
"""


def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = isolated(spark, _STREAM_CONF)
    ev = read_events_stream(spark, sf_dir)
    gap_us = _SESSION_GAP_US
    agg = (
        ev.withWatermark("event_time", "1 hour")
        .groupBy(
            F.session_window("event_time", f"{gap_us // 60_000_000} minutes"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(finite_value_col().cast("decimal(28,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.expr("unix_micros(session_window.start)").alias(
                "session_start_us"
            ),
            # the native window's end is last event + gap
            (F.expr("unix_micros(session_window.end)") - F.lit(gap_us)).alias(
                "session_last_us"
            ),
            "n_events",
            "total_value",
        )
    )
    return _run_to_table(agg, "complete")


# ---------------------------------------------------------------------------
# 8. Streaming top-k: the canonical two-layer dashboard pattern.
# Ranking is not allowed inside an append/update streaming plan (it
# would re-rank on every batch), so the STREAM maintains the
# watermark-bounded windowed counts and the top-k is a BATCH window
# query over the (tiny, one row per (hour, type)) sink table. At scale
# the streaming layer's state is bounded by open windows and the
# ranking layer reads aggregated rows only -- never events.
# ---------------------------------------------------------------------------

_STREAM_TOPK_K = 2

STREAM_TOPK_SQL = f"""
  WITH counts AS (
    SELECT epoch_us(ts) // 3600000000 AS hour_bucket, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
  )
  SELECT hour_bucket, event_type, n_events, rn
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY hour_bucket
      ORDER BY n_events DESC, event_type ASC NULLS LAST) AS rn
    FROM counts)
  WHERE rn <= {_STREAM_TOPK_K}
  ORDER BY hour_bucket, rn
"""


def q_stream_topk_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = isolated(spark, _STREAM_CONF)
    from pyspark.sql import Window

    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.expr("unix_micros(window.start) div 3600000000").alias(
                "hour_bucket"
            ),
            "event_type",
            "n_events",
        )
    )
    counts = _run_to_table(agg, "complete")
    # NULLS LAST explicitly on BOTH engines (r14 hostile-events fix):
    # Spark windows default NULLS FIRST for ASC, DuckDB NULLS LAST, so
    # a null event_type group tying at the cutoff ranked differently
    w = Window.partitionBy("hour_bucket").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc_nulls_last()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _STREAM_TOPK_K)
    )


# ---------------------------------------------------------------------------
# 9. Streaming sketch-table ingest: the incremental build path the HLL
# sketch table (functions/sketches.py) is designed around -- each
# micro-batch folds its users into the per-(event_type, day) HLL
# state; HLL union is associative and insensitive to batch slicing, so
# the streamed sketch estimate equals the batch-built one exactly.
# The contract emits the exact distinct count (oracle-reproducible)
# plus the error-bound boolean, like the batch sketch queries.
# ---------------------------------------------------------------------------

STREAM_SKETCH_SQL = """
  SELECT event_type,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_bucket,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
         TRUE AS est_ok
  FROM events
  WHERE ts IS NOT NULL
  GROUP BY 1, 2
  ORDER BY 1, 2
"""


def q_stream_sketch_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = isolated(spark, _STREAM_CONF)
    ev = read_events_stream(spark, sf_dir)
    # the STREAM maintains only the mergeable sketch state (a distinct
    # aggregate is not allowed on a stream -- and not needed: that is
    # what the sketch is for); the exact count for the CONTRACT comes
    # from a batch read after the finite replay.
    agg = (
        ev.withWatermark("event_time", "1 day")
        .groupBy(
            "event_type",
            F.expr("unix_micros(event_time) div 86400000000").alias(
                "day_bucket"
            ),
        )
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(14))
            ).alias("est")
        )
    )
    out = _run_to_table(agg, "complete")
    from ..sources.testdata import load_table

    from ..operators.dates import epoch_us

    # the batch contract leg mirrors the watermark's semantics
    # explicitly (r14 hostile-events fix): clock-less rows are dropped
    # like the stream drops them, and the join back to the streamed
    # sketch is NULL-SAFE on event_type so a null-type group (valid
    # ts) survives — a plain equi join dropped it while the oracle's
    # GROUP BY kept it (the sketch_rollup r13 fix class)
    batch = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    exact = (
        batch.withColumn("ts_us", epoch_us(batch, "ts"))
        .groupBy(
            F.col("event_type").alias("b_event_type"),
            F.expr("ts_us div 86400000000").alias("b_day_bucket"),
        )
        .agg(F.count_distinct("user_id").alias("exact_users"))
    )
    est_ok = (
        F.abs(F.col("est") - F.col("exact_users").cast("double"))
        <= F.col("exact_users").cast("double") * 0.02 + 0.5
    )
    return (
        out.join(
            exact,
            F.col("event_type").eqNullSafe(F.col("b_event_type"))
            & (F.col("day_bucket") == F.col("b_day_bucket")),
        )
        .select(
            "event_type", "day_bucket", "exact_users", est_ok.alias("est_ok")
        )
    )


# ---------------------------------------------------------------------------
# 10. foreachBatch CDC upsert: maintain "latest event per user" in a
# parquet target via per-micro-batch MERGE -- the canonical
# stream-to-serving-table pattern (Delta/Iceberg MERGE INTO, spelled
# with the staging-dir + atomic-swap idempotent sink this repo's
# compaction also uses). Each batch compacts to its per-user latest,
# unions with the current target, re-ranks, and swaps -- associative
# over any micro-batch slicing because "latest" is a total order
# (ts, event_id), so replay/retry converges to the same table
# (multi-batch associativity is unit-tested; the registered query
# checks the end state against the batch oracle).
# ---------------------------------------------------------------------------

STREAM_UPSERT_SQL = """
  SELECT user_id,
         event_id AS last_event_id,
         epoch_us(ts) AS last_ts_us,
         event_type AS last_type
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  )
  WHERE rn = 1
  ORDER BY user_id
"""

_UPSERT_COLS = ["user_id", "last_event_id", "last_ts_us", "last_type"]


def _latest_per_user(df: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy(
            F.col("last_ts_us").desc(), F.col("last_event_id").desc()
        )
    )
    return df.withColumn("_rn", rn).filter(F.col("_rn") == 1).drop("_rn")


def upsert_latest_batch(
    spark: SparkSession, batch: DataFrame, target: str
) -> None:
    """MERGE one (micro-)batch into the parquet target: union the
    batch's per-user latest with the current target, keep the winner
    per user, write to a staging dir, swap via two atomic renames.
    Idempotent under replay (the same batch merged twice is a no-op)
    -- the foreachBatch at-least-once contract then yields
    effectively-once table state.

    Swap protocol (round-8 advice: the old rmtree(target) +
    rename(staging) pair could crash after the rmtree and lose the
    table): rename the CURRENT target aside to ``<target>._retired``
    (atomic), rename staging into place (atomic), only then delete the
    retired copy. A crash at any point leaves either the old or the
    new table recoverable; :func:`_recover_interrupted_swap` (called
    on entry) finishes the job, and batch-replay idempotence converges
    the contents. On a real deployment this directory dance is the
    poor man's version of a transactional table format's commit --
    the protocol is what matters, not the local filesystem."""
    import os
    import shutil

    _recover_interrupted_swap(target)
    latest = _latest_per_user(
        batch.select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts_us").alias("last_ts_us"),
            F.col("event_type").alias("last_type"),
        )
    )
    if os.path.isdir(target):
        current = spark.read.parquet(target).select(*_UPSERT_COLS)
        merged = _latest_per_user(
            current.unionByName(latest.select(*_UPSERT_COLS))
        )
    else:
        merged = latest
    staging = target + "._staging"
    retired = target + "._retired"
    merged.select(*_UPSERT_COLS).write.mode("overwrite").parquet(staging)
    if os.path.isdir(target):
        os.rename(target, retired)
    os.rename(staging, target)
    shutil.rmtree(retired, ignore_errors=True)


def _recover_interrupted_swap(target: str) -> None:
    """Finish a swap a previous run died in the middle of. States:
    target missing + retired present (died between the two renames)
    -> restore the retired copy; target present + retired present
    (died before the final cleanup) -> drop the retired copy; stale
    staging from a died write -> drop it (it was never visible)."""
    import os
    import shutil

    retired = target + "._retired"
    if os.path.isdir(retired):
        if os.path.isdir(target):
            shutil.rmtree(retired, ignore_errors=True)
        else:
            os.rename(retired, target)
    shutil.rmtree(target + "._staging", ignore_errors=True)


def q_stream_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    target = tempfile.mkdtemp(prefix="stream_upsert_tgt_")
    # foreachBatch wants a nonexistent-or-parquet dir; start clean
    shutil.rmtree(target, ignore_errors=True)
    ckpt = tempfile.mkdtemp(prefix="stream_upsert_ckpt_")
    ev = read_events_stream(spark, sf_dir)
    q = (
        ev.writeStream.foreachBatch(
            lambda batch, _bid: upsert_latest_batch(spark, batch, target)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    import os

    # r9 advice: recovery ran only on upsert ENTRY, so a crash between
    # the two renames left the target missing until the next batch --
    # readers racing the swap window must also finish the job
    _recover_interrupted_swap(target)
    if not os.path.isdir(target):
        # an empty source can terminate without a single batch
        return spark.createDataFrame(
            [],
            "user_id long, last_event_id long, last_ts_us long, "
            "last_type string",
        )
    return spark.read.parquet(target).select(*_UPSERT_COLS)


# ---------------------------------------------------------------------------
# Streaming dataset-card ingest: per-source card counters maintained as
# document files land. The batch dataset-card family
# (functions/dataset_cards.py) recomputes cards from scratch; a corpus
# that receives shards continuously wants the headline counters kept
# fresh incrementally instead. Complete-mode aggregation: state is one
# row of int64 counters PER SOURCE (bounded by |sources|, the same
# bound as the budget family's frames), so at 100 TB/day the state
# store holds kilobytes regardless of document volume. Token grain is
# the corpus-wide spelling (functions/tokcount.py) — the streaming
# card can never disagree with the batch budget/shard numbers. The
# oracle is the batch GROUP BY, so the hash compare proves the
# incremental ingest equals a from-scratch rebuild.
# ---------------------------------------------------------------------------

_DOCS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

STREAM_CARD_SQL = f"""
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM({N_TOKENS_SQL}) AS BIGINT) AS tokens,
         CAST(SUM(n_chars) AS BIGINT) AS chars,
         MIN(doc_id) AS min_doc_id,
         MAX(doc_id) AS max_doc_id
  FROM documents
  GROUP BY source
  ORDER BY source
"""


def q_stream_card_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = isolated(spark, _STREAM_CONF)
    docs = (
        spark.readStream.schema(_DOCS_STREAM_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir.rstrip("/"))
    )
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens_spark()).alias("tokens"),
        F.sum("n_chars").alias("chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )
    return _run_to_table(agg, "complete")


QUERIES_EXPORT: dict[str, tuple[SparkQuery, str | None]] = {
    "stream_dataset_card_ingest": (q_stream_card_ingest, STREAM_CARD_SQL),
    "stream_upsert_latest": (q_stream_upsert_latest, STREAM_UPSERT_SQL),
    "stream_sketch_daily_users": (q_stream_sketch_daily, STREAM_SKETCH_SQL),
    "stream_topk_types_per_hour": (q_stream_topk_types, STREAM_TOPK_SQL),
    "stream_session_window_native": (
        q_stream_session_window,
        STREAM_SESSION_WINDOW_SQL,
    ),
    "stream_hourly_agg": (q_stream_hourly, STREAM_HOURLY_SQL),
    "stream_sessionize_stateful": (q_stream_sessions, STREAM_SESSIONS_SQL),
    "stream_dedup_keys": (q_stream_dedup, STREAM_DEDUP_SQL),
    "stream_sliding_2h": (q_stream_sliding, STREAM_SLIDING_SQL),
    "stream_static_join_nation": (q_stream_static_join, STREAM_STATIC_JOIN_SQL),
    "stream_stream_join_attrib": (q_stream_stream_join, STREAM_STREAM_JOIN_SQL),
}

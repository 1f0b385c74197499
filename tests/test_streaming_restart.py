"""Structured Streaming restart semantics: a file-source stream with a
checkpoint must process each input file EXACTLY ONCE across restarts --
the second run picks up only files that arrived after the first run's
offsets, and the sink never duplicates rows. This is the guarantee a
100 TB/day ingest leans on when the driver dies mid-day."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from etl_sales_pandas_sqlserver_spark.session import isolated


def test_file_stream_restart_is_exactly_once(spark, sf_small, tmp_path):
    src = pq.read_table(f"{sf_small}/events.parquet")
    n = src.num_rows
    indir = tmp_path / "in"
    outdir = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    indir.mkdir()

    first = src.slice(0, n // 2)
    second = src.slice(n // 2)
    pq.write_table(first, str(indir / "batch1.parquet"))

    def run():
        stream = (
            spark.readStream.schema(spark.read.parquet(str(indir)).schema)
            .parquet(str(indir))
            .select("event_id", "user_id", "value")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(outdir))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    got1 = spark.read.parquet(str(outdir))
    assert got1.count() == n // 2

    # second file arrives; restart from the SAME checkpoint
    pq.write_table(second, str(indir / "batch2.parquet"))
    run()
    got2 = spark.read.parquet(str(outdir))
    assert got2.count() == n  # no reprocessing of batch1, no loss
    ids = got2.select("event_id").distinct().count()
    src_ids = len(set(src.column("event_id").to_pylist()))
    assert ids == src_ids

    # third restart with NO new input must be a no-op
    run()
    assert spark.read.parquet(str(outdir)).count() == n


def test_upsert_latest_batch_associative_and_idempotent(spark, tmp_path):
    """The foreachBatch CDC upsert must converge to the same target
    regardless of micro-batch slicing, and replaying a batch
    (at-least-once delivery) must be a no-op."""
    from pyspark.sql import functions as F

    from etl_sales_pandas_sqlserver_spark.streaming.queries import (
        _UPSERT_COLS,
        upsert_latest_batch,
    )

    rows = [
        # user 1: three events out of order across batches
        (10, 1, 1, 100_000),
        (11, 1, 1, 300_000),   # winner
        (12, 1, 1, 200_000),
        # user 2: tie on ts -> event_id breaks it
        (20, 2, 2, 500_000),
        (21, 2, 2, 500_000),   # winner (higher event_id)
    ]
    df = spark.createDataFrame(
        [(eid, u, f"t{t}", ts) for eid, u, t, ts in rows],
        "event_id long, user_id long, event_type string, ts_us long",
    )

    def run_slicing(slices, target):
        for lo, hi in slices:
            batch = df.filter(
                (F.col("event_id") >= lo) & (F.col("event_id") < hi)
            )
            upsert_latest_batch(spark, batch, target)
        return {
            tuple(r)
            for r in spark.read.parquet(target).select(*_UPSERT_COLS).collect()
        }

    one = run_slicing([(0, 100)], str(tmp_path / "one"))
    three = run_slicing([(0, 11), (11, 20), (20, 100)], str(tmp_path / "three"))
    assert one == three
    assert {(u, e) for u, e, *_ in [(r[0], r[1]) for r in one]} == {
        (1, 11), (2, 21)
    }

    # replay: merging the full input AGAIN changes nothing
    replay_target = str(tmp_path / "three")
    upsert_latest_batch(spark, df, replay_target)
    again = {
        tuple(r)
        for r in spark.read.parquet(replay_target)
        .select(*_UPSERT_COLS)
        .collect()
    }
    assert again == three


def test_upsert_swap_recovers_from_every_crash_point(spark, tmp_path):
    """Round-8 advice: the swap must never lose the table. Simulate
    each crash state the two-rename protocol can leave behind and
    check the next upsert (or a bare recovery call) restores a
    readable, correct target."""
    import os
    import shutil

    from etl_sales_pandas_sqlserver_spark.streaming.queries import (
        _UPSERT_COLS,
        _recover_interrupted_swap,
        upsert_latest_batch,
    )

    df = spark.createDataFrame(
        [(10, 1, "a", 100_000), (20, 2, "b", 200_000)],
        "event_id long, user_id long, event_type string, ts_us long",
    )
    target = str(tmp_path / "tbl")
    upsert_latest_batch(spark, df, target)
    want = {
        tuple(r)
        for r in spark.read.parquet(target).select(*_UPSERT_COLS).collect()
    }

    # crash state 1: died between rename(target -> retired) and
    # rename(staging -> target): target missing, retired holds the data
    os.rename(target, target + "._retired")
    _recover_interrupted_swap(target)
    got = {
        tuple(r)
        for r in spark.read.parquet(target).select(*_UPSERT_COLS).collect()
    }
    assert got == want and not os.path.exists(target + "._retired")

    # crash state 2: died after the final rename but before cleanup:
    # both target and a stale retired copy exist -> retired is dropped
    shutil.copytree(target, target + "._retired")
    upsert_latest_batch(spark, df, target)  # replay, also triggers recovery
    assert not os.path.exists(target + "._retired")
    assert not os.path.exists(target + "._staging")
    got = {
        tuple(r)
        for r in spark.read.parquet(target).select(*_UPSERT_COLS).collect()
    }
    assert got == want

    # crash state 3: died mid-staging-write: stale staging dir only
    os.makedirs(target + "._staging", exist_ok=True)
    upsert_latest_batch(spark, df, target)
    assert not os.path.exists(target + "._staging")
    # a normal completed upsert leaves no side dirs either
    assert sorted(os.listdir(tmp_path)) == ["tbl"]


def _sink_views(df) -> list[str]:
    """The ``stream_sink_*`` views left in ``df``'s own session."""
    return [
        t.name for t in df.sparkSession.catalog.listTables()
        if t.isTemporary and t.name.startswith("stream_sink_")
    ]


def test_stream_sinks_are_released_and_frames_stay_readable(spark, sf_small):
    """A memory sink's temp view holds the result rows on the driver
    for the rest of the session: after every registered stream has run
    (the card ingest twice) and one stream has failed, no
    ``stream_sink_*`` view may remain, and every returned frame must
    still collect. Running all of them also shows the append-mode guard
    admits every registered stream. Each stream, the failing one too,
    must leave the shuffle-partition count and the no-data micro-batch
    switch as it found them; the session runs at a partition count
    other than the streams' state-store count, so a missed restore
    shows."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.errors import StreamingQueryException

    from etl_sales_pandas_sqlserver_spark.streaming.queries import (
        _STATE_STORE_PARTITIONS,
        QUERIES_EXPORT,
        _run_to_table,
        q_stream_card_ingest,
        read_events_stream,
    )

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
    )

    def keeps_conf(run):
        before = [spark.conf.get(k) for k in keys]
        try:
            return run()
        finally:
            assert [spark.conf.get(k) for k in keys] == before

    assert len(QUERIES_EXPORT) == 11
    session_parts = spark.conf.get(keys[0])
    spark.conf.set(keys[0], str(_STATE_STORE_PARTITIONS + 1))
    try:
        first = keeps_conf(lambda: q_stream_card_ingest(spark, sf_small))
        second = keeps_conf(lambda: q_stream_card_ingest(spark, sf_small))
        frames = [
            keeps_conf(lambda fn=fn: fn(spark, sf_small))
            for fn, _ in QUERIES_EXPORT.values()
        ]
        failing = read_events_stream(spark, sf_small).select(
            F.raise_error(F.lit("boom")).alias("x")
        )
        with pytest.raises(StreamingQueryException, match="boom"):
            keeps_conf(lambda: _run_to_table(failing, "append"))
    finally:
        spark.conf.set(keys[0], session_parts)
    for df in [first, second, failing, *frames]:
        assert _sink_views(df) == []
    rows = sorted(first.collect())
    assert rows and rows == sorted(second.collect())
    for df in frames:
        df.collect()


def test_append_stream_needing_the_watermark_fails_loudly(spark, sf_small):
    """The finite replay turns off the no-data micro-batch that
    advances the watermark, so an append query whose rows wait for it
    (window aggregate, outer stream-stream join) must raise before it
    starts, not return a table missing its last windows."""
    import pytest
    from pyspark.sql import functions as F

    from etl_sales_pandas_sqlserver_spark.streaming.queries import (
        WatermarkFinalizedAppendError,
        _run_to_table,
        read_events_stream,
    )

    ev = read_events_stream(spark, sf_small).withWatermark("event_time", "1 hour")
    windowed = ev.groupBy(F.window("event_time", "1 hour")).count()
    other = read_events_stream(spark, sf_small).select(
        F.col("user_id").alias("p_user"),
        F.col("event_time").alias("p_time"),
    ).withWatermark("p_time", "1 hour")
    outer = ev.join(
        other,
        F.expr(
            "user_id = p_user AND p_time >= event_time "
            "AND p_time <= event_time + INTERVAL 1 HOUR"
        ),
        "left_outer",
    )
    nodata = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(nodata)
    for query, shape in ((windowed, "aggregate"), (outer, "outer")):
        with pytest.raises(WatermarkFinalizedAppendError, match=shape):
            _run_to_table(query, "append")
        assert not query.sparkSession.streams.active
    assert spark.conf.get(nodata) == before


def test_isolated_clone_reads_the_callers_run_time_conf(spark):
    key = "spark.sql.shuffle.partitions"  # the test session launches with 8
    spark.conf.set(key, "9")
    try:
        assert isolated(spark, {}).conf.get(key) == "9"
        assert spark.newSession().conf.get(key) == "8"
    finally:
        spark.conf.set(key, "8")

"""Mergeable HLL sketch semantics: the error contract the queries emit
as booleans must actually hold, and unioning daily sketches must be
exactly lossless versus sketching the whole column; the CountMinSketch
replay must agree with the JVM before it is trusted."""

from __future__ import annotations

import pytest

from etl_sales_pandas_sqlserver_spark.functions import sketches
from etl_sales_pandas_sqlserver_spark.functions.sketches import (
    _with_day_bucket,
    q_sketch_daily,
    q_sketch_rollup,
)


def test_daily_sketch_contract(spark, sf_small):
    rows = q_sketch_daily(spark, sf_small).collect()
    assert rows, "no (event_type, day) groups"
    for r in rows:
        assert r.n_events >= r.exact_users > 0
        assert r.est_ok, f"{r.event_type}/{r.day_bucket}: estimate out of bound"


def test_day_bucket_ntz_safe_under_any_session_tz(spark):
    """The sketch family's day bucketing must not shift if handed a
    raw-read (TIMESTAMP_NTZ) events table on a non-UTC host -- the
    failure class that broke asof_join_tolerance in round 3. NTZ and
    LTZ spellings of the same instant must land in the same bucket
    under both UTC and a negative-offset zone."""
    from pyspark.sql import functions as F

    ntz = spark.range(1).select(
        F.lit("2024-06-01 01:30:00").cast("timestamp_ntz").alias("ts")
    )
    expected = 19875  # floor(epoch(2024-06-01T01:30Z) / 86400s)
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = _with_day_bucket(ntz).select("day_bucket").collect()[0][0]
            # under America/New_York a session-TZ cast would shift
            # 01:30 into the PREVIOUS day (05:30Z -> ok) -- the bug
            # shows as a 4-5h epoch shift; the NTZ path must not move
            assert got == expected, (tz, got)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        ltz = spark.range(1).select(
            F.lit("2024-06-01 01:30:00").cast("timestamp").alias("ts")
        )
        assert _with_day_bucket(ltz).select("day_bucket").collect()[0][0] == expected
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_rollup_is_lossless_and_in_bound(spark, sf_small):
    rows = q_sketch_rollup(spark, sf_small).collect()
    assert rows, "no event types"
    for r in rows:
        assert r.exact_users > 0
        assert r.est_ok, f"{r.event_type}: rollup estimate out of bound"
        assert r.merge_lossless, (
            f"{r.event_type}: union of daily sketches diverged from the "
            "direct whole-column sketch"
        )


def test_cms_replay_is_checked_against_the_jvm(spark, sf_small, monkeypatch):
    """The in-process CountMinSketch replay is trusted only after it
    matches the JVM's estimateCount: an off-by-one replay must raise."""
    real = sketches._cms_estimate
    monkeypatch.setattr(
        sketches, "_cms_estimate", lambda h, t, item: real(h, t, item) + 1
    )
    with pytest.raises(RuntimeError, match="replay disagrees with the JVM"):
        sketches.q_cms_contract(spark, sf_small)

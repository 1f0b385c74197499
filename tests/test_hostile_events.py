"""Hostile event rows: NULL timestamps, user ids, types, values.

The r13 audit of all 24 batch events consumers against a poisoned
corpus (2 null-ts, 2 null-user, 1 null-type, 1 null-value/props rows)
found three tiers, mirrors of the embeddings audit
(test_hostile_embeddings.py):

1. **Robust**: most consumers stay Spark==DuckDB green — null keys
   group identically, null values drop out of SUM/AVG identically,
   and the 1h sliding windows order by a never-null derived bucket.
   Pinned parametrized below.

2. **Fixed in r13**:
   ``sessionize_events`` now excludes clock-less events explicitly on
   both engines (un-filtered, a NULL ts sorts NULLS FIRST in Spark but
   NULLS LAST in DuckDB and session boundaries diverge);
   ``sketch_rollup_distinct_users`` joins its rollup and direct legs
   null-safely (a plain equi join dropped the NULL-event_type group
   the oracle's GROUP BY keeps).

3. **Known divergences: all fixed.** The lag/lead/rows-window
   families (``window_event_deltas``, ``window_moving_avg_7``,
   ``window_zscore_anomaly``, ``window_first_last_touch``) got their
   ``NULLS FIRST`` oracle respell in r15 and the as-of join excluded
   clock-less clicks on both engines in r14 — the known-divergent list
   is empty.
   The null-free-events tripwire below stays as the regression canary.

A full 186-query sweep (`tools/hostile_sweep.py events`, Spark 4
default semantics) is 186 green / 0 mismatch / 0 errors.
"""

from __future__ import annotations

import duckdb
import pytest

from .hostile_tables import build
from .oracle_compare import compare_frames, compare_query, run_oracle

_ROBUST = [
    "approx_distinct_users",
    "asof_join_tolerance",
    "cohort_retention_weekly",
    "events_json_extract",
    "funnel_view_click_purchase",
    "heavy_hitters_users",
    "partition_pruned_day_load",
    "range_join_event_pairs",
    "sketch_cms_user_hits_contract",
    "sketch_daily_distinct_users",
    "skew_salted_user_counts",
    "time_bucket_rollup",
    "timeseries_gapfill_hourly",
    "window_distinct_types_1h",
    "window_distinct_types_1h_chunked",
    "window_distinct_types_1h_hybrid",
    "window_range_1h_load",
    # fixed r13 (tier 2):
    "sessionize_events",
    "sketch_rollup_distinct_users",
    # fixed r14: clock-less clicks are excluded on both engines — the
    # NULL-ts click's value leaked into every purchase via Spark's
    # NULLS FIRST running last() while DuckDB's ASOF inequality never
    # matched it
    "asof_join_clicks_purchases",
    # fixed r15: NULLS FIRST spelled into the window ORDER BYs (ts,
    # value, and first_last's user_id ntile key) — Spark's window
    # default, now explicit in the DuckDB oracles
    "window_event_deltas",
    "window_first_last_touch",
    "window_moving_avg_7",
    "window_zscore_anomaly",
]

#: r15: empty — every former member got its NULLS-alignment respell
#: (kept as the landing spot if a future events query regresses)
_KNOWN_DIVERGENT: list[str] = []


@pytest.fixture(scope="module")
def hostile_events_sf(sf_small, tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("hostile_events")
    return build("events", sf_small, d)


@pytest.mark.parametrize("name", _ROBUST)
def test_null_rows_stay_oracle_green(spark, hostile_events_sf, name):
    problems = compare_query(spark, name, hostile_events_sf)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", _KNOWN_DIVERGENT)
def test_null_ts_is_a_known_divergence(spark, hostile_events_sf, name):
    """Tier 3 pin: these DO diverge on null ts today (NULLS FIRST vs
    NULLS LAST window ordering). When a respell lands, this test flips
    loudly and the query moves to the _ROBUST list."""
    assert compare_query(spark, name, hostile_events_sf), (
        f"{name} now agrees on null ts — move it to _ROBUST and drop "
        "the stale divergence note"
    )


#: streaming tier — same poisoned corpus through the file-stream path.
#: Robust: complete-mode aggs and joins whose keys/values null-group
#: identically to their batch oracles.
_STREAM_ROBUST = [
    "stream_dataset_card_ingest",
    "stream_dedup_keys",
    "stream_static_join_nation",
    "stream_stream_join_attrib",
    "stream_upsert_latest",
    # fixed r14: the watermarked aggs'
    # batch oracles now carry WHERE ts IS NOT NULL — which IS the
    # watermark's semantics — the stateful sessionizer filters
    # clock-less events explicitly on both engines, the hourly topk
    # ranks NULLS LAST explicitly on both engines, and the sketch
    # contract joins its batch leg null-safely on event_type
    "stream_hourly_agg",
    "stream_session_window_native",
    "stream_sessionize_stateful",
    "stream_sketch_daily_users",
    "stream_sliding_2h",
    "stream_topk_types_per_hour",
]

#: r14: the streaming tier is fully green on the poisoned corpus —
#: the former six-member known-not-green list emptied when the
#: watermark-vs-batch-oracle respell landed with the r10 drain.
_STREAM_KNOWN_NOT_GREEN: list[str] = []


@pytest.mark.parametrize("name", _STREAM_ROBUST)
def test_streaming_null_rows_stay_oracle_green(
    spark, hostile_events_sf, name
):
    problems = compare_query(spark, name, hostile_events_sf)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", _STREAM_KNOWN_NOT_GREEN)
def test_streaming_null_ts_known_not_green(spark, hostile_events_sf, name):
    """Uniform NOT-green pin (crash or watermark-vs-batch mismatch).
    A fix flips this loudly — then move the query to _STREAM_ROBUST."""
    import __spark_entry__ as e

    try:
        sdf = e.queries()[name](spark, hostile_events_sf).toPandas()
    except Exception:
        return  # crash: loud, counted as pinned
    odf = run_oracle(e.oracle_sql()[name], hostile_events_sf)
    assert compare_frames(sdf, odf), (
        f"{name} now agrees on null ts — move it to _STREAM_ROBUST"
    )


def test_testdata_events_have_no_null_keys():
    """Tripwire (the no-\\x0B pattern): the tier-3 divergences stay
    latent ONLY while driver events carry no NULL ts/user_id/
    event_type. Fires before any oracle mismatch can confuse a
    round."""
    import glob

    con = duckdb.connect()
    dirs = sorted(glob.glob("/root/testdata/sf*"))
    assert dirs, "driver testdata missing"
    for d in dirs:
        bad = con.execute(
            f"""
            SELECT count(*) FROM '{d}/events.parquet'
            WHERE ts IS NULL OR user_id IS NULL OR event_type IS NULL
            """
        ).fetchone()[0]
        assert bad == 0, f"{d}: {bad} events with null key columns"

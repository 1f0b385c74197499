"""Hostile events VALUES: NaN/±inf/huge doubles, epoch/far-future ts.

Sixth audit axis (r14; the values twin of the events null audit,
exactly as tpch_values is the values twin of the tpch null audit).
Full 186-query sweep (`tools/hostile_sweep.py events_values`, Spark 4
default semantics): **178 green / 0 mismatch / 8 loud errors, all 8 in
the sweep's `both_error` bucket and none in `spark_only_error`** (the
sweep runs each oracle also when Spark raises; 3 from the start, 5
since their guards):

- Both raise (the money-envelope class, loud and consistent):
  `window_range_1h_load`, `window_moving_avg_7` (±9.9e15 overflows
  DECIMAL(18,6) on both engines), `window_zscore_anomaly` (the exact
  integer-cents moments overflow int64 on both engines).
- CLOSED DIVERGENCE (was the NaN-embedding tier-3 pattern): Spark's
  ANSI ``CAST(double AS DECIMAL(28,6))`` silently yields NULL for
  NaN/±inf (only out-of-RANGE values raise; non-numeric specials null
  out) while DuckDB raises a Conversion Error — so the
  DECIMAL(28,6)-sum queries used to complete on Spark (NaN row's
  value drops from the SUM) where the oracle raises. All FIVE members
  now carry the assert_true finiteness guard (functions/finiteness.py,
  the kmeans-envelope pattern) and raise on both engines: r16 landed
  `stream_hourly_agg`, `timeseries_gapfill_hourly`,
  `time_bucket_rollup`; r17 landed `stream_session_window_native`
  and `stream_sliding_2h`. The oracle-raise class is EMPTY. The
  tripwire below still asserts driver events carry no
  NaN/inf/out-of-envelope values at any sf.

Everything else — NaN/inf through plain double aggs (propagate
identically), epoch/2199 timestamps through hour/day bucketing and
windows, empty-string event_type through group/pivot families —
agrees bit-for-bit.
"""

from __future__ import annotations

import duckdb
import pytest

from .hostile_tables import build
from .oracle_compare import compare_query, run_oracle

#: representative robust slice: the families the poisoned values flow
#: through (double aggs, time bucketing at extreme ts, sessionization,
#: top-k/sketch over the poisoned stream, type-domain groupings)
_ROBUST = [
    "events_json_extract",
    "funnel_view_click_purchase",
    "sessionize_events",
    "approx_distinct_users",
    "sketch_daily_distinct_users",
    "heavy_hitters_users",
    "window_distinct_types_1h",
    "window_event_deltas",
    "window_first_last_touch",
    "skew_salted_user_counts",
    "asof_join_clicks_purchases",
    "asof_join_tolerance",
    "range_join_event_pairs",
    "cohort_retention_weekly",
    "stream_dedup_keys",
    "stream_topk_types_per_hour",
    "stream_upsert_latest",
]

_BOTH_ENGINES_RAISE = [
    "window_range_1h_load",
    "window_moving_avg_7",
    "window_zscore_anomaly",
    # guarded r16/r17 (functions/finiteness.py): the assert_true
    # finiteness guard makes Spark raise on NaN/inf exactly where the
    # oracle's DECIMAL cast raises — all five members of the
    # DECIMAL(28,6)-sum class now guarded (three in r16, the last two
    # streaming pair in r17)
    "stream_hourly_agg",
    "timeseries_gapfill_hourly",
    "time_bucket_rollup",
    "stream_session_window_native",
    "stream_sliding_2h",
]

#: EMPTY since r17: Spark-completes-where-oracle-raises is a closed
#: divergence class — every DECIMAL(28,6)-sum query carries the
#: finiteness guard. Kept as a loud landing spot: any new decimal-sum
#: query over events.value belongs in _BOTH_ENGINES_RAISE (guard it
#: with finite_value_col()), never here.
_SPARK_NULLS_ORACLE_RAISES: list[str] = []


@pytest.fixture(scope="module")
def hostile_values_sf(sf_small, tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("hostile_events_values")
    return build("events_values", sf_small, d)


@pytest.mark.parametrize("name", _ROBUST)
def test_hostile_values_stay_oracle_green(spark, hostile_values_sf, name):
    problems = compare_query(spark, name, hostile_values_sf)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", _BOTH_ENGINES_RAISE)
def test_value_envelope_raises_loudly_on_both_engines(
    spark, hostile_values_sf, name
):
    import __spark_entry__ as e

    with pytest.raises(Exception):
        e.queries()[name](spark, hostile_values_sf).collect()
    with pytest.raises(Exception):
        run_oracle(e.oracle_sql()[name], hostile_values_sf)


@pytest.mark.parametrize("name", _SPARK_NULLS_ORACLE_RAISES)
def test_nan_decimal_cast_is_the_known_divergence(
    spark, hostile_values_sf, name
):
    """Tier-3 pin: Spark completes (ANSI decimal cast nulls NaN/inf),
    the oracle raises. When a finiteness guard lands on both engines,
    this flips loudly — then move the query to _ROBUST."""
    import __spark_entry__ as e

    e.queries()[name](spark, hostile_values_sf).collect()  # no raise
    with pytest.raises(Exception):
        run_oracle(e.oracle_sql()[name], hostile_values_sf)


def test_testdata_event_values_stay_inside_the_envelope():
    """Tripwire: driver events.value is finite and far below the
    DECIMAL(18,6)/int64-cents envelope at every sf, keeping both the
    loud-error class and the NaN-cast divergence latent."""
    import os

    for sf in ("0.001", "0.01", "0.1"):
        path = f"/root/testdata/sf{sf}/events.parquet"
        if not os.path.exists(path):
            continue
        n = duckdb.sql(
            f"SELECT count(*) FROM '{path}' "
            "WHERE isnan(value) OR isinf(value) OR abs(value) >= 1e9"
        ).fetchone()[0]
        assert n == 0, f"sf{sf}: {n} hostile event values"

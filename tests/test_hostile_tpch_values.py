"""Hostile TPC-H VALUES: the overflow/rounding/domain axis (r14).

Fifth audit axis (documents values, documents nulls, events,
embeddings, tpch nulls came first): orders/lineitem/customer poisoned
with hostile VALUES rather than nulls — negative/zero/huge money,
rates outside [0,1], epoch/far-future dates, out-of-domain flags,
empty strings, quoted/unicode names. Full 186-query sweep
(`tools/hostile_sweep.py tpch_values`, Spark 4 default semantics;
the latest run reads the same): **182 green / 0 mismatch / 4 loud
errors — and each of the four raises on BOTH engines** (the sweep's
`both_error` bucket), so the axis carries ZERO silent divergence:

- the sales ETL trio (`clean_valid_sales`, `categorize_invalid_sales`,
  `monthly_summary`): a 9.9-trillion price exceeds the pipeline's
  DECIMAL(12,2) money domain — Spark raises
  NUMERIC_VALUE_OUT_OF_RANGE (ANSI), DuckDB raises Conversion Error.
  The reference's money domain is Decimal(12,2) by design; a loud
  two-engine error is the correct envelope behavior (the kmeans
  quantizer-envelope class).
- `stats_corr_qty_price`: the exact integer-cents moments multiply
  overflows int64 at ~1e14 cents — Spark raises ARITHMETIC_OVERFLOW,
  DuckDB raises Out of Range on the same multiply.

Everything else — discount 1.5 (revenue goes negative consistently),
negative quantities/prices through SUM/AVG/decimal accumulations,
epoch/2099 dates through year extraction and time bucketing,
out-of-domain status flags through pivot/CASE families (fall to the
else-bucket identically), quoted/unicode names through the fuzzy and
dedup families — agrees bit-for-bit.

Tripwire: driver money columns stay comfortably inside the
DECIMAL(12,2) / integer-cents-int64 envelope at every sf, so the loud
errors are latent until the data changes — and the tripwire fires
first.
"""

from __future__ import annotations

import duckdb
import pytest

from .hostile_tables import build
from .oracle_compare import compare_query, run_oracle

#: representative robust slice: the families the poisoned values flow
#: through (money aggs, rate arithmetic, date bucketing, domain CASEs,
#: name-keyed fuzzy/dedup, percentile ranks over negative balances)
_ROBUST = [
    "tpch_q1_pricing_summary",
    "tpch_q3_top_revenue",
    "tpch_q6_forecast_revenue",
    "tpch_q13_order_count_dist",
    "join_broadcast_region_acctbal",
    "window_top_orders_per_customer",
    "percentiles_by_segment",
    "pivot_order_status",
    "unpivot_status_revenue",
    "grouping_sets_revenue",
    "cube_region_status",
    "decile_stats_order_price",
    "status_run_histogram",
    "fuzzy_join_customer_names",
    "dedup_keep_first",
    "merge_upsert_orders",
    "sql_region_year_revenue",
    "time_bucket_rollup",
]

#: LOUD two-engine domain-envelope errors (see module docstring) —
#: pinned so a silent-wraparound regression on either side flips this
_BOTH_ENGINES_RAISE = [
    "clean_valid_sales",
    "categorize_invalid_sales",
    "monthly_summary",
    "stats_corr_qty_price",
]


@pytest.fixture(scope="module")
def hostile_values_sf(sf_small, tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("hostile_tpch_values")
    return build("tpch_values", sf_small, d)


@pytest.mark.parametrize("name", _ROBUST)
def test_hostile_values_stay_oracle_green(spark, hostile_values_sf, name):
    problems = compare_query(spark, name, hostile_values_sf)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", _BOTH_ENGINES_RAISE)
def test_money_envelope_raises_loudly_on_both_engines(
    spark, hostile_values_sf, name
):
    import __spark_entry__ as e

    with pytest.raises(Exception):
        e.queries()[name](spark, hostile_values_sf).collect()
    with pytest.raises(Exception):
        run_oracle(e.oracle_sql()[name], hostile_values_sf)


def test_testdata_money_stays_inside_the_envelope():
    """Tripwire: every sf's money columns fit DECIMAL(12,2) and the
    integer-cents int64 moment arithmetic with wide margin, keeping
    the loud envelope errors latent. Fires before a testdata
    regeneration could surface them as confusing driver errors."""
    import os

    for sf in ("0.001", "0.01", "0.1"):
        base = f"/root/testdata/sf{sf}"
        if not os.path.exists(f"{base}/lineitem.parquet"):
            continue
        hi = duckdb.sql(
            f"""
            SELECT greatest(
              (SELECT max(abs(l_extendedprice)) FROM '{base}/lineitem.parquet'),
              (SELECT max(abs(o_totalprice)) FROM '{base}/orders.parquet')
            )
            """
        ).fetchone()[0]
        # 1e9 < 10^10 = DECIMAL(12,2) bound; cents^2 fits int64 to ~9e8
        assert hi < 1_000_000_000, f"sf{sf}: money column at {hi}"

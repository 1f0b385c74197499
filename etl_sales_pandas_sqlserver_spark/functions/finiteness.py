"""Finiteness guard for ``events.value`` entering DECIMAL(28,6) sums.

The last Spark-completes-where-oracle-raises divergence class (r14
hostile events_values axis): Spark's ANSI ``CAST(double AS DECIMAL)``
silently NULLs NaN/±inf (only out-of-RANGE values raise; non-numeric
specials null out), so a NaN row's value silently DROPS from the sum,
while DuckDB's cast raises a Conversion Error. Five queries summed the
raw cast: ``stream_hourly_agg``, ``stream_session_window_native``,
``stream_sliding_2h``, ``timeseries_gapfill_hourly``,
``time_bucket_rollup``.

The guard is the kmeans-envelope pattern (functions/kmeans.py:73):
``coalesce(assert_true(pred, msg), value)`` — assert_true yields NULL
on pass so the value flows through coalesce unchanged; on a NaN/inf it
raises, matching the oracle's own cast error, turning the silent drop
into a loud both-engines raise. Structure notes carried over from the
kmeans finding:

- the predicate passes NULL values explicitly (``value IS NULL OR``)
  — NULL means "no measurement", flows to the cast as NULL, and both
  engines agree SUM skips it; assert_true raises only on FALSE;
- the assert is coalesce's FIRST argument, never a ``+ 0`` side-term
  (Spark's null-intolerant ``+`` would short-circuit past it).

Spark-side only: the oracle needs no guard because DuckDB's
``CAST(value AS DECIMAL(28,6))`` already raises on non-finite input.
On finite data the guard is a per-row predicate fused into the scan
projection — no shuffle, no plan-shape change, value-identical
results.

Rollout COMPLETE as of r17: ``timeseries_gapfill_hourly``,
``time_bucket_rollup`` and ``stream_hourly_agg`` guarded in r16;
``stream_session_window_native`` and ``stream_sliding_2h`` in r17 —
all five DECIMAL(28,6)-sum sites over ``events.value`` now raise on
both engines (tests/test_hostile_events_values.py pins each in
``_BOTH_ENGINES_RAISE``; the oracle-raise divergence class is empty).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def finite_value_col() -> Column:
    """``value`` guaranteed finite (or NULL): raises loudly on NaN/±inf
    instead of letting Spark's ANSI decimal cast null them out of the
    sum. Use as the input of ``.cast("decimal(28,6)")``."""
    c = F.col("value")
    return F.coalesce(
        F.assert_true(
            c.isNull() | (~F.isnan(c) & (F.abs(c) != F.lit(float("inf")))),
            F.lit(
                "finiteness guard: NaN/inf value cannot enter a "
                "DECIMAL(28,6) sum (the oracle raises on this input; "
                "Spark must too, not silently drop the row)"
            ),
        ),
        c,
    )

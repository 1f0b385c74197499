"""Driver-verified skew-mitigation queries: the salted join and the
two-phase salted aggregation from :mod:`..operators.scale`, each run
through the driver's DuckDB oracle gate.

The oracle can't see the salt (it's an execution detail, not a
semantic), which is exactly the point: the oracle SQL is the PLAIN
join/aggregation, so a green driver row proves the salted plan computes
the same answer. The plan-shape guarantees (hot key fans out over
``N_SALTS`` tasks, dim side replicates exactly ``N_SALTS`` times) are
asserted separately in tests/test_plan_shapes.py.

At 100 TB these are the shapes that keep a skewed key from pinning one
task: AQE's skew-join split handles sort-merge joins after the fact,
but salting is the explicit tool when the hot key feeds an aggregation
or the join strategy isn't skew-splittable; having both driver-checked
means the scale path and the semantics are verified together.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scale import salted_agg_count, salted_join
from ..sources.testdata import load_table

SparkQuery = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------------------
# 1. Salted two-phase count: events per user. Oracle = plain GROUP BY.
# ---------------------------------------------------------------------------

SALTED_USER_COUNTS_SQL = """
  SELECT user_id, COUNT(*) AS n
  FROM events
  GROUP BY user_id
  ORDER BY user_id
"""


def q_salted_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    return salted_agg_count(ev, "user_id")


# ---------------------------------------------------------------------------
# 2. Salted fact-to-dim join: orders joined to customer on the salted
# key, rolled up to revenue per market segment. Oracle = plain join.
# ---------------------------------------------------------------------------

SALTED_JOIN_SEGMENTS_SQL = """
  SELECT c.c_mktsegment AS segment,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
  ORDER BY 1
"""


def q_salted_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    joined = salted_join(fact, dim, "custkey")
    return (
        joined.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# 3. Bucketed co-located join: orders |x| lineitem on orderkey with BOTH
# sides pre-bucketed on the key (sources/bucketed.py), so the fact-fact
# join runs with NO exchange on either input -- the write-once shuffle
# is amortized across every subsequent join on that key, the decisive
# recurring-cost optimization for 100 TB fact joins. The merge hint
# pins sort-merge so the demonstration holds at any scale (broadcast
# would mask it at test SF). Oracle = the plain join: a green row
# proves the bucketed layout computes the identical answer.
# ---------------------------------------------------------------------------

BUCKETED_JOIN_SQL = """
  SELECT o.o_orderpriority AS orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS revenue
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1
  ORDER BY 1
"""


def q_bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.bucketed import bucketed_table

    o = bucketed_table(
        spark, sf_dir, "orders", "o_orderkey",
        ["o_orderkey", "o_orderpriority"],
    )
    li = bucketed_table(
        spark, sf_dir, "lineitem", "l_orderkey",
        ["l_orderkey", "l_extendedprice", "l_discount"],
    )
    disc_price = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_orderpriority").alias("orderpriority"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(disc_price).cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# 4. Partition-pruned scan: events re-laid-out hive-partitioned by day
# (sources/partitioned.py), then a 3-day predicate aggregates load per
# event type. The date filter resolves at PLANNING time -- the plan
# carries it in PartitionFilters (pinned in tests/test_plan_shapes.py)
# and the scan lists only 3 of the 30 day directories; at 100 TB this
# is the difference between reading 10 TB and reading 1 PB before the
# first row filter runs. Oracle = the plain date-filtered aggregate.
# ---------------------------------------------------------------------------

_PRUNE_LO, _PRUNE_HI = "2024-01-10", "2024-01-12"

PARTITION_PRUNED_SQL = f"""
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
  FROM events
  WHERE CAST(ts AS DATE) BETWEEN DATE '{_PRUNE_LO}' AND DATE '{_PRUNE_HI}'
  GROUP BY 1
  ORDER BY 1
"""


def q_partition_pruned_day_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 9: the layout build in sources/partitioned.py moved to
    # atomic publish + _SUCCESS-gated trust (advice fix); this touch
    # schedules the query for re-verification over the new read path
    from ..sources.partitioned import partitioned_table

    ev = partitioned_table(
        spark, sf_dir, "events", "event_date", F.to_date("ts")
    )
    return (
        ev.filter(
            (F.col("event_date") >= F.lit(_PRUNE_LO))
            & (F.col("event_date") <= F.lit(_PRUNE_HI))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


SCALE_QUERIES: dict[str, tuple[SparkQuery, str | None]] = {
    "skew_salted_user_counts": (q_salted_user_counts, SALTED_USER_COUNTS_SQL),
    "skew_salted_join_segments": (q_salted_join_segments, SALTED_JOIN_SEGMENTS_SQL),
    "bucketed_join_order_revenue": (q_bucketed_join_revenue, BUCKETED_JOIN_SQL),
    "partition_pruned_day_load": (
        q_partition_pruned_day_load,
        PARTITION_PRUNED_SQL,
    ),
}

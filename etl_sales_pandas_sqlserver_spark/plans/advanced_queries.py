"""Advanced relational coverage beyond analytics_queries.py: classic
multi-join TPC-H shapes (Q3/Q6 analogs on the driver testdata), set
operations (INTERSECT / EXCEPT), deterministic discrete percentiles,
ordered string aggregation, per-row window deltas, and an HLL
approximate-distinct (rows-only; sketch internals differ per engine).

The reference has none of these (SURVEY.md section 2.5 note) — they
complete the relational surface a user of a general batch engine
expects, each with the plan shape that survives 100 TB:

- Q3 analog: selective dimension filter broadcast into the fact scan,
  decimal-exact revenue, global top-k via TakeOrderedAndProject (k rows
  per partition shuffle, never a full sort).
- Q6 analog: pure scan-side predicate + one partial/final agg — the
  pushdown showcase (PushedFilters carries every predicate).
- Percentiles: hand-rolled rank-based discrete quantiles (window +
  conditional agg) rather than engine-native percentile functions,
  whose interpolation/selection rules differ across engines.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import memo
from ..operators.dates import epoch_us
from ..sources.testdata import load_table

SparkQuery = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------------------
# TPC-H Q3 analog: shipping-priority top-10 orders by pending revenue.
# ---------------------------------------------------------------------------

TPCH_Q3_SQL = """
  WITH rev AS (
    SELECT o.o_orderkey AS orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS revenue_dec
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2
  )
  SELECT orderkey, orderdate, CAST(revenue_dec AS DOUBLE) AS revenue
  FROM rev
  ORDER BY revenue_dec DESC, orderkey
  LIMIT 10
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    cust = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ords = orders.filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = lineitem.filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    # selective filter joined first; the BUILDING segment still scales
    # with the corpus, so no forced broadcast -- the planner broadcasts
    # it while it fits and shuffles on custkey at scale.
    rev = (
        ords.join(cust, ords.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == ords.o_orderkey)
        .groupBy(
            F.col("o_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).alias(
                "revenue_dec"
            )
        )
    )
    return (
        rev.orderBy(F.col("revenue_dec").desc(), "orderkey")
        .limit(10)
        .select(
            "orderkey", "orderdate", F.col("revenue_dec").cast("double").alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 analog: forecast revenue — pure pushdown filter + global agg.
# ---------------------------------------------------------------------------

TPCH_Q6_SQL = """
  SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_lines
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    AND l_discount BETWEEN 0.02 AND 0.06
    AND l_quantity < 24
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Set operations: INTERSECT / EXCEPT (distinct semantics on both engines).
# ---------------------------------------------------------------------------

INTERSECT_SQL = """
  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
  ORDER BY custkey
"""

EXCEPT_SQL = """
  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
  EXCEPT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
  ORDER BY custkey
"""


def _status_custkeys(spark: SparkSession, sf_dir: str, status: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderstatus") == status).select(
        F.col("o_custkey").alias("custkey")
    )


def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with both open and fulfilled orders. Physical plan is a
    distinct-aggregate + hash join on the key — one shuffle each side."""
    return (
        _status_custkeys(spark, sf_dir, "O")
        .intersect(_status_custkeys(spark, sf_dir, "F"))
    )


def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with open orders and no fulfilled ones. ``subtract``
    is EXCEPT DISTINCT (``exceptAll`` would keep multiset surplus --
    a custkey with more 'O' rows than 'F' rows would survive)."""
    return (
        _status_custkeys(spark, sf_dir, "O")
        .subtract(_status_custkeys(spark, sf_dir, "F"))
    )


# ---------------------------------------------------------------------------
# Bag-semantics set ops: EXCEPT ALL / INTERSECT ALL keep MULTIPLICITY
# (a custkey with 5 open and 2 fulfilled orders contributes 3 rows to
# the difference and 2 to the intersection), which the distinct
# variants above deliberately discard. Spark plans these as a
# count-per-key aggregate + generate (replicate min/surplus), one
# shuffle per side -- no row-identity tracking needed at any scale.
# ---------------------------------------------------------------------------

EXCEPT_ALL_SQL = """
  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
  EXCEPT ALL
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
  ORDER BY custkey
"""

INTERSECT_ALL_SQL = """
  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
  INTERSECT ALL
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
  ORDER BY custkey
"""


def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset surplus of open-order custkey occurrences over
    fulfilled ones."""
    return (
        _status_custkeys(spark, sf_dir, "O")
        .exceptAll(_status_custkeys(spark, sf_dir, "F"))
    )


def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key minimum multiplicity of open vs fulfilled occurrences."""
    return (
        _status_custkeys(spark, sf_dir, "O")
        .intersectAll(_status_custkeys(spark, sf_dir, "F"))
    )


# ---------------------------------------------------------------------------
# Discrete percentiles, hand-rolled: rank-based selection is exact and
# engine-portable (native percentile fns differ in interpolation rules).
# ---------------------------------------------------------------------------

_PCTS = [(25, 0.25), (50, 0.50), (90, 0.90)]

_PCT_CASES_SQL = ",\n         ".join(
    f"MAX(CASE WHEN rn = GREATEST(CAST(CEIL({p} * n) AS BIGINT), 1) THEN o_totalprice END) AS p{tag}"
    for tag, p in _PCTS
)

PERCENTILES_SQL = f"""
  WITH ranked AS (
    SELECT c.c_mktsegment AS mktsegment, o.o_totalprice,
           row_number() OVER (PARTITION BY c.c_mktsegment
                              ORDER BY o.o_totalprice, o.o_orderkey) AS rn,
           COUNT(*) OVER (PARTITION BY c.c_mktsegment) AS n
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  )
  SELECT mktsegment,
         {_PCT_CASES_SQL}
  FROM ranked
  GROUP BY mktsegment
  ORDER BY mktsegment
"""


_PCT_BUCKETS = 1024


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete percentiles by segment via distributed two-pass
    rank selection -- NOT a per-segment window sort.

    The oracle ranks by ``(o_totalprice, o_orderkey)``, but only the
    price at rank ``ceil(p*n)`` is returned, and within a run of tied
    prices every rank maps to the same price -- so the orderkey
    tie-break cannot change the output and pure value-rank selection is
    exact. That unlocks the scalable plan:

    1. histogram pass: per-(segment, price-bucket) counts -- a hash agg
       with map-side partials; shuffle carries only segments x 1024
       bucket keys, never the fact rows;
    2. locate: a window over the TINY histogram (segments x 1024 rows)
       finds, per percentile, the bucket holding rank r and the
       residual rank inside it;
    3. select: fact rows are semi-joined (broadcast) to the <=3 target
       buckets per segment, and only those ~n/1024 rows per bucket are
       sorted (in one small agg) to pick the residual-th price.

    The round-1 spelling (row_number over partitionBy(mktsegment) with
    5 segments) sorted the entire joined fact table through 5 window
    partitions -- one task per segment at scale. Here no stage sorts
    more than a bucket's worth of rows; skewed all-equal-price buckets
    degrade gracefully (selection within one bucket).
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select(F.col("c_mktsegment").alias("mktsegment"), "o_totalprice")

    # pass 0: per-segment min/max/count (tiny; broadcast back)
    stats = joined.groupBy("mktsegment").agg(
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(_PCT_BUCKETS)
    bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("o_totalprice") - F.col("lo")) / width),
            F.lit(_PCT_BUCKETS - 1),
        )
    )
    bucketed = joined.join(F.broadcast(stats), "mktsegment").select(
        "mktsegment", "o_totalprice", bucket.alias("bucket")
    )

    # pass 1: histogram (segments x <=1024 rows after the agg)
    hist = bucketed.groupBy("mktsegment", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wcum = (
        Window.partitionBy("mktsegment")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist_cum = hist.withColumn(
        "cum_before", F.coalesce(F.sum("cnt").over(wcum), F.lit(0))
    )

    # target rank per (segment, percentile); locate its bucket+residual
    pcts = F.explode(
        F.array(
            *[
                F.struct(F.lit(tag).alias("tag"), F.lit(p).alias("p"))
                for tag, p in _PCTS
            ]
        )
    ).alias("pct")
    ranks = stats.select("mktsegment", "n", pcts).select(
        "mktsegment",
        F.col("pct.tag").alias("tag"),
        F.greatest(
            F.ceil(F.col("pct.p") * F.col("n")).cast("long"), F.lit(1)
        ).alias("r"),
    )
    targets = (
        ranks.join(hist_cum, "mktsegment")
        .filter(
            (F.col("cum_before") < F.col("r"))
            & (F.col("r") <= F.col("cum_before") + F.col("cnt"))
        )
        .select(
            "mktsegment",
            "tag",
            "bucket",
            (F.col("r") - F.col("cum_before")).cast("int").alias("residual"),
        )
    )

    # pass 2: sort ONLY the target buckets (~n/1024 rows each)
    sel = (
        bucketed.join(F.broadcast(targets), ["mktsegment", "bucket"])
        .groupBy("mktsegment", "tag", "residual")
        .agg(
            F.element_at(
                F.array_sort(F.collect_list("o_totalprice")), F.col("residual")
            ).alias("val")
        )
    )
    aggs = [
        F.max(F.when(F.col("tag") == tag, F.col("val"))).alias(f"p{tag}")
        for tag, _ in _PCTS
    ]
    return sel.groupBy("mktsegment").agg(*aggs)


# ---------------------------------------------------------------------------
# Ordered string aggregation: nations per region as a sorted CSV list.
# ---------------------------------------------------------------------------

STRING_AGG_SQL = """
  SELECT r.r_name AS region_name,
         COUNT(*) AS n_nations,
         string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1
  ORDER BY 1
"""


def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Per-row window deltas: previous-event gap + value quartile per user.
# ---------------------------------------------------------------------------

WINDOW_DELTAS_SQL = """
  SELECT event_id, user_id,
         epoch_us(ts) AS ts_us,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id
           ORDER BY epoch_us(ts) NULLS FIRST, event_id)
           AS prev_gap_us,
         ntile(4) OVER (PARTITION BY user_id
                        ORDER BY value NULLS FIRST, event_id)
           AS value_quartile
  FROM events
  ORDER BY event_id
"""


def q_window_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load_table(spark, sf_dir, "events")
    ev = raw.select(
        "event_id",
        "user_id",
        # type-aware epoch: cast("timestamp") on an NTZ read shifts by
        # the session TZ; epoch_us stays instant-exact either way
        epoch_us(raw, "ts").alias("ts_us"),
        "value",
    )
    w_time = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w_val = Window.partitionBy("user_id").orderBy("value", "event_id")
    return (
        ev.withColumn("prev_gap_us", F.col("ts_us") - F.lag("ts_us").over(w_time))
        .withColumn("value_quartile", F.ntile(4).over(w_val))
        .select("event_id", "user_id", "ts_us", "prev_gap_us", "value_quartile")
    )


# ---------------------------------------------------------------------------
# CUBE: all 2^2 grouping sets of (region, orderstatus) in ONE pass --
# partial aggregation applies per grouping set, one shuffle total,
# versus 4 separate groupBys each rescanning the fact join. Grouping
# nulls mark the rolled-up dimensions (neither column is null in the
# data, so no ambiguity).
# ---------------------------------------------------------------------------

CUBE_SQL = """
  SELECT r.r_name AS region_name, o.o_orderstatus AS orderstatus,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  JOIN region r   ON n.n_regionkey = r.r_regionkey
  GROUP BY CUBE(1, 2)
  ORDER BY 1 NULLS FIRST, 2 NULLS FIRST
"""


def q_cube_region_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.cube(
            F.col("r_name").alias("region_name"),
            F.col("o_orderstatus").alias("orderstatus"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Approximate percentiles (the sketch-based sibling of q_percentiles):
# ONE pass, no second selection scan -- the right trade at 100 TB when
# a bounded rank error is acceptable. Sketch layouts differ between
# engines (Spark: Greenwald-Khanna; DuckDB: t-digest), so this
# registers rows-only; tests/test_advanced.py bounds the drift against
# the exact two-pass answer instead.
# ---------------------------------------------------------------------------


def q_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-pass production sketch, unchanged: per-segment GK
    percentiles of order totals."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select(F.col("c_mktsegment").alias("mktsegment"), "o_totalprice")
    aggs = [
        F.percentile_approx("o_totalprice", p, 10_000).alias(f"p{tag}")
        for tag, p in _PCTS
    ]
    return joined.groupBy("mktsegment").agg(*aggs).orderBy("mktsegment")


# Registered face of the approx query (round-7, verdict #6): the sketch
# VALUES can't be hash-compared (GK vs t-digest layouts), but GK always
# returns an ELEMENT of its input -- so per segment the query emits
# membership booleans (each sketch value exists in that segment's
# multiset) plus the oracle-computable row count. One broadcast join of
# the |segments|-row sketch back to the fact -- the second pass is
# verification-harness shape; production uses q_percentiles_approx
# alone. The rank-space ERROR bound stays the job of
# percentiles_approx_contract.
PCT_APPROX_MEMBER_SQL = """
  SELECT c.c_mktsegment AS mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         TRUE AS p25_member, TRUE AS p50_member, TRUE AS p90_member
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
  ORDER BY 1
"""


def q_percentiles_approx_membership(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select(F.col("c_mktsegment").alias("mktsegment"), "o_totalprice")
    sketch = joined.groupBy("mktsegment").agg(
        *[
            F.percentile_approx("o_totalprice", p, 10_000).alias(f"a{tag}")
            for tag, p in _PCTS
        ]
    )
    ranked = joined.join(F.broadcast(sketch), "mktsegment")
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.bool_or(F.col("o_totalprice") == F.col(f"a{tag}")).alias(
            f"p{tag}_member"
        )
        for tag, _p in _PCTS
    ]
    return ranked.groupBy("mktsegment").agg(*aggs)


# ---------------------------------------------------------------------------
# Approximate distinct (HLL++). Sketch layouts differ across engines,
# so the ESTIMATE can't be hash-compared against DuckDB -- instead the
# query emits the exact count (oracle-reproducible) plus a boolean
# asserting the estimate met its error bound (2% of exact + 0.5
# absolute slack; rsd=0.02 measured 0.4% drift at sf0.1). The driver's
# value-hash then proves the sketch honored its contract -- stronger
# than the rows-only check this registered as before. The same pattern
# (and the mergeable-sketch-table scale story) lives in
# functions/sketches.py.
# ---------------------------------------------------------------------------

APPROX_DISTINCT_SQL = """
  SELECT event_type,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
         TRUE AS est_ok
  FROM events
  GROUP BY 1
  ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Percentile-sketch error contract: percentile_approx (Greenwald-
# Khanna, accuracy 10_000) guarantees the returned element's rank is
# within n/accuracy of the target rank. The contract checks it in RANK
# space -- no interpolation, so it is exact at any n: pass 1 computes
# the sketch values per segment; pass 2 joins them back (broadcast --
# |segments| x 3 values) and counts rows strictly below / at-or-below
# each sketch value, giving the value's exact rank interval [lt+1, le];
# the verdict is whether that interval intersects the target rank
# window ceil((p +/- 0.001) * n) +/- 1 (10x the guaranteed rank error
# plus one-rank slack for ties at window edges). Verdict booleans are
# what the DuckDB oracle reproduces as TRUE. Two passes over the fact
# table is verification-harness shape, not the production path --
# production runs the one-pass sketch alone
# (percentiles_by_segment_approx); this query exists so the driver can
# hash-verify the sketch's error bound.
# ---------------------------------------------------------------------------

#: Rank-window half-width, relative to n. percentile_approx with
#: accuracy=10_000 guarantees rank error <= n/10_000 = 1e-4 * n;
#: measured worst-case across sf0.001-0.1 (round 6, MACHINERY/
#: FURNITURE p90) is 1.03e-4 -- i.e. the sketch runs AT its bound, the
#: excess over 1e-4 being integer rounding that the +/-1-rank slack in
#: the window absorbs. 2e-4 keeps the contract binding (2x the
#: guarantee, was 10x) with headroom only for tie-rounding, not drift.
_PCT_EPS = 0.0002

PCT_CONTRACT_SQL = """
  SELECT c.c_mktsegment AS mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p90_ok
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
  ORDER BY 1
"""


def q_percentiles_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select(F.col("c_mktsegment").alias("mktsegment"), "o_totalprice")
    sketch = joined.groupBy("mktsegment").agg(
        *[
            F.percentile_approx("o_totalprice", p, 10_000).alias(f"a{tag}")
            for tag, p in _PCTS
        ]
    )
    ranked = joined.join(F.broadcast(sketch), "mktsegment")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for tag, _p in _PCTS:
        a = F.col(f"a{tag}")
        aggs += [
            F.sum((F.col("o_totalprice") < a).cast("long")).alias(f"lt{tag}"),
            F.sum((F.col("o_totalprice") <= a).cast("long")).alias(f"le{tag}"),
        ]
    agg = ranked.groupBy("mktsegment").agg(*aggs)
    n = F.col("n_rows")
    cols = [F.col("mktsegment"), n]
    for tag, p in _PCTS:
        lo_rank = F.greatest(
            F.ceil(F.lit(max(0.0, p - _PCT_EPS)) * n) - F.lit(1), F.lit(1)
        )
        hi_rank = F.least(
            F.ceil(F.lit(min(1.0, p + _PCT_EPS)) * n) + F.lit(1), n
        )
        ok = (F.col(f"lt{tag}") + F.lit(1) <= hi_rank) & (
            F.col(f"le{tag}") >= lo_rank
        )
        cols.append(ok.alias(f"p{tag}_ok"))
    return agg.select(*cols)


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    tol = F.col("exact_users").cast("double") * 0.02 + 0.5
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(
                F.col("approx_users").cast("double")
                - F.col("exact_users").cast("double")
            )
            <= tol
        ).alias("est_ok"),
    )


# ---------------------------------------------------------------------------
# Unpivot (melt): the wide-to-long inverse of pivot_order_status --
# per-nation conditional revenue by status as wide columns, melted to
# (nation, status, revenue) rows. Spark's df.unpivot is a zero-shuffle
# Expand over the aggregated (tiny) frame; the oracle spells the same
# melt as UNION ALL (portable everywhere).
# ---------------------------------------------------------------------------

UNPIVOT_SQL = """
  WITH wide AS (
    SELECT n.n_name AS nation_name,
           CAST(SUM(CASE WHEN o.o_orderstatus = 'F'
                         THEN CAST(o.o_totalprice AS DECIMAL(18,2))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS f,
           CAST(SUM(CASE WHEN o.o_orderstatus = 'O'
                         THEN CAST(o.o_totalprice AS DECIMAL(18,2))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS o,
           CAST(SUM(CASE WHEN o.o_orderstatus = 'P'
                         THEN CAST(o.o_totalprice AS DECIMAL(18,2))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS p
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    GROUP BY 1
  )
  SELECT nation_name, 'F' AS status, f AS revenue FROM wide
  UNION ALL
  SELECT nation_name, 'O' AS status, o AS revenue FROM wide
  UNION ALL
  SELECT nation_name, 'P' AS status, p AS revenue FROM wide
  ORDER BY nation_name, status
"""


def q_unpivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    def status_sum(s: str):
        return (
            F.sum(
                F.when(
                    F.col("o_orderstatus") == s,
                    F.col("o_totalprice").cast("decimal(18,2)"),
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            )
            .cast("double")
            .alias(s.lower())
        )

    wide = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(status_sum("F"), status_sum("O"), status_sum("P"))
    )
    return (
        wide.unpivot(
            ["nation_name"], ["f", "o", "p"], "status", "revenue"
        )
        .withColumn("status", F.upper("status"))
    )


# ---------------------------------------------------------------------------
# Equi-width histogram: order values binned into 20 fixed-width buckets
# per order status. Bin assignment is pure per-row arithmetic (floor of
# one double division -- deterministic IEEE on both engines, no
# width_bucket dependency); the aggregation keyspace is statuses x 20,
# so map-side partial agg collapses each task to a handful of rows and
# the shuffle is bytes regardless of fact size.
# ---------------------------------------------------------------------------

_HIST_WIDTH = 25_000.0
_HIST_BINS = 20

HISTOGRAM_SQL = f"""
  SELECT o_orderstatus,
         CAST(least(floor(o_totalprice / {_HIST_WIDTH}), {_HIST_BINS - 1})
              AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders
  GROUP BY 1, 2
  ORDER BY 1, 2
"""


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bin_col = F.least(
        F.floor(F.col("o_totalprice") / _HIST_WIDTH), F.lit(_HIST_BINS - 1)
    ).cast("long")
    return (
        orders.groupBy("o_orderstatus", bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Pearson correlation per segment (quantity vs price) via the MOMENTS
# pattern: values are scaled to exact integer CENTS, the five moments
# (sq, sp, sqq, spp, sqp) accumulate as exact integers (DECIMAL(38,0)
# in Spark, HUGEINT in DuckDB -- both associative, so Spark's
# nondeterministic partial-agg order cannot perturb them), and only
# the final correlation formula runs in doubles, as one FIXED
# expression tree both engines evaluate with the identical IEEE op
# sequence (including correctly-rounded sqrt). Integer moments matter:
# a first cut summed in DECIMAL(38,4) and hit a 1-ulp mismatch --
# fractional-decimal -> double conversion is not correctly rounded the
# same way in both engines (double-rounding via 10^-scale), while
# integer -> double is. (corr is scale-invariant, so cents vs units
# changes nothing semantically.) This is the portable alternative to
# F.corr, whose streaming float accumulation is order-dependent and
# would break the driver's value hash. Moments are mergeable: at
# 100 TB this is a plain two-level hash aggregate, one shuffle.
# ---------------------------------------------------------------------------

CORR_SQL = """
  WITH j AS (
    SELECT c.c_mktsegment AS segment,
           CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q,
           CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
  ),
  m AS (
    SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(q) AS DOUBLE) AS sq, CAST(SUM(p) AS DOUBLE) AS sp,
           CAST(SUM(q * q) AS DOUBLE) AS sqq,
           CAST(SUM(p * p) AS DOUBLE) AS spp,
           CAST(SUM(q * p) AS DOUBLE) AS sqp
    FROM j GROUP BY 1
  )
  SELECT segment, n,
         (n * sqp - sq * sp)
           / sqrt((n * sqq - sq * sq) * (n * spp - sp * sp))
           AS corr_qty_price
  FROM m
  ORDER BY segment
"""


def q_corr_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("q"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("p"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    # Pre-aggregate the five moments PER ORDER before the joins (r18,
    # guide §2.3 aggregate-before-shuffle): every lineitem of one order
    # lands in the same segment, and integer/decimal sums regroup
    # associatively, so summing (n, sq, sp, sqq, spp, sqp) by
    # l_orderkey first and re-summing by segment is exact -- verified
    # bit-identical at sf0.001/0.01/0.1. At scale this cuts the join
    # input by the lineitems-per-order factor (~4x), and the
    # groupBy(l_orderkey) exchange doubles as the join-key partitioning
    # when the planner shuffle-joins orders instead of broadcasting it.
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("q").alias("sq0"),
        F.sum("p").alias("sp0"),
        # products fit bigint (cents^2 <= ~1e14) but their SUM does
        # not at scale: accumulate in DECIMAL(38,0), exact like
        # DuckDB's HUGEINT, and integer->double converts correctly
        # rounded in both engines
        F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("sqq0"),
        F.sum((F.col("p") * F.col("p")).cast("decimal(38,0)")).alias("spp0"),
        F.sum((F.col("q") * F.col("p")).cast("decimal(38,0)")).alias("sqp0"),
    )
    m = (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("segment")
        .agg(
            F.sum("n0").alias("n"),
            F.sum("sq0").cast("double").alias("sq"),
            F.sum("sp0").cast("double").alias("sp"),
            F.sum("sqq0").cast("double").alias("sqq"),
            F.sum("spp0").cast("double").alias("spp"),
            F.sum("sqp0").cast("double").alias("sqp"),
        )
    )
    n = F.col("n")
    num = n * F.col("sqp") - F.col("sq") * F.col("sp")
    den = F.sqrt(
        (n * F.col("sqq") - F.col("sq") * F.col("sq"))
        * (n * F.col("spp") - F.col("sp") * F.col("sp"))
    )
    return m.select(
        "segment", "n", (num / den).alias("corr_qty_price")
    )


# ---------------------------------------------------------------------------
# Fuzzy entity-resolution join: customer-name pairs within Levenshtein
# distance 1, WITHOUT an all-pairs scan. Classic deletion-neighborhood
# blocking: every string generates itself plus its |s| single-deletion
# variants; two strings at edit distance <= 1 provably share a variant
# (equal: the string itself; insert/delete: the deleted form;
# substitute: both drop the differing position), so an equi-join on
# hashed variants yields a complete candidate set, and only candidates
# pay the exact levenshtein verify. Cost is linear in rows x string
# length instead of quadratic in rows -- at production scale hot
# variants are additionally bucketed by (length, prefix) to bound any
# one join group. The oracle is the brute-force all-pairs spelling
# (DuckDB and Spark implement the same classic Levenshtein), so a
# green row proves the blocked join loses no pair.
# ---------------------------------------------------------------------------

FUZZY_JOIN_SQL = """
  SELECT a.c_custkey AS a_custkey, b.c_custkey AS b_custkey,
         CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS distance
  FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 1
  ORDER BY a_custkey, b_custkey
"""


def q_fuzzy_join_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # i = 0..len-1 deletes char i+1; i = len yields the string itself.
    # The candidate join carries ONLY (custkey, position, variant-hash)
    # ints -- names ride along broadcast-joined AFTER the int-pair
    # distinct, which halved the query (6.6s -> 3.3s at sf0.1: the
    # first cut shuffled two 18-char strings through 1.46M candidate
    # rows). explode the deletion positions FIRST (sequence+explode is
    # native) so the variant build + hash run as codegen'd columns; a
    # transform() lambda would evaluate interpreted per variant
    # (round-9 rewrite, same class as the simhash/prefix-filter ones)
    def build() -> DataFrame:
        return cust.select(
            "c_custkey",
            "c_name",
            F.explode(F.expr("sequence(0, length(c_name))")).alias("i"),
        ).select(
            "c_custkey",
            "i",
            # i == length marks the identity variant (no char deleted)
            (F.col("i") == F.length("c_name")).alias("is_self"),
            F.xxhash64(
                F.expr(
                    "concat(substring(c_name, 1, i), "
                    "substring(c_name, i + 2, length(c_name)))"
                )
            ).alias("vh"),
        )

    # four consumers below (two leg-1 sides, the leg-2 identity and
    # deletion sides) would each re-run the explode+hash; memoize the
    # narrow int frame once (the _doc_shingles pattern -- measured
    # ~1.2s at sf0.1, where the single-row-group scan serializes the
    # variant build on one task)
    variants = memo(spark, "name_variants", sf_dir, "customer", build)
    # POSITION-BLOCKED candidate join (r18, guide §3.2 reduce before
    # the shuffle; the FastSS deletion-position refinement). Joining on
    # vh alone put every deletion variant of every name in one bucket
    # per string value -- 1.46M candidate rows at sf0.1, 956k after
    # distinct, and names with digit runs generated the same variant at
    # several positions, inflating the join quadratically. Keying the
    # join by (i, vh) keeps it COMPLETE for the same-length cases while
    # cutting candidates ~5x (measured 1.46M -> ~0.2M raw):
    #   * identical strings share every variant at the same i
    #     (including i = len);
    #   * a substitution pair differing at char position t shares the
    #     deletion variant AT i = t-1 (equal prefixes and suffixes),
    #     same i on both sides;
    #   * conversely two same-length names sharing (i, vh) differ only
    #     at position i+1 -- distance <= 1, so leg 1 admits (almost) no
    #     false candidates (only 2^-64 hash collisions, which the
    #     levenshtein verify removes; collisions can only ADD).
    # The remaining distance-1 case is insert/delete (lengths differ by
    # one): the longer name minus its inserted char IS the shorter
    # name, i.e. a deletion variant of the longer side equals the
    # SHORTER side's identity variant -- but at unrelated i, so leg 2
    # joins identity variants against all variants on vh alone. That
    # side is |names| rows vs |names|*len, and cross-length matches are
    # rare, so leg 2 stays tiny. Union of the two legs is the full
    # deletion-neighborhood candidate set (the oracle's brute-force
    # hash compare certifies completeness every round).
    a = variants.select(F.col("c_custkey").alias("a_custkey"), "i", "vh")
    b = variants.select(F.col("c_custkey").alias("b_custkey"), "i", "vh")
    leg1 = a.join(b, ["i", "vh"]).select("a_custkey", "b_custkey")
    self_a = variants.filter("is_self").select(
        F.col("c_custkey").alias("a_custkey"), "vh"
    )
    del_b = variants.filter("NOT is_self").select(
        F.col("c_custkey").alias("b_custkey"), "vh"
    )
    # identity-vs-deletion in both role assignments: (short=a, long=b)
    # and (long=a, short=b) -- the a<b filter below needs both
    leg2 = self_a.join(del_b, "vh").select("a_custkey", "b_custkey")
    leg2r = leg2.select(
        F.col("b_custkey").alias("a_custkey"),
        F.col("a_custkey").alias("b_custkey"),
    )
    cand = (
        leg1.unionByName(leg2)
        .unionByName(leg2r)
        .filter(F.col("a_custkey") < F.col("b_custkey"))
        .select("a_custkey", "b_custkey")
        .distinct()
    )
    na = cust.select(
        F.col("c_custkey").alias("a_custkey"), F.col("c_name").alias("a_name")
    )
    nb = cust.select(
        F.col("c_custkey").alias("b_custkey"), F.col("c_name").alias("b_name")
    )
    dist = F.levenshtein("a_name", "b_name")
    # No broadcast hint on the name lookups: customer grows with the
    # corpus, so a forced broadcast would OOM at 100x and override
    # AQE's size-based choice. AQE broadcasts it when it fits (it does
    # at every test SF); at scale this becomes a shuffle join keyed on
    # custkey, which is the right plan for an unbounded table.
    return (
        cand.join(na, "a_custkey")
        .join(nb, "b_custkey")
        .filter(dist <= 1)
        .select(
            "a_custkey",
            "b_custkey",
            dist.cast("bigint").alias("distance"),
        )
    )


ADVANCED_QUERIES: dict[str, tuple[SparkQuery, str | None]] = {
    "fuzzy_join_customer_names": (q_fuzzy_join_names, FUZZY_JOIN_SQL),
    "stats_corr_qty_price": (q_corr_moments, CORR_SQL),
    "tpch_q3_top_revenue": (q_tpch_q3, TPCH_Q3_SQL),
    "tpch_q6_forecast_revenue": (q_tpch_q6, TPCH_Q6_SQL),
    "set_intersect_custkeys": (q_intersect, INTERSECT_SQL),
    "set_except_custkeys": (q_except, EXCEPT_SQL),
    "set_except_all_custkeys": (q_except_all, EXCEPT_ALL_SQL),
    "set_intersect_all_custkeys": (q_intersect_all, INTERSECT_ALL_SQL),
    "percentiles_by_segment": (q_percentiles, PERCENTILES_SQL),
    "string_agg_nations": (q_string_agg, STRING_AGG_SQL),
    "window_event_deltas": (q_window_deltas, WINDOW_DELTAS_SQL),
    "cube_region_status": (q_cube_region_status, CUBE_SQL),
    "unpivot_status_revenue": (q_unpivot_status_revenue, UNPIVOT_SQL),
    "price_histogram_by_status": (q_price_histogram, HISTOGRAM_SQL),
    # sketch internals are engine-specific: rows-only for the driver,
    # error bounded vs the exact count / exact percentiles in tests
    "approx_distinct_users": (q_approx_distinct, APPROX_DISTINCT_SQL),
    "percentiles_by_segment_approx": (
        q_percentiles_approx_membership,
        PCT_APPROX_MEMBER_SQL,
    ),
    "percentiles_approx_contract": (q_percentiles_contract, PCT_CONTRACT_SQL),
}

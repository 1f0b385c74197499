"""Mergeable distinct-count sketches (Apache DataSketches HLL, via
``F.hll_sketch_agg`` / ``F.hll_union_agg`` / ``F.hll_sketch_estimate``).

The 100 TB pattern this enables: COUNT(DISTINCT) over raw events for
every (dimension, period) a dashboard asks is a full shuffle of the
key universe per question. Instead, maintain a tiny **sketch table** --
one HLL binary per (event_type, day), built incrementally per ingest
batch with map-side partial aggregation -- and answer ANY distinct
rollup by unioning sketches, never rescanning raw data. HLL union is
lossless with respect to sketch state: the union of the daily sketches
has byte-identical state (hence identical estimate) to sketching the
whole column directly, so the rollup layer adds zero extra error. The
sketch table is |event_types| x |days| rows of <= 2^lgK bytes -- a
broadcast-size artifact even when the raw table is 100 TB.

Driver-verifiable contract: sketch binaries and estimates cannot be
hash-compared against DuckDB (its approx_count_distinct is a different
HLL layout), so instead of emitting the estimate raw, each query emits
the exact count (oracle-reproducible) plus BOOLEANS asserting the
estimate met its error bound -- and, for the rollup, that merging was
exactly lossless versus a direct whole-column sketch. The driver's
value-hash then proves the contract held, which is strictly stronger
than a rows-only check.

lgConfigK=14 (16 KiB dense, ~0.8% relative standard error; exact in
sparse mode at the testdata's cardinalities). The 2% + 0.5 tolerance
leaves headroom for dense-mode error at real scale.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dates import epoch_us
from ..sources.testdata import load_table

SparkQuery = Callable[[SparkSession, str], DataFrame]

_LG_K = 14
_DAY_US = 86_400_000_000


def _with_day_bucket(df: DataFrame) -> DataFrame:
    """Add a ``day_bucket`` column via the type-aware ``epoch_us``
    helper (operators/dates.py) so the sketch family stays correct even
    when handed a raw-read (TIMESTAMP_NTZ) events table on a non-UTC
    host -- the exact failure class that broke ``asof_join_tolerance``
    in round 3. Integer ``div`` on the bigint epoch keeps full
    precision (no double rounding) and matches DuckDB ``//`` for the
    non-negative epochs in play."""
    return df.withColumn("_epoch_us", epoch_us(df, "ts")).withColumn(
        "day_bucket", F.expr(f"_epoch_us div {_DAY_US}")
    )


def _est_ok(est, exact):
    # |est - exact| <= 2% of exact + 0.5 (absolute slack absorbs the
    # double->count rounding at tiny cardinalities)
    return (
        F.abs(est - exact.cast("double")) <= exact.cast("double") * 0.02 + 0.5
    )


DAILY_SKETCH_SQL = """
  SELECT event_type,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
         TRUE AS est_ok
  FROM events
  GROUP BY 1, 2
  ORDER BY 1, 2
"""


def q_sketch_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-table build: per (event_type, day), an HLL over
    user_id -- here immediately estimated and checked against the
    exact count so the driver can verify the error contract. In
    production the ``sk`` binary itself is what you persist; the exact
    count exists only for verification."""
    ev = _with_day_bucket(load_table(spark, sf_dir, "events"))
    agg = (
        ev.groupBy("event_type", "day_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("exact_users"),
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(_LG_K))
            ).alias("est"),
        )
    )
    return agg.select(
        "event_type",
        "day_bucket",
        "n_events",
        "exact_users",
        _est_ok(F.col("est"), F.col("exact_users")).alias("est_ok"),
    )


ROLLUP_SKETCH_SQL = """
  SELECT event_type,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
         TRUE AS est_ok,
         TRUE AS merge_lossless
  FROM events
  GROUP BY 1
  ORDER BY 1
"""


def q_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rollup read path: union the DAILY sketches up to
    per-event-type totals without touching raw events again, and prove
    (a) the unioned estimate meets the error bound against the exact
    count and (b) the union was exactly lossless -- bit-identical
    estimate to sketching the whole column in one pass."""
    ev = _with_day_bucket(load_table(spark, sf_dir, "events"))
    daily = ev.groupBy("event_type", "day_bucket").agg(
        F.hll_sketch_agg("user_id", F.lit(_LG_K)).alias("sk")
    )
    rolled = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(
            F.hll_union_agg("sk", F.lit(False))
        ).alias("rollup_est")
    )
    direct = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(_LG_K))
        ).alias("direct_est"),
    )
    # null-safe key: a NULL event_type forms a group in BOTH engines'
    # GROUP BY, and the oracle keeps it -- a plain equi join here would
    # silently drop that group (r13 hostile-events audit; same fix
    # class as the Misra-Gries exact-recount semi join)
    return (
        rolled.join(
            direct,
            rolled["event_type"].eqNullSafe(direct["event_type"]),
        )
        .select(
            rolled["event_type"],
            "exact_users",
            _est_ok(F.col("rollup_est"), F.col("exact_users")).alias("est_ok"),
            (F.col("rollup_est") == F.col("direct_est")).alias(
                "merge_lossless"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch table: the FREQUENCY sibling of the HLL table.
# Per event_type, a CMS over user_id answers "how often did user X do
# Y" without a per-(type,user) aggregate of the raw table; CMS merge
# is exact counter addition, so per-day sketches roll up losslessly
# like the HLL table. Spark ships the CMS aggregate
# (F.count_min_sketch) but no union aggregate or probe expression, so
# the rollup/probe layer here runs on the DRIVER over the collected
# sketch table -- legitimate, because the sketch table is
# broadcast-size BY DESIGN (|event_types| x |days| binaries of a few
# KiB) no matter how large raw events grow; raw data is never
# collected.
#
# Contract (hash-checked): for every (event_type, probe user) pair,
# emit the exact hit count (oracle-reproducible) plus booleans:
#   est_ge_ok        CMS never underestimates (structural guarantee),
#   est_le_ok        est <= exact + eps * N_type (the probabilistic
#                    bound, deterministic here given the fixed seed),
#   merge_lossless_ok  merging the per-day sketches gives the same
#                    estimate as sketching the whole type directly.
# ---------------------------------------------------------------------------

_CMS_EPS = 0.005
_CMS_CONF = 0.99
_CMS_SEED = 42
_CMS_PROBE_USERS = 8

CMS_CONTRACT_SQL = f"""
  WITH tot AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_type
    FROM events GROUP BY 1
  )
  SELECT e.event_type, e.user_id,
         CAST(COUNT(*) AS BIGINT) AS exact_hits,
         TRUE AS est_ge_ok, TRUE AS est_le_ok, TRUE AS merge_lossless_ok
  FROM events e JOIN tot t ON t.event_type = e.event_type
  WHERE e.user_id < {_CMS_PROBE_USERS}
  GROUP BY 1, 2
  ORDER BY 1, 2
"""


def _parse_cms(raw: bytes) -> tuple[tuple[int, ...], "object"]:
    """Deserialize a Spark ``CountMinSketch`` binary (format V1:
    big-endian ``int version, long totalCount, int depth, int width``,
    then ``depth`` longs of per-row hash coefficients, then
    ``depth x width`` longs of counters) into ``(hashA, table)``.
    Raises loudly on any layout surprise -- a silent mis-parse would
    fabricate estimates."""
    import struct

    import numpy as np

    version, _total, depth, width = struct.unpack(">iqii", raw[:20])
    if version != 1 or len(raw) != 20 + depth * 8 + depth * width * 8:
        raise ValueError(
            f"unexpected CountMinSketch layout: version={version}, "
            f"depth={depth}, width={width}, len={len(raw)}"
        )
    hash_a = struct.unpack(f">{depth}q", raw[20 : 20 + depth * 8])
    table = (
        np.frombuffer(raw[20 + depth * 8 :], dtype=">i8")
        .reshape(depth, width)
        .astype(np.int64)
    )
    return hash_a, table


def _cms_estimate(hash_a, table, item: int) -> int:
    """``estimateCount`` replayed exactly: per row,
    ``h = hashA[i]*item`` in wrapping 64-bit arithmetic,
    ``h += h >>> 32``, mask to the 2^31-1 modulus, bucket ``h % width``
    -- min across rows (bit-identical to the JVM implementation,
    verified against it over positive and negative items)."""
    mask = (1 << 64) - 1
    prime = (1 << 31) - 1
    depth, width = table.shape
    best = None
    for i in range(depth):
        h = (hash_a[i] * item) & mask
        h = (h + (h >> 32)) & mask
        h &= prime
        v = int(table[i][h % width])
        best = v if best is None or v < best else best
    return best


def _check_cms_replay(spark: SparkSession, raw: bytes) -> None:
    """Raise unless ``_cms_estimate`` equals the JVM's
    ``CountMinSketch.estimateCount`` for every probe user of one
    sketch. The replay copies a private format and hash, so a Spark
    upgrade that keeps the layout but changes the hash would pass
    ``_parse_cms``'s guard and skew every estimate."""
    jvm_sketch = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytearray(raw)
    )
    hash_a, table = _parse_cms(raw)
    for uid in range(_CMS_PROBE_USERS):
        ours = _cms_estimate(hash_a, table, uid)
        theirs = jvm_sketch.estimateCount(uid)
        if ours != theirs:
            raise RuntimeError(
                f"CountMinSketch replay disagrees with the JVM for user "
                f"{uid}: replayed {ours}, estimateCount {theirs}"
            )


def q_cms_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _with_day_bucket(load_table(spark, sf_dir, "events"))
    cms_args = (F.lit(_CMS_EPS), F.lit(_CMS_CONF), F.lit(_CMS_SEED))
    daily = (
        ev.groupBy("event_type", "day_bucket")
        .agg(F.count_min_sketch("user_id", *cms_args).alias("sk"))
        .collect()
    )
    direct_rows = (
        ev.groupBy("event_type")
        .agg(F.count_min_sketch("user_id", *cms_args).alias("sk"))
        .collect()
    )
    if direct_rows:
        _check_cms_replay(spark, bytes(direct_rows[0].sk))
    direct = {r.event_type: _parse_cms(bytes(r.sk)) for r in direct_rows}
    # Merge and probe the sketches in-process (r18, guide §7.3): the
    # old spelling shipped every per-day binary through
    # CountMinSketch.readFrom + mergeInPlace and probed via
    # estimateCount -- one py4j round trip per call, ~10^3 calls per
    # execution, which dominated the query's construction wall
    # (~1.1s). CMS merge is defined as exact per-cell counter addition
    # of same-shaped tables (that is what mergeInPlace does), and the
    # estimate replay is bit-identical (_cms_estimate); all sketches
    # share one (eps, conf, seed) so equal hash coefficients are
    # asserted, not assumed. Same booleans, zero py4j chatter.
    merged: dict = {}
    for r in daily:
        hash_a, table = _parse_cms(bytes(r.sk))
        if r.event_type in merged:
            m_hash, m_table = merged[r.event_type]
            if m_hash != hash_a:
                raise ValueError(
                    "CountMinSketch merge across differing hash "
                    "coefficients (seed drift?)"
                )
            m_table += table
        else:
            merged[r.event_type] = (hash_a, table)
    probes = []  # (event_type, user_id, merged_est, lossless)
    for etype, (hash_a, table) in merged.items():
        d_hash, d_table = direct[etype]
        for uid in range(_CMS_PROBE_USERS):
            est = _cms_estimate(hash_a, table, uid)
            probes.append(
                (
                    etype,
                    uid,
                    est,
                    est == _cms_estimate(d_hash, d_table, uid),
                )
            )
    est_df = spark.createDataFrame(
        probes, "event_type string, user_id long, est long, lossless boolean"
    )
    exact = (
        ev.filter(F.col("user_id") < _CMS_PROBE_USERS)
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("exact_hits"))
    )
    totals = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_type"))
    return (
        exact.join(F.broadcast(est_df), ["event_type", "user_id"])
        .join(F.broadcast(totals), "event_type")
        .select(
            "event_type",
            "user_id",
            "exact_hits",
            (F.col("est") >= F.col("exact_hits")).alias("est_ge_ok"),
            (
                F.col("est").cast("double")
                <= F.col("exact_hits").cast("double")
                + F.lit(_CMS_EPS) * F.col("n_type").cast("double")
            ).alias("est_le_ok"),
            F.col("lossless").alias("merge_lossless_ok"),
        )
    )


SKETCH_QUERIES: dict[str, tuple[SparkQuery, str | None]] = {
    "sketch_daily_distinct_users": (q_sketch_daily, DAILY_SKETCH_SQL),
    "sketch_rollup_distinct_users": (q_sketch_rollup, ROLLUP_SKETCH_SQL),
    "sketch_cms_user_hits_contract": (q_cms_contract, CMS_CONTRACT_SQL),
}

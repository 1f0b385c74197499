"""Per-operator unit tests covering the reference's verified quirks
(SURVEY.md section 5.2 item 2): no-dash split, na=False predicates,
'nan' stringification, currency normalize ties, union duplicate
retention, keep-first determinism, coercing parses.
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_sales_pandas_sqlserver_spark.operators import (
    dates,
    dedup,
    nulls,
    numeric,
    setops,
    strings,
)


def _one(spark, expr, **cols):
    schema = ", ".join(f"{k} string" for k in cols)
    df = spark.createDataFrame([tuple(cols.values())], schema)
    return df.select(expr.alias("v")).first()["v"]


def test_split_last_no_dash_keeps_whole_string(spark):
    assert _one(spark, strings.split_last("x"), x="ABC-D") == "D"
    assert _one(spark, strings.split_last("x"), x="PLAIN") == "PLAIN"
    assert _one(spark, strings.split_last("x"), x="A-B-C") == "C"
    assert _one(spark, strings.split_last(F.col("x")), x=None) is None


def test_strip_tokens_chained_literal_replace(spark):
    assert _one(spark, strings.strip_tokens("x"), x="12.5 USD") == "12.5 "
    assert _one(spark, strings.strip_tokens("x"), x="3.4EUR") == "3.4"
    assert _one(spark, strings.strip_tokens("x"), x="9.9") == "9.9"


def test_contains_any_null_is_false(spark):
    # pandas str.contains(na=False): NULL input -> False, not NULL
    assert _one(spark, strings.contains_any(F.col("x")), x=None) is False
    assert _one(spark, strings.contains_any("x"), x="5 USD") is True
    assert _one(spark, strings.contains_any("x"), x="5") is False


def test_ends_with_null_is_false(spark):
    assert _one(spark, strings.ends_with(F.col("x"), "EUR"), x=None) is False
    assert _one(spark, strings.ends_with("x", "EUR"), x="5 EUR") is True


def test_cast_str_nan_quirk(spark):
    # pandas astype(str) turns NaN into 'nan' (golden: Product='NAN')
    assert _one(spark, strings.upper(strings.cast_str_nan(F.col("x"))), x=None) == "NAN"


def test_normalize_currency_decimal_half_even_tie(spark):
    # 16577.10 * 0.85 = 14090.535 exactly: half-even at 2dp -> 14090.54
    v = _one(spark, numeric.normalize_currency("x"), x="16577.10 EUR")
    assert v == 14090.54
    # 77550.10 * 0.85 = 65917.585: half-even -> 65917.58 (8 even)
    v = _one(spark, numeric.normalize_currency("x"), x="77550.10 EUR")
    assert v == 65917.58


def test_normalize_currency_float_parity_matches_pandas(spark):
    # pandas: (16577.1*0.85).round(2) on binary doubles -> 14090.53
    v = _one(spark, numeric.normalize_currency("x", float_parity=True), x="16577.10 EUR")
    assert v == 14090.53


def test_normalize_currency_bare_and_garbage(spark):
    # bare numeric parses fine (the valid/invalid overlap, SURVEY 1.5)
    assert _one(spark, numeric.normalize_currency("x"), x="224.12") == 224.12
    # garbage -> NULL (engine cast-to-null semantic, ANSI-safe)
    assert _one(spark, numeric.normalize_currency("x"), x="12,34 USD") is None
    assert _one(spark, numeric.normalize_currency("x"), x="100 USD") == 100.0


def test_any_null_predicate(spark):
    df = spark.createDataFrame(
        [("a", 1), ("b", None), (None, 3)], ["x", "y"]
    )
    got = df.filter(nulls.any_null(["x", "y"])).count()
    assert got == 2


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [("k1", "2025-01-01", "first"), ("k1", "2025-02-01", "second"),
         ("k2", "2025-01-01", "only")],
        ["k", "ord", "tag"],
    )
    out = dedup.dedup_keep_first(df, ["k"], [F.col("ord").asc()])
    rows = {r["k"]: r["tag"] for r in out.collect()}
    assert rows == {"k1": "first", "k2": "only"}


def test_flag_dup_groups_marks_all_members(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",)], ["k"])
    out = dedup.rows_in_dup_groups(df, ["k"])
    assert out.count() == 2
    assert {r["k"] for r in out.collect()} == {"a"}


def test_union_by_name_null_fills_and_keeps_duplicates(spark):
    a = spark.createDataFrame([(1, "x"), (1, "x")], ["id", "name"])
    b = spark.createDataFrame([(2, 9)], ["id", "extra"])
    out = setops.union_by_name([a, b])
    assert set(out.columns) == {"id", "name", "extra"}
    rows = out.collect()
    assert len(rows) == 3  # duplicates preserved
    by_id = {r["id"]: r for r in rows}
    assert by_id[2]["name"] is None and by_id[1]["extra"] is None


def test_to_timestamp_coerce(spark):
    assert _one(spark, dates.to_timestamp_coerce(F.col("x")), x="not-a-date") is None
    v = _one(spark, dates.to_timestamp_coerce(F.col("x")), x="2025-03-01")
    assert v is not None and v.year == 2025


def test_to_timestamp_coerce_sniffs_mixed_formats_like_pandas(spark):
    """Default (no formats) chain == per-element pandas sniffing
    (reference main.py:92-93), including dateutil's month-first
    resolution of ambiguous numeric dates and its day-first fallback
    when the first field cannot be a month."""
    import pandas as pd

    inputs = [
        "2024-01-05",            # ISO
        "2024-01-05 10:30:00",   # ISO with time
        "01/15/2024",            # US month-first
        "15/01/2024",            # day>12 -> day-first fallback
        "05-01-2024",            # ambiguous -> month-first (May 1)
        "13-01-2024",            # day>12 -> day-first (Jan 13)
        "2024/06/07",            # y/m/d slashes
        "not-a-date",            # -> NULL / NaT
    ]
    df = spark.createDataFrame([(s,) for s in inputs], ["x"])
    got = {
        r["x"]: r["t"]
        for r in df.select("x", dates.to_timestamp_coerce("x").alias("t")).collect()
    }
    for s in inputs:
        # per-element pandas parse = true format sniffing (a single
        # list-call in pandas 2 requires format='mixed' for this data)
        e = pd.to_datetime(s, errors="coerce")
        if pd.isna(e):
            assert got[s] is None, s
        else:
            assert pd.Timestamp(got[s]) == e, f"{s}: spark={got[s]} pandas={e}"


def test_month_key_and_iso_date(spark):
    df = spark.createDataFrame([("2024-09-22",)], ["d"])
    out = df.select(
        dates.month_key(dates.to_timestamp_coerce("d")).alias("m"),
        dates.iso_date(dates.to_timestamp_coerce("d")).alias("i"),
    ).first()
    assert out["m"] == "09/2024" and out["i"] == "2024-09-22"


def test_bround_is_half_even(spark):
    df = spark.createDataFrame([(0.125,), (0.135,)], ["x"])
    vals = [r["v"] for r in df.select(numeric.bround2("x").alias("v")).collect()]
    assert vals == [0.12, 0.14]


# ---------------------------------------------------------------------------
# operators/scale.py: bucketed co-located joins + salted skew handling
# ---------------------------------------------------------------------------

from etl_sales_pandas_sqlserver_spark.operators.scale import (  # noqa: E402
    N_SALTS,
    bucketed_join,
    salted_agg_count,
    salted_join,
    write_bucketed,
)


def test_bucketed_join_skips_shuffle(spark):
    # tables land in the default warehouse dir (spark-warehouse/ in
    # cwd, gitignored); warehouse.dir is a static conf on a live session
    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    write_bucketed(left, "t_bleft", ["k"], 8)
    write_bucketed(right, "t_bright", ["k"], 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable auto-broadcast so the planner picks sort-merge (the
        # shape bucketing exists for -- two FACT tables; broadcast is
        # the right answer for these test-sized inputs otherwise)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = bucketed_join(spark, "t_bleft", "t_bright", ["k"])
        assert j.count() == 1000
        plan = j._jdf.queryExecution().executedPlan().toString()
        # matching bucketing on both sides -> no shuffle on either side
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bleft")
        spark.sql("DROP TABLE IF EXISTS t_bright")


def test_salted_join_equals_plain_join(spark):
    # skewed fact: 90% of rows share key 7
    fact = spark.range(0, 5000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7))
        .otherwise(F.col("id") % 100)
        .alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("w")
    )
    plain = fact.join(dim, "k").selectExpr("k", "v", "w")
    salted = salted_join(fact, dim, "k").selectExpr("k", "v", "w")
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salted_join_spreads_hot_key_across_salts(spark):
    """The skew-stress property behind salted_join: a hot key's rows
    must occupy (nearly) all salt sub-keys with no salt holding a
    dominant share -- otherwise the hot key still lands on one task and
    the mechanism is defeated. Also pins the dim-side fan-out contract:
    exactly N_SALTS replicas per dim row."""
    # 90% of fact rows share key 7, with varying non-key columns (the
    # salt hashes the full row, so a hot key spreads iff any column
    # varies -- the documented contract)
    fact = spark.range(0, 20000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7))
        .otherwise(F.col("id") % 100)
        .alias("k"),
        F.col("id").alias("v"),
    )
    salted = fact.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(N_SALTS)),
    )
    dist = {
        r["_salt"]: r["cnt"]
        for r in salted.filter(F.col("k") == 7)
        .groupBy("_salt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    hot_total = sum(dist.values())
    assert hot_total == 18000
    assert len(dist) == N_SALTS, f"hot key occupies only salts {sorted(dist)}"
    # no salt should hold more than 2x its fair share
    assert max(dist.values()) < 2 * hot_total / N_SALTS, dist
    # dim side: explode replicates every row exactly N_SALTS times
    dim = spark.range(0, 100).select(F.col("id").alias("k"))
    dim_salted = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALTS)]))
    )
    assert dim_salted.count() == 100 * N_SALTS


def test_salted_agg_count_equals_groupby(spark):
    df = spark.range(0, 10000).select(
        F.when(F.col("id") % 5 < 4, F.lit("hot"))
        .otherwise((F.col("id") % 50).cast("string"))
        .alias("k")
    )
    direct = {
        (r["k"], r["cnt"])
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    salted = {(r["k"], r["n"]) for r in salted_agg_count(df, "k").collect()}
    assert direct == salted


def test_chunked_lookback_window_equals_global_window(spark):
    """chunked_lookback_window must be row-for-row identical to the
    plain per-key RANGE window, including rows exactly ON chunk
    boundaries, in the replay band, with duplicate timestamps (range
    peers), and with frames reaching across a boundary."""
    from pyspark.sql import Window

    from etl_sales_pandas_sqlserver_spark.operators.scale import (
        chunked_lookback_window,
    )

    L, C = 100, 300  # lookback 100, chunk 300 -> replay band [200, 300)
    rows = [
        # key "a": dense run crossing two chunk boundaries
        *[Row(k="a", tsu=t, rid=i) for i, t in enumerate(
            [0, 50, 99, 100, 199, 200, 250, 299, 300, 301, 350, 399,
             400, 550, 599, 600, 650, 899, 900]
        )],
        # duplicate timestamps straddling the replay band (peers)
        Row(k="a", tsu=299, rid=100),
        Row(k="a", tsu=300, rid=101),
        # key "b": sparse, frames never span a boundary
        Row(k="b", tsu=10, rid=200),
        Row(k="b", tsu=610, rid=201),
    ]
    df = spark.createDataFrame(rows)
    build = lambda w: F.sum("tsu").over(w) + F.count(F.lit(1)).over(w)
    wg = Window.partitionBy("k").orderBy("tsu").rangeBetween(
        -L, Window.currentRow
    )
    expected = {
        (r.k, r.rid, r.agg)
        for r in df.withColumn("agg", build(wg)).collect()
    }
    got = {
        (r.k, r.rid, r.agg)
        for r in chunked_lookback_window(
            df, "k", "tsu", build, lookback=L, chunk=C
        ).collect()
    }
    assert got == expected


def test_chunked_lookback_window_negative_timestamps(spark):
    """Regression (round-8 advice): chunk ids must use FLOOR division.
    With truncate-toward-zero `div`, tsu in (-chunk, 0) lands in chunk
    0 instead of -1, and a sign-of-dividend `%` makes the replay test
    `tsu % chunk >= chunk - lookback` never fire for negative tsu, so
    frames crossing a boundary from below silently lose history."""
    from pyspark.sql import Window

    from etl_sales_pandas_sqlserver_spark.operators.scale import (
        chunked_lookback_window,
    )

    L, C = 100, 300
    # rows straddling every sign-sensitive boundary: the -300/0 chunk
    # edges, the replay band [-100, 0) of chunk -1, duplicates at a
    # negative boundary, and frames that reach from >=0 back below 0
    ts = [-900, -601, -600, -599, -301, -300, -299, -101, -100, -99,
          -50, -1, -1, 0, 1, 50, 99, 100, 299, 300]
    rows = [Row(k="a", tsu=t, rid=i) for i, t in enumerate(ts)]
    rows += [Row(k="b", tsu=-250, rid=100), Row(k="b", tsu=-150, rid=101)]
    df = spark.createDataFrame(rows)
    build = lambda w: F.sum("tsu").over(w) * 1000 + F.count(F.lit(1)).over(w)
    wg = Window.partitionBy("k").orderBy("tsu").rangeBetween(
        -L, Window.currentRow
    )
    expected = {
        (r.k, r.rid, r.agg)
        for r in df.withColumn("agg", build(wg)).collect()
    }
    got = {
        (r.k, r.rid, r.agg)
        for r in chunked_lookback_window(
            df, "k", "tsu", build, lookback=L, chunk=C
        ).collect()
    }
    assert got == expected


def test_hybrid_lookback_window_equals_global_both_routes(spark):
    """With the threshold set between the two keys' row counts, one
    key routes chunked and one plain -- the union must still equal the
    global per-key window row for row."""
    from pyspark.sql import Window

    from etl_sales_pandas_sqlserver_spark.operators.scale import (
        hybrid_lookback_window,
    )

    rows = [
        *[Row(k="hot", tsu=t * 37 % 1000, rid=i) for i, t in enumerate(range(40))],
        *[Row(k="cold", tsu=t * 101 % 1000, rid=100 + t) for t in range(5)],
    ]
    df = spark.createDataFrame(rows)
    build = lambda w: F.sum("tsu").over(w) * 1000 + F.count(F.lit(1)).over(w)
    wg = Window.partitionBy("k").orderBy("tsu").rangeBetween(
        -100, Window.currentRow
    )
    want = {
        (r.k, r.rid, r.agg)
        for r in df.withColumn("agg", build(wg)).collect()
    }
    got = {
        (r.k, r.rid, r.agg)
        for r in hybrid_lookback_window(
            df, "k", "tsu", build, lookback=100, chunk=300, hot_threshold=10
        ).collect()
    }
    assert got == want


def test_chunked_lookback_window_rejects_short_chunk(spark):
    import pytest

    from etl_sales_pandas_sqlserver_spark.operators.scale import (
        chunked_lookback_window,
    )

    df = spark.createDataFrame([Row(k="a", tsu=0)])
    with pytest.raises(ValueError):
        chunked_lookback_window(
            df, "k", "tsu", lambda w: F.count(F.lit(1)).over(w),
            lookback=100, chunk=50,
        )


# ---------------------------------------------------------------------------
# operators/quality.py: one-pass expectation suite
# ---------------------------------------------------------------------------

from etl_sales_pandas_sqlserver_spark.operators.quality import (  # noqa: E402
    expect_accepted_values,
    expect_min_max,
    expect_not_null,
    expect_row_count_between,
    expect_unique,
    run_expectations,
)
from etl_sales_pandas_sqlserver_spark.sources.testdata import load_table  # noqa: E402


def test_expectations_single_pass(spark, sf_small):
    orders = load_table(spark, sf_small, "orders")
    n = orders.count()
    res = run_expectations(
        orders,
        [
            expect_row_count_between(1, 10_000_000),
            expect_not_null("o_orderkey"),
            expect_unique("o_orderkey"),
            expect_accepted_values("o_orderstatus", ["F", "O", "P"]),
            expect_min_max("o_totalprice", 0.0, 1e9),
            # a failing check: order keys are NOT all equal to 1
            expect_accepted_values("o_orderkey", [1]),
        ],
    )
    assert res[f"row_count_between_1_10000000"]["ok"]
    assert res["row_count_between_1_10000000"]["value"] == n
    assert res["not_null_o_orderkey"]["ok"]
    assert res["unique_o_orderkey"]["ok"]
    assert res["accepted_values_o_orderstatus"]["ok"]
    assert res["range_o_totalprice"]["ok"]
    assert not res["accepted_values_o_orderkey"]["ok"]


def test_expectations_unique_ignores_nulls_and_rejects_dupe_names(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1,), (2,), (3,), (None,), (None,)], "x int"
    )
    res = run_expectations(df, [expect_unique("x")])
    assert res["unique_x"]["ok"]  # NULLs don't violate uniqueness
    dup = spark.createDataFrame([(1,), (1,)], "x int")
    assert not run_expectations(dup, [expect_unique("x")])["unique_x"]["ok"]
    with _pytest.raises(ValueError, match="duplicate expectation names"):
        run_expectations(
            df, [expect_min_max("x", 0, 1), expect_min_max("x", 0, 9)]
        )


def test_cluster_components_raises_on_nonconvergence(spark):
    import pytest as _pytest
    from etl_sales_pandas_sqlserver_spark.functions.dedup import (
        cluster_components,
    )

    # alternating-star halves a path's diameter per round, so a long
    # path given ONE round cannot finish; partial stars must raise,
    # never be returned as labels
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 300)], ["a_id", "b_id"]
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        cluster_components(path, max_rounds=1).collect()


def test_epoch_us_identical_for_ntz_and_ltz(spark):
    """epoch_us must yield the same microseconds for a naive timestamp
    whether the session read it as NTZ or LTZ, under any session tz --
    the TZ=America/New_York oracle sweep caught cast-based spellings
    shifting by the session offset."""
    from pyspark.sql import functions as F

    from etl_sales_pandas_sqlserver_spark.operators.dates import epoch_us

    ntz = spark.range(1).select(
        F.lit("2024-06-01 12:34:56.789012").cast("timestamp_ntz").alias("t")
    )
    ltz = spark.range(1).select(
        F.lit("2024-06-01 12:34:56.789012").cast("timestamp").alias("t")
    )
    expected = 1717245296789012  # 2024-06-01T12:34:56.789012 UTC
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got_ntz = ntz.select(epoch_us(ntz, "t").alias("us")).collect()[0].us
            # NTZ path is wall-clock arithmetic: identical under any tz
            assert got_ntz == expected, (tz, got_ntz)
        # LTZ literal parsed under UTC: instant-based epoch matches too
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        got_ltz = ltz.select(epoch_us(ltz, "t").alias("us")).collect()[0].us
        assert got_ltz == expected, got_ltz
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)

"""Property-based tests (hypothesis): the money-math and dedup-hash
invariants that golden fixtures can only spot-check. Each example is a
BATCH of generated values pushed through one Spark job, so the suite
stays fast while the generator explores tie-adjacent cents, negative
amounts, and garbage strings a hand-written fixture would miss.
"""

from __future__ import annotations

from decimal import ROUND_HALF_EVEN, Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_sales_pandas_sqlserver_spark.operators.numeric import (
    normalize_currency,
)

#: exact-cent amounts as strings, including the .xx25/.xx75 cases whose
#: *0.85 product lands exactly on a rounding tie (xx.5 cents)
_amounts = st.decimals(
    min_value=Decimal("-99999.99"),
    max_value=Decimal("99999.99"),
    places=2,
    allow_nan=False,
    allow_infinity=False,
)
_currency = st.sampled_from(["USD", "EUR", ""])


def _expected(amount: Decimal, cur: str) -> float:
    if cur == "EUR":
        exact = amount * Decimal("0.85")
        return float(exact.quantize(Decimal("0.01"), rounding=ROUND_HALF_EVEN))
    return float(amount)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(st.tuples(_amounts, _currency), min_size=1, max_size=64))
def test_normalize_currency_matches_decimal_reference(spark, batch):
    rows = [(f"{amt}{cur}",) for amt, cur in batch]
    df = spark.createDataFrame(rows, "raw string")
    got = [
        r["out"]
        for r in df.select(normalize_currency("raw").alias("out")).collect()
    ]
    want = [_expected(amt, cur) for amt, cur in batch]
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                codec="ascii", exclude_categories=["Cs", "Cc"]
            ),
            max_size=24,
        ),
        min_size=1,
        max_size=64,
    )
)
def test_garbage_amounts_null_never_throw(spark, batch):
    # ANSI is ON (Spark 4's default, kept by the engine session): try_cast
    # must hold for arbitrary garbage -- NULL, never an exception
    df = spark.createDataFrame([(s,) for s in batch], "raw string")
    out = df.select(normalize_currency("raw").alias("out")).collect()
    assert len(out) == len(batch)


# ---------------------------------------------------------------------------
# chunked_lookback_window: the chunked rewrite must equal the global
# per-key window on ARBITRARY timelines -- the generator explores
# boundary-adjacent timestamps, duplicate timestamps (range peers) and
# lookback/chunk geometries a fixed fixture can't cover.
# ---------------------------------------------------------------------------


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    # timestamps span NEGATIVE values too: chunk assignment must use
    # floor semantics (round-8 advice -- `div`/`%` truncate toward
    # zero, off-by-one chunk ids and never-firing replay below zero)
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(-2000, 2000)),
        min_size=1,
        max_size=80,
    ),
    st.integers(10, 200),
    st.integers(1, 4),
)
def test_chunked_window_equals_global_window_property(
    spark, rows, lookback, chunk_mult
):
    from pyspark.sql import Window

    from etl_sales_pandas_sqlserver_spark.operators.scale import (
        chunked_lookback_window,
    )

    chunk = lookback * chunk_mult
    df = spark.createDataFrame(
        [(f"k{k}", t, i) for i, (k, t) in enumerate(rows)],
        "k string, tsu long, rid long",
    )
    build = lambda w: (
        F.sum("tsu").over(w) * 1000 + F.count(F.lit(1)).over(w)
    )
    wg = Window.partitionBy("k").orderBy("tsu").rangeBetween(
        -lookback, Window.currentRow
    )
    want = {
        (r.k, r.rid, r.agg)
        for r in df.withColumn("agg", build(wg)).collect()
    }
    got = {
        (r.k, r.rid, r.agg)
        for r in chunked_lookback_window(
            df, "k", "tsu", build, lookback=lookback, chunk=chunk
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Codec round trips: encode->decode must be the identity for ARBITRARY
# pixel/sample content and geometry -- hypothesis explores stride
# padding (w % 4), 1-pixel edges, extreme byte values, odd data sizes.
# ---------------------------------------------------------------------------


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.integers(1, 40), st.integers(1, 20), st.integers(0, 2**32 - 1))
def test_bmp_roundtrip_property(w, h, seed):
    import numpy as np

    from etl_sales_pandas_sqlserver_spark.functions import multimodal

    rng = np.random.default_rng(seed)
    pixels = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    dw, dh, back = multimodal.decode_bmp(multimodal.encode_bmp(pixels))
    assert (dw, dh) == (w, h)
    assert np.array_equal(back, pixels)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.integers(1, 500),
    st.sampled_from([8000, 16000, 44100]),
    st.booleans(),
    st.integers(0, 2**32 - 1),
)
def test_wav_roundtrip_property(n, rate, sixteen_bit, seed):
    import numpy as np

    from etl_sales_pandas_sqlserver_spark.functions import multimodal

    rng = np.random.default_rng(seed)
    if sixteen_bit:
        samples = rng.integers(-32768, 32768, size=n, dtype=np.int64).astype(
            np.int16
        )
    else:
        samples = rng.integers(0, 256, size=n, dtype=np.int64).astype(np.uint8)
    got_rate, back = multimodal.decode_wav(
        multimodal.encode_wav(samples, rate)
    )
    assert got_rate == rate
    assert np.array_equal(back, samples)
    # integer-ratio resampling agrees with direct slicing / repetition
    down = multimodal.resample_audio(multimodal.encode_wav(samples, rate), rate // 2 if rate % 2 == 0 else rate)
    if rate % 2 == 0:
        assert np.array_equal(down, samples[::2])

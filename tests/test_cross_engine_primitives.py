"""Property tests for the cross-engine primitives the round-9 oracles
lean on, checked against Python ground truth through DuckDB alone (no
Spark session -- these guard the ORACLE side of the contract; the
Spark side is pinned by the driver-style parity suites).

1. _bytes_cte: to_hex(encode(text)) + hex-digit arithmetic must
   recover the exact UTF-8 byte values for ARBITRARY unicode text --
   the multimodal oracles' byte grain rests on it.
2. The k-means quantizer floor(CAST(x AS DOUBLE) * 2^20) must agree
   with Python's exact math for arbitrary float32 inputs (the product
   of a 24-bit mantissa and a power of two is exact in double, so
   floor is deterministic) -- every integer the k-means oracles hash
   descends from it.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from etl_sales_pandas_sqlserver_spark.functions.multimodal import _bytes_cte


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=60))
def test_bytes_cte_recovers_exact_utf8_bytes(con, s):
    con.execute("CREATE OR REPLACE TABLE documents AS SELECT 1 AS doc_id, ? AS text, 's' AS source", [s])
    got = con.execute(
        f"WITH {_bytes_cte('')} SELECT nb, bs FROM b"
    ).fetchone()
    want = list(s.encode("utf-8"))
    assert got[0] == len(want)
    assert list(got[1]) == want


@settings(max_examples=200, deadline=None)
@given(
    st.floats(
        width=32, allow_nan=False, allow_infinity=False, min_value=-1e6, max_value=1e6
    )
)
def test_kmeans_quantizer_matches_exact_math(con, x):
    import numpy as np

    from etl_sales_pandas_sqlserver_spark.functions.kmeans import _Q

    x32 = np.float32(x)
    got = con.execute(
        f"SELECT CAST(floor(CAST(CAST(? AS FLOAT) AS DOUBLE) * {_Q}.0) AS BIGINT)",
        [float(x32)],
    ).fetchone()[0]
    # ground truth: float32 -> exact Fraction, scale by 2^20, floor
    from fractions import Fraction

    want = math.floor(Fraction(float(x32)) * _Q)
    assert got == want, (x32, got, want)


# ---------------------------------------------------------------------------
# r13: the two PAIRED text spellings every oracle family leans on --
# the whitespace token count (functions/tokcount.py) and the dedup
# fingerprint key md5(lower(trim(regexp_replace(text,'\s+',' ')))).
# Both run through Spark AND DuckDB here (batched: one Spark job per
# hypothesis example), because the hazard is CROSS-ENGINE drift.
#
# Known divergences, excluded from the property and pinned exactly
# (each discovered by the probes below, each latent in the driver
# testdata and tripwired):
# - U+000B: Java \s includes it, RE2 does not (tokcount.py docstring,
#   tests/test_tokcount.py). r16: no longer excluded from the paired
#   property below -- the fingerprint spelling moved to the explicit
#   WS_CLASS. r17: the last \s+ sites (the textstats token split and
#   its paired batching/source_stats literals) flipped too -- NO
#   package token site carries this divergence anymore; the
#   enumerations stay as the engine-upgrade tripwire.
# - lower(): 71 codepoints where the JVM and utf8proc disagree --
#   U+0130 (Turkish dotted capital I: Java -> 'i'+U+0307, DuckDB ->
#   'i') plus 70 letters cased in newer Unicode versions than
#   DuckDB's utf8proc tables know (Latin Extended A7Cx/A7Dx/A7F5,
#   Cyrillic 1C89, Glagolitic 2C2F, Vithkuqi 105xx, Garay 10D5x) --
#   Java lowercases them, DuckDB passes them through.
# - trim(): DuckDB strips the WHOLE Zs space-separator category at
#   the edges (U+00A0 NBSP, U+1680, U+2000-200A, U+202F, U+205F,
#   U+3000); Spark strips only ASCII 0x20 -- a document edged with an
#   NBSP fingerprints (and, with an inner \s run adjacent, token-
#   counts) differently.
# The full-Unicode enumerations below pin the EXACT sets, so a
# pyspark or duckdb upgrade that shifts either engine's Unicode
# tables fails loudly here instead of as a driver hash mismatch.
# ---------------------------------------------------------------------------

#: every codepoint where Spark's lower() != DuckDB's lower(),
#: enumerated over the full Unicode range (r13)
_LOWER_DIVERGENT = (
    [0x0130, 0x1C89, 0x2C2F, 0xA7C0, 0xA7C7, 0xA7C9, 0xA7CB, 0xA7CC,
     0xA7D0, 0xA7D6, 0xA7D8, 0xA7DA, 0xA7DC, 0xA7F5]
    + [c for c in range(0x10570, 0x10596) if c not in (0x1057B, 0x1058B, 0x10593)]
    + list(range(0x10D50, 0x10D66))
)

#: every codepoint where Spark's trim() != DuckDB's trim() at string
#: edges: Unicode Zs minus ASCII space (r13)
_TRIM_DIVERGENT = [
    0x00A0, 0x1680, 0x2000, 0x2001, 0x2002, 0x2003, 0x2004, 0x2005,
    0x2006, 0x2007, 0x2008, 0x2009, 0x200A, 0x202F, 0x205F, 0x3000,
]

#: every codepoint where Spark's upper() != DuckDB's upper(): the JVM
#: applies FULL special-casing expansions (sharp-s -> 'SS', ligatures
#: -> letter pairs, Greek iota-subscript combinations) and newer
#: Unicode case additions; utf8proc applies simple one-to-one maps.
#: 172 codepoints, stored as inclusive ranges (r13). upper() touches
#: only the sales-ETL pair (ASCII by construction) -- pinned so an
#: accidental reuse of upper() in a document-text oracle pair gets a
#: reference list to check against.
_UPPER_DIVERGENT_RANGES = [
    (0xDF, 0xDF), (0x149, 0x149), (0x19B, 0x19B), (0x1F0, 0x1F0),
    (0x264, 0x264), (0x390, 0x390), (0x3B0, 0x3B0), (0x587, 0x587),
    (0x1C8A, 0x1C8A), (0x1E96, 0x1E9A), (0x1F50, 0x1F50),
    (0x1F52, 0x1F52), (0x1F54, 0x1F54), (0x1F56, 0x1F56),
    (0x1F80, 0x1FAF), (0x1FB2, 0x1FB4), (0x1FB6, 0x1FB7),
    (0x1FBC, 0x1FBC), (0x1FC2, 0x1FC4), (0x1FC6, 0x1FC7),
    (0x1FCC, 0x1FCC), (0x1FD2, 0x1FD3), (0x1FD6, 0x1FD7),
    (0x1FE2, 0x1FE4), (0x1FE6, 0x1FE7), (0x1FF2, 0x1FF4),
    (0x1FF6, 0x1FF7), (0x1FFC, 0x1FFC), (0x2C5F, 0x2C5F),
    (0xA7C1, 0xA7C1), (0xA7C8, 0xA7C8), (0xA7CA, 0xA7CA),
    (0xA7CD, 0xA7CD), (0xA7D1, 0xA7D1), (0xA7D7, 0xA7D7),
    (0xA7D9, 0xA7D9), (0xA7DB, 0xA7DB), (0xA7F6, 0xA7F6),
    (0xFB00, 0xFB06), (0xFB13, 0xFB17), (0x10597, 0x105A1),
    (0x105A3, 0x105B1), (0x105B3, 0x105B9), (0x105BB, 0x105BC),
    (0x10D70, 0x10D85),
]
_UPPER_DIVERGENT = [
    c for lo, hi in _UPPER_DIVERGENT_RANGES for c in range(lo, hi + 1)
]

#: r16: "\x0b" left the blacklist — the fingerprint spelling now
#: shares tokcount.WS_CLASS with the token count, so a vertical tab is
#: a non-whitespace character on BOTH engines and must agree here.
_CLEAN_TEXT = st.text(
    alphabet=st.characters(
        blacklist_characters=(
            [chr(c) for c in _LOWER_DIVERGENT + _TRIM_DIVERGENT]
        ),
        blacklist_categories=("Cs",),
    ),
    max_size=50,
)


@pytest.fixture(scope="module")
def spark_probe():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def test_testdata_documents_avoid_lower_and_trim_divergent_chars():
    """Tripwire (the no-\\x0B pattern, extended r16): the fingerprint
    spelling md5(lower(trim(regexp_replace(text, WS_CLASS, ' '))))
    is now grain-unified, but lower() and trim() THEMSELVES still
    diverge on the pinned codepoint sets above (71 lower-divergent
    letters; Zs-minus-space at string edges). A driver-testdata
    regeneration that introduced any of those characters into
    documents.text would surface as a confusing fingerprint hash
    mismatch rather than a classified divergence — fire here first.
    (Stronger than strictly needed: a mid-string Zs char only
    diverges when it reaches an edge after whitespace collapse, but
    driver text has carried none anywhere at any sf, so the simple
    contains-check is the cheaper, earlier alarm.)"""
    import glob

    bad_chars = "".join(
        chr(c) for c in _LOWER_DIVERGENT + _TRIM_DIVERGENT
    )
    pattern = "[" + bad_chars + "]"
    dirs = sorted(glob.glob("/root/testdata/sf*"))
    assert dirs, "driver testdata missing"
    for d in dirs:
        n = duckdb.sql(
            "SELECT count(*) FROM read_parquet(?) "
            "WHERE regexp_matches(text, ?)",
            params=[f"{d}/documents.parquet", pattern],
        ).fetchone()[0]
        assert n == 0, (
            f"{d}: {n} documents contain lower()/trim()-divergent "
            "codepoints — the fingerprint family would hash-mismatch"
        )


def test_lower_divergent_codepoints_are_exactly_the_known_set(
    spark_probe, con
):
    """Full-Unicode enumeration: the set of codepoints where the two
    engines' lower() disagree must be EXACTLY the pinned list. An
    engine upgrade that grows or shrinks it fails here first."""
    from pyspark.sql import functions as F

    chars = [
        chr(c) for c in range(0x20, 0x110000) if not (0xD800 <= c <= 0xDFFF)
    ]
    sdf = spark_probe.createDataFrame([(c,) for c in chars], "t string")
    sl = [r[0] for r in sdf.select(F.lower("t")).collect()]
    dl = [
        r[0]
        for r in con.execute(
            "SELECT lower(t) FROM (SELECT unnest(?) AS t)", [chars]
        ).fetchall()
    ]
    diff = sorted(ord(c) for c, a, b in zip(chars, sl, dl) if a != b)
    assert diff == sorted(_LOWER_DIVERGENT)


@settings(max_examples=25, deadline=None)
@given(st.lists(_CLEAN_TEXT, min_size=1, max_size=40))
def test_token_and_fingerprint_spellings_agree_cross_engine(
    spark_probe, con, batch
):
    """Outside the pinned exclusions, the paired token-count and
    fingerprint spellings must agree on ARBITRARY unicode text."""
    from pyspark.sql import functions as F

    from etl_sales_pandas_sqlserver_spark.functions.tokcount import (
        N_TOKENS_SQL,
        fingerprint_col,
        fingerprint_sql,
        n_tokens_spark,
    )

    sdf = spark_probe.createDataFrame([(t,) for t in batch], "text string")
    srows = sdf.select(
        "text",
        n_tokens_spark().alias("n"),
        fingerprint_col().alias("fp"),
    ).collect()
    orows = con.execute(
        f"SELECT CAST({N_TOKENS_SQL} AS BIGINT) AS n, "
        f"{fingerprint_sql()} AS fp "
        f"FROM (SELECT unnest(?) AS text)",
        [[r.text for r in srows]],
    ).fetchall()
    for r, (on, ofp) in zip(srows, orows):
        assert r.n == on, (ascii(r.text), r.n, on)
        assert r.fp == ofp, (ascii(r.text), "fingerprint diverged")


def test_trim_divergent_codepoints_are_exactly_zs(spark_probe, con):
    """Full-Unicode enumeration for trim(): the divergent edge set
    must be exactly Zs minus ASCII space."""
    from pyspark.sql import functions as F

    chars = [
        chr(c) for c in range(0x20, 0x110000) if not (0xD800 <= c <= 0xDFFF)
    ]
    probes = [c + "a" + c for c in chars]
    sdf = spark_probe.createDataFrame([(p,) for p in probes], "t string")
    sl = [r[0] for r in sdf.select(F.trim("t")).collect()]
    dl = [
        r[0]
        for r in con.execute(
            "SELECT trim(t) FROM (SELECT unnest(?) AS t)", [probes]
        ).fetchall()
    ]
    diff = sorted(ord(p[0]) for p, a, b in zip(probes, sl, dl) if a != b)
    assert diff == sorted(_TRIM_DIVERGENT)


def test_split_divergence_is_exactly_vertical_tab(spark_probe, con):
    """Full-Unicode enumeration for the INTERIOR \\s+ split grain: the
    only character Java's \\s matches and RE2's does not is U+000B --
    the tokcount docstring's claim, now proven over every codepoint
    (controls included) rather than asserted from one example."""
    from pyspark.sql import functions as F

    chars = [
        chr(c)
        for c in range(0x01, 0x110000)
        if not (0xD800 <= c <= 0xDFFF)
    ]
    probes = ["a" + c + "b" for c in chars]
    sdf = spark_probe.createDataFrame([(p,) for p in probes], "t string")
    sl = [
        r[0]
        for r in sdf.select(F.size(F.split(F.col("t"), r"\s+"))).collect()
    ]
    dl = [
        r[0]
        for r in con.execute(
            r"SELECT len(regexp_split_to_array(t, '\s+')) "
            r"FROM (SELECT unnest(?) AS t)",
            [probes],
        ).fetchall()
    ]
    diff = [ord(p[1]) for p, a, b in zip(probes, sl, dl) if a != b]
    assert diff == [0x0B]


def test_upper_divergent_codepoints_are_exactly_the_known_set(
    spark_probe, con
):
    """Full-Unicode enumeration for upper(), mirroring the lower()
    pin."""
    from pyspark.sql import functions as F

    chars = [
        chr(c)
        for c in range(0x01, 0x110000)
        if not (0xD800 <= c <= 0xDFFF)
    ]
    sdf = spark_probe.createDataFrame([(c,) for c in chars], "t string")
    su = [r[0] for r in sdf.select(F.upper("t")).collect()]
    du = [
        r[0]
        for r in con.execute(
            "SELECT upper(t) FROM (SELECT unnest(?) AS t)", [chars]
        ).fetchall()
    ]
    diff = sorted(ord(c) for c, a, b in zip(chars, su, du) if a != b)
    assert diff == sorted(_UPPER_DIVERGENT)


def test_testdata_documents_avoid_divergent_codepoints():
    """Tripwire: the lower()/trim() divergences stay latent only while
    driver documents carry none of the pinned codepoints."""
    import glob

    c2 = duckdb.connect()
    pat = "[" + "".join(
        chr(c) for c in _LOWER_DIVERGENT + _TRIM_DIVERGENT
    ) + "]"
    dirs = sorted(glob.glob("/root/testdata/sf*"))
    assert dirs, "driver testdata missing"
    for d in dirs:
        bad = c2.execute(
            f"SELECT count(*) FROM '{d}/documents.parquet' "
            f"WHERE regexp_matches(text, ?)",
            [pat],
        ).fetchone()[0]
        assert bad == 0, f"{d}: {bad} docs with divergent codepoints"


def test_length_and_substr_agree_on_every_codepoint(spark_probe, con):
    """Affirmative full-Unicode enumeration: length() and substr()
    are codepoint-based in BOTH engines (no UTF-16 code-unit leakage
    on astral characters) -- zero divergent codepoints. Completes the
    text-primitive map: split (1 divergent char), trim (16), lower
    (71), upper (172), length/substr (0)."""
    from pyspark.sql import functions as F

    chars = [
        chr(c)
        for c in range(0x01, 0x110000)
        if not (0xD800 <= c <= 0xDFFF)
    ]
    probes = ["a" + c + "b" for c in chars]
    sdf = spark_probe.createDataFrame([(p,) for p in probes], "t string")
    rows = sdf.select(
        F.length("t").alias("n"), F.substring("t", 2, 1).alias("m")
    ).collect()
    orows = con.execute(
        "SELECT length(t), substr(t, 2, 1) FROM (SELECT unnest(?) AS t)",
        [probes],
    ).fetchall()
    bad = [
        ord(p[1])
        for p, r, (on, om) in zip(probes, rows, orows)
        if r.n != on or r.m != om
    ]
    assert bad == []


def test_explicit_ws_class_has_zero_divergence(spark_probe, con):
    """Full-Unicode enumeration for the r14 respell target: splitting
    on the explicit class ``[ \\t\\n\\f\\r]+`` (tokcount.WS_CLASS) agrees
    between Java regex (Spark) and RE2 (DuckDB) on EVERY codepoint --
    including U+000B, the one character the legacy ``\\s+`` grain
    diverges on. This is the proof that a site respelled to the class
    has no latent divergence left."""
    from pyspark.sql import functions as F

    from etl_sales_pandas_sqlserver_spark.functions.tokcount import WS_CLASS

    chars = [
        chr(c)
        for c in range(0x01, 0x110000)
        if not (0xD800 <= c <= 0xDFFF)
    ]
    probes = ["a" + c + "b" for c in chars]
    sdf = spark_probe.createDataFrame([(p,) for p in probes], "t string")
    sl = [
        r[0]
        for r in sdf.select(F.size(F.split(F.col("t"), WS_CLASS))).collect()
    ]
    dl = [
        r[0]
        for r in con.execute(
            f"SELECT len(regexp_split_to_array(t, '{WS_CLASS}')) "
            "FROM (SELECT unnest(?) AS t)",
            [probes],
        ).fetchall()
    ]
    diff = [ord(p[1]) for p, a, b in zip(probes, sl, dl) if a != b]
    assert diff == []


def test_default_window_null_ordering_diverges_asc_agrees_desc(
    spark_probe, con
):
    """The r14/r15 NULLS FIRST oracle-respell campaign rests on this
    asymmetry — pin it so an engine upgrade that changes either
    default fails loudly:

    - ASC (the default): Spark windows sort nulls FIRST, DuckDB
      LAST -> every oracle ORDER BY over a nullable ASC key must
      spell NULLS FIRST;
    - DESC: both engines sort nulls LAST -> no annotation needed
      (first_last_touch's `n_events DESC` leg relies on this).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(1, 10), (2, None), (3, 5)]
    sdf = spark_probe.createDataFrame(rows, "id int, k int")

    def spark_order(w):
        out = sdf.select("id", F.row_number().over(w).alias("rn")).collect()
        return [r.id for r in sorted(out, key=lambda r: r.rn)]

    def duck_order(order_by):
        got = con.execute(
            "SELECT id FROM (VALUES (1, 10), (2, NULL), (3, 5))"
            f" t(id, k) ORDER BY row_number() OVER (ORDER BY {order_by})"
        ).fetchall()
        return [r[0] for r in got]

    # ASC: divergent defaults (Spark nulls first, DuckDB nulls last)
    asc_spark = spark_order(Window.orderBy("k"))
    assert asc_spark == [2, 3, 1]
    assert duck_order("k") == [3, 1, 2]
    # ... and NULLS FIRST makes DuckDB match Spark's default exactly
    assert duck_order("k NULLS FIRST") == asc_spark

    # DESC: agreeing defaults (both nulls last)
    desc_spark = spark_order(Window.orderBy(F.col("k").desc()))
    assert desc_spark == [1, 3, 2]
    assert duck_order("k DESC") == desc_spark

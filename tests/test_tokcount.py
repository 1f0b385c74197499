"""Parity pins for the text-primitive twins of functions/tokcount.py:
each Spark column builder and its DuckDB fragment must agree on every
whitespace shape — multiple spaces, tabs, newlines, vertical tab,
unicode, empty and whitespace-only strings (the token count is 1 there
on both engines: the regex split of an empty trim result yields one
empty element), NULL and integer keys. The hostile-docs suites exercise
the twins through whole queries; these tests pin the fragments
themselves, and a source scan keeps every other module on them.
"""

from __future__ import annotations

import hashlib
import pathlib
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_sales_pandas_sqlserver_spark.functions.tokcount import (
    N_TOKENS_SQL,
    fingerprint_col,
    fingerprint_sql,
    md5_slice,
    md5_slice_sql,
    n_tokens_spark,
    space_split,
    space_split_sql,
    ws_split,
    ws_split_sql,
)

_CASES = [
    "one",
    "two words",
    "  leading and trailing  ",
    "tabs\tand\nnewlines\r\nmixed",
    "many     internal      spaces",
    "",
    "   ",
    "\t\n",
    "ünïcödé wörds  ここ に",
    "emoji 🙂 counts  as a token",
    "a",
]


def test_spark_and_duckdb_token_counts_agree(spark):
    sdf = spark.createDataFrame([(t,) for t in _CASES], ["text"])
    got = [
        r.n for r in sdf.select(n_tokens_spark().alias("n")).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            f"SELECT CAST({N_TOKENS_SQL} AS BIGINT) FROM (SELECT ? AS text)",
            [t],
        ).fetchone()[0]
        for t in _CASES
    ]
    con.close()
    assert got == want, list(zip(_CASES, got, want))


def test_vertical_tab_agrees_after_the_r14_respell(spark):
    """Flipped r14: the token grain splits on the explicit class
    (tokcount.WS_CLASS) now, so U+000B — formerly the one whitespace
    shape the engines disagreed on (Java \\s includes it, RE2 \\s does
    not) — counts IDENTICALLY: one token on both engines (\\x0B is not
    a separator under the class). If this ever fails, one engine's
    character-class semantics drifted."""
    text = "a\x0bb"
    sdf = spark.createDataFrame([(text,)], ["text"])
    spark_n = sdf.select(n_tokens_spark().alias("n")).collect()[0].n
    con = duckdb.connect()
    duck_n = con.execute(
        f"SELECT CAST({N_TOKENS_SQL} AS BIGINT) FROM (SELECT ? AS text)",
        [text],
    ).fetchone()[0]
    con.close()
    assert spark_n == 1 == duck_n


def test_testdata_contains_no_vertical_tab():
    """STOOD DOWN to a data-freshness check (r17): with every token
    split on WS_CLASS, the package has ZERO
    ``\\s`` token sites left, so no query diverges on U+000B anymore
    (the hostile vtab axis proves it corpus-wide). The check remains
    because \\x0B-free driver data is the documented precondition the
    vtab poison corpus (tests/test_hostile_docs_vtab.py,
    tools/hostile_sweep.py documents_vtab) is built against: if the
    driver ever regenerates testdata WITH vertical tabs, the hostile
    axis' green/mismatch classification needs re-deriving, and this
    fires with a clear message instead."""
    import os

    for sf in ("0.001", "0.01", "0.1"):
        path = f"/root/testdata/sf{sf}/documents.parquet"
        if not os.path.exists(path):
            continue
        n = duckdb.sql(
            "SELECT count(*) FROM read_parquet(?) "
            "WHERE text LIKE '%' || chr(11) || '%'",
            params=[path],
        ).fetchone()[0]
        assert n == 0, f"sf{sf}: {n} docs contain U+000B"


#: the hand spellings of the twins; only tokcount.py may contain them
_HAND_SPELLINGS = [
    "F.split(F.trim",
    "regexp_split_to_array(trim(",
    "md5(lower(trim(regexp_replace(",
    "'0x' || substr(md5(",
    "conv(substring(md5(",
    "strpos('0123456789abcdef'",
]


def test_all_consumers_bind_the_single_spelling():
    """Every module outside tokcount.py calls the twins instead of
    spelling a split, fingerprint or md5 hex slice by hand. Whitespace
    is collapsed first, so a spelling broken across lines matches too."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "etl_sales_pandas_sqlserver_spark"
    )
    found = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "tokcount.py":
            continue
        text = re.sub(r"\s+", " ", path.read_text())
        found += [
            (str(path.relative_to(pkg)), pat)
            for pat in _HAND_SPELLINGS
            if pat in text
        ]
    assert not found, found


def test_token_split_grain_is_pinned_hardcoded():
    """Hardcoded on purpose, same rationale as the fingerprint spelling
    pin in test_funnel: the pin must not follow tokcount.WS_CLASS
    automatically, or a WS_CLASS edit could silently move every token
    spelling at once without any test noticing the grain changed."""
    from etl_sales_pandas_sqlserver_spark.functions import tokcount

    assert tokcount.WS_CLASS == "[ \\t\\n\\f\\r]+"


_TWIN_ROWS = [
    "one",
    "two words",
    "  leading and trailing  ",
    "tabs\tand\nnewlines\r\nmixed",
    "many     internal      spaces",
    "vertical\x0btab a\x0bb",
    "form\x0cfeed",
    "",
    "   ",
    "\t\n",
    "ünïcödé wörds  ここ に",
    "emoji 🙂 counts  as a token",
    "MiXeD CaSe  Text",
    None,
    "0",
    "7",
    "-7",
    "123456789",
    "-9223372036854775808",
]

#: every (start, width) the engine slices md5 at
_MD5_SLICES = [(1, 4), (1, 8), (1, 10), (1, 14), (15, 14)]

_TWINS = {
    "ws_split": (ws_split, ws_split_sql),
    "ws_split_lower": (
        lambda c: ws_split(F.lower(c)),
        lambda e: ws_split_sql(f"lower({e})"),
    ),
    "n_tokens": (
        lambda c: n_tokens_spark(),
        lambda e: f"CAST({N_TOKENS_SQL} AS BIGINT)",
    ),
    "space_split": (space_split, space_split_sql),
    "space_split_trim_lower": (
        lambda c: space_split(F.trim(F.lower(c))),
        lambda e: space_split_sql(f"trim(lower({e}))"),
    ),
    "fingerprint": (lambda c: fingerprint_col(), fingerprint_sql),
    **{
        f"md5_slice_{start}_{width}": (
            lambda c, s=start, w=width: md5_slice(c, s, w),
            lambda e, s=start, w=width: md5_slice_sql(e, s, w),
        )
        for start, width in _MD5_SLICES
    },
}


@pytest.mark.parametrize(
    "twin,ansi",
    [
        pytest.param(t, ansi, id=t if ansi == "true" else f"{t}-ansi_off")
        for t in sorted(_TWINS)
        for ansi in ("true", "false")
    ],
)
def test_twin_sides_agree(spark, twin, ansi):
    """Both sides of each twin give the same value on the same rows,
    with ANSI mode on (Spark 4's default) and off (the engine session's
    setting, under which a bare ``size`` of a NULL array is -1)."""
    spark_side, sql_side = _TWINS[twin]
    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        sdf = spark.createDataFrame([(t,) for t in _TWIN_ROWS], "text string")
        got = [r.v for r in sdf.select(spark_side("text").alias("v")).collect()]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)
    con = duckdb.connect()
    want = [
        con.execute(
            f"SELECT {sql_side('text')} FROM (SELECT CAST(? AS VARCHAR) AS text)",
            [t],
        ).fetchone()[0]
        for t in _TWIN_ROWS
    ]
    con.close()
    assert got == want, [
        (ascii(t), g, w) for t, g, w in zip(_TWIN_ROWS, got, want) if g != w
    ]


@pytest.mark.parametrize("start,width", _MD5_SLICES)
def test_md5_slice_sql_reads_the_hex_digits(start, width):
    """The DuckDB side of the hex slice equals Python's reading of the
    same md5 hex digits, for every slice the engine uses."""
    rows = [t for t in _TWIN_ROWS if t is not None]
    con = duckdb.connect()
    got = [
        con.execute(
            f"SELECT {md5_slice_sql('?', start, width)}", [t]
        ).fetchone()[0]
        for t in rows
    ]
    con.close()
    want = [
        int(hashlib.md5(t.encode()).hexdigest()[start - 1 : start - 1 + width], 16)
        for t in rows
    ]
    assert got == want

"""The engine's text primitives, each spelled once per engine.

The text families (dedup, search, text stats, curation, budgets,
cards, streams) are oracle-checked: every Spark query is compared with
a DuckDB query over the same rows. That only holds if both engines
split, fingerprint and hash text identically, so each primitive here is
a TWIN: a Spark ``Column`` builder and the DuckDB SQL fragment that
renders the same value. Spark builders take a ``Column`` or a column
name; SQL builders take a SQL expression string. Callers that lower
text pass ``lower(text)`` (or ``F.lower("text")``) in.

1. **Token split** on the whitespace class ``WS_CLASS`` after trim:
   :func:`ws_split` / :func:`ws_split_sql`, and the token count built
   on it, :func:`n_tokens_spark` / :data:`N_TOKENS_SQL` (int64). An
   empty or whitespace-only text splits to one empty token on both
   engines. ``WS_CLASS`` is the set both regex dialects agree on: Java's
   ``\\s`` (Spark) includes U+000B where RE2's (DuckDB) does not, and
   the explicit class has zero divergence over every Unicode codepoint
   (tests/test_cross_engine_primitives.py::
   test_explicit_ws_class_has_zero_divergence).

   :func:`space_split` / :func:`space_split_sql` split on ONE space and
   do not trim: repeated spaces yield empty tokens. The BM25 search,
   bigram LM and LM-score oracles (functions/search.py, shared by
   functions/pruning.py), the paragraph-dup and text-diversity oracles
   (functions/paragraphs.py) and the quality-percentile oracle
   (functions/quality_calibration.py) count on this grain; folding it
   into ``WS_CLASS`` would change their results on such text.

2. **Content fingerprint**: md5 of the lowercased, trimmed text with
   every ``WS_CLASS`` run collapsed to one space --
   :func:`fingerprint_col` / :func:`fingerprint_sql`. The exact-dedup
   key of dedup, text stats, curation, source stats, cards, corpus
   diff and the funnel.

3. **md5 hex slice**: ``width`` hex digits of ``md5(expr)`` from
   1-based ``start``, read as an integer -- :func:`md5_slice` /
   :func:`md5_slice_sql`. Spark parses the digits with ``conv``,
   DuckDB casts a ``'0x'`` literal; both equal Python's
   ``int(hexdigest()[start - 1:start - 1 + width], 16)``. The result
   is INT for up to 7 digits (28 bits) and BIGINT up to 15 (60 bits).
   The sampling, split, mix, budget and release gates, the table
   checksum, the winnow hash and the simhash/bloom token hashes use it.

tests/test_tokcount.py evaluates every twin on both engines over the
same rows and scans the package for hand spellings of them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: The whitespace character SET (class interior) -- shared so a
#: negated class (e.g. textstats._RE_TOKEN's "non-whitespace token
#: char") spells the same five characters as the positive split class.
WS_CHARS = r" \t\n\f\r"

#: The explicit whitespace class, identical under Java regex (Spark)
#: and RE2 (DuckDB).
WS_CLASS = f"[{WS_CHARS}]+"


def ws_split(col: Column | str = "text") -> Column:
    """Tokens of ``col``: trim, then split on ``WS_CLASS``."""
    return F.split(F.trim(col), WS_CLASS)


def ws_split_sql(expr: str = "text") -> str:
    """DuckDB twin of :func:`ws_split`."""
    return f"regexp_split_to_array(trim({expr}), '{WS_CLASS}')"


N_TOKENS_SQL = f"len({ws_split_sql()})"


def n_tokens_spark() -> Column:
    """Whitespace token count of ``text`` as int64 -- the Spark twin of
    :data:`N_TOKENS_SQL`. ``array_size``, not ``size``: with ANSI off
    ``size`` of a NULL array is -1, where DuckDB's ``len`` is NULL."""
    return F.array_size(ws_split("text")).cast("long")


def space_split(col: Column | str) -> Column:
    """Tokens of ``col`` split on one space, untrimmed."""
    return F.split(col, " ")


def space_split_sql(expr: str) -> str:
    """DuckDB twin of :func:`space_split`."""
    return f"string_split({expr}, ' ')"


def fingerprint_col() -> Column:
    """md5 of lowercase, trimmed, whitespace-collapsed ``text``."""
    return F.md5(F.lower(F.trim(F.regexp_replace("text", WS_CLASS, " "))))


def fingerprint_sql(expr: str = "text") -> str:
    """DuckDB twin of :func:`fingerprint_col`."""
    return f"md5(lower(trim(regexp_replace({expr}, '{WS_CLASS}', ' ', 'g'))))"


def _slice_type(width: int) -> tuple[str, str]:
    """(Spark, DuckDB) signed integer type holding ``width`` <= 15 hex
    digits."""
    return ("int", "INTEGER") if width <= 7 else ("bigint", "BIGINT")


def md5_slice(col: Column | str, start: int, width: int) -> Column:
    """``width`` hex digits of ``md5(col)`` from ``start`` as an integer."""
    digits = F.substring(F.md5(col), start, width)
    return F.conv(digits, 16, 10).cast(_slice_type(width)[0])


def md5_slice_sql(expr: str, start: int, width: int) -> str:
    """DuckDB twin of :func:`md5_slice`."""
    return (
        f"CAST('0x' || substr(md5({expr}), {start}, {width})"
        f" AS {_slice_type(width)[1]})"
    )

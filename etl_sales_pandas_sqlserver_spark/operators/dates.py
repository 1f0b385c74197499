"""Date/time operators (SURVEY.md section 2.2: P10, P16).

``try_to_timestamp`` == pandas ``to_datetime(errors='coerce')`` (NULL on
failure, no ANSI exception). The reference accepts mixed formats via
pandas' format sniffing (main.py:92-93); the engine's coercing parse
tries the default parser, then a fixed pandas-like format chain, and
coalesces the first success.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


#: default sniffing chain, mirroring what pandas/dateutil accept
#: per-element (reference main.py:92-93 passes no format). ORDER IS
#: SEMANTICS: dateutil resolves ambiguous numeric dates month-first
#: ('05-01-2024' -> May 1) and only falls back to day-first when the
#: first field cannot be a month ('13-01-2024' -> Jan 13), so the
#: month-first patterns must precede their day-first twins here.
_DEFAULT_FORMATS: tuple[str, ...] = (
    "MM/dd/yyyy",
    "dd/MM/yyyy",
    "MM-dd-yyyy",
    "dd-MM-yyyy",
    "yyyy/MM/dd",
)


def to_timestamp_coerce(col: Column | str) -> Column:
    """P10 -- coercing multi-format timestamp parse (reference
    main.py:92-93: ``pd.to_datetime(col, errors='coerce')`` sniffs the
    format per element). The default parser is tried first, then the
    pandas-like ``_DEFAULT_FORMATS``; the chain is coalesced in order,
    so each ROW takes the first format that parses, exactly like
    per-element sniffing. Unparseable -> NULL, never an ANSI error."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(
        F.try_to_timestamp(c),
        *[F.try_to_timestamp(c, F.lit(f)) for f in _DEFAULT_FORMATS],
    )


def month_key(col: Column | str) -> Column:
    """P16 -- ``dt.strftime('%m/%Y')`` month key (reference main.py:164).
    NOTE the reference then sorts this LEXICOGRAPHICALLY ('01/2024' <
    '01/2025' < '02/2024') -- chronologically wrong but golden-accurate
    (SURVEY.md A2); callers that want chronological order should sort by
    a real date column instead."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "MM/yyyy")


def iso_date(col: Column | str) -> Column:
    """P16 sink variant -- ``dt.strftime('%Y-%m-%d')`` (reference
    main.py:209)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd")


def epoch_us(df: "DataFrame", col: str) -> Column:
    """Epoch microseconds of a parquet timestamp column, independent of
    the session timezone AND of how the session read the column.

    The testdata stores naive ``timestamp[us]``; a Spark 4 session (the
    engine's and the driver's) infers TIMESTAMP_NTZ, while a declared
    schema (``load_table``'s ``events.ts``) or a caller's session with
    NTZ inference off reads TIMESTAMP (LTZ). ``unix_micros`` on LTZ is
    instant-based (timezone-free), but NTZ first needs a cast -- and
    ``cast("timestamp")`` interprets the naive value in the SESSION
    timezone, silently shifting epoch outputs on any non-UTC host
    (caught by a full oracle run under TZ=America/New_York). For NTZ
    the timezone-free spelling is pure datetime arithmetic against the
    NTZ epoch literal.
    """
    from pyspark.sql import types as T

    if isinstance(df.schema[col].dataType, T.TimestampNTZType):
        return F.expr(
            "timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ'1970-01-01 00:00:00', `{col}`)"
        )
    return F.unix_micros(F.col(col))

"""String operators (SURVEY.md section 2.2: P1, P3, P4, P5, P11, P13, P14).

All pure Column -> Column expressions: JVM-side, whole-stage-codegen
friendly, no UDFs. Each cites the reference behavior it reproduces.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def upper(col: Column | str) -> Column:
    """P1 -- ``Series.str.upper()`` (reference main.py:59,67,112-113).
    pandas' str accessor propagates NaN; F.upper propagates NULL. Same."""
    return F.upper(F.col(col) if isinstance(col, str) else col)


def trim(col: Column | str) -> Column:
    """P3 -- ``str.strip()`` (reference main.py:67)."""
    return F.trim(F.col(col) if isinstance(col, str) else col)


def split_last(col: Column | str, sep: str = "-") -> Column:
    """P4 -- ``str.split(sep).str[-1]``: token after the LAST separator,
    the whole string when the separator is absent (reference main.py:67,
    main.py:113). ``element_at(..., -1)`` indexes from the end, matching
    pandas ``[-1]`` for both cases; NULL in -> NULL out."""
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(F.split(c, sep), -1)


def strip_tokens(col: Column | str) -> Column:
    """P5 -- chained literal ``str.replace(tok, '')`` stripping the
    currency markers 'USD' then 'EUR' (reference main.py:77). Literal
    (non-regex) replace, applied in order, exactly like the pandas
    chain."""
    c = F.col(col) if isinstance(col, str) else col
    for tok in ("USD", "EUR"):
        c = F.replace(c, F.lit(tok), F.lit(""))
    return c


def contains_any(col: Column | str, pattern: str = "USD|EUR") -> Column:
    """P13 -- ``str.contains(pat, na=False)`` (reference main.py:127-129).
    ``rlike`` yields NULL for NULL input; coalesce to False == na=False."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.rlike(pattern), F.lit(False))


def ends_with(col: Column | str, suffix: str) -> Column:
    """P14 -- ``str.endswith(suffix, na=False)`` (reference main.py:81)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.endswith(suffix), F.lit(False))


def cast_str_nan(col: Column | str) -> Column:
    """P11 golden-parity variant -- pandas ``astype(str)`` turns NaN into
    the literal string ``'nan'`` (uppercased to ``'NAN'`` downstream;
    visible in the reference goldens, e.g. Product='NAN' rows in
    Resultados/Ventas_Invalidas_M.csv). Spark keeps NULL through a
    string cast, so golden parity needs an explicit coalesce.

    plans.sales_etl.categorize_invalid_sales always applies it."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.cast("string"), F.lit("nan"))

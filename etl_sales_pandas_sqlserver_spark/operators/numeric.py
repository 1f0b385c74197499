"""Numeric operators (SURVEY.md section 2.2: P6, P7, P8).

ANSI-safe: Spark 4 enables ANSI mode by default, under which a plain
``cast('double')`` on garbage *throws*. The reference's pandas
``astype(float)`` also throws -- but its NaN-passthrough plus the
engine's fail-soft posture make null-on-error the documented engine
semantic (SURVEY.md section 2.2 P6), so every parse here uses
``try_cast``, which returns NULL on unparseable input in both ANSI
modes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .strings import ends_with, strip_tokens

#: EUR -> USD factor: reference code multiplies by 0.85 (main.py:81);
#: the inline comment says 1.12 but the code wins (SURVEY.md P7).
EUR_TO_USD = 0.85


def to_double(col: Column | str) -> Column:
    """P6 -- string -> double, NULL on failure (engine semantic for
    pandas ``astype(float)``, reference main.py:79)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("double")


def bround2(col: Column | str) -> Column:
    """P8 -- pandas ``Series.round(2)`` rounds HALF-TO-EVEN (banker's;
    verified empirically per SURVEY.md P8). Spark's ``F.round`` is
    half-up; ``F.bround`` is half-even. Use bround."""
    c = F.col(col) if isinstance(col, str) else col
    return F.bround(c, 2)


def normalize_currency(raw: Column | str, float_parity: bool = False) -> Column:
    """P5+P6+P7+P8 fused -- the reference's Amount repair
    (main.py:75-83): strip 'USD'/'EUR' tokens, parse, multiply by 0.85
    when the ORIGINAL string ends with 'EUR', round half-even to 2
    decimals.

    One Column expression -> stays inside whole-stage codegen; no
    intermediate columns to drop (the reference allocates and drops a
    helper column, main.py:77/:87).

    Engine default computes in DECIMAL: exact, associative,
    executor-order independent -- the correct money semantics at scale,
    and reproducible against any exact-arithmetic oracle. The rounding
    tie 'price*0.85 ends in .xx50' hits ~5% of EUR rows, where float
    multiply can land one ulp off the exact product and flip the
    rounded cent; decimals make that deterministic.

    ``float_parity=True`` reproduces the reference's float pipeline
    (pandas astype(float) -> *0.85 -> round(2) on binary doubles,
    main.py:79-83) for golden-file comparison."""
    c = F.col(raw) if isinstance(raw, str) else raw
    stripped = strip_tokens(c)
    if float_parity:
        amount = to_double(stripped)
        amount = F.when(ends_with(c, "EUR"), amount * F.lit(EUR_TO_USD)).otherwise(
            amount
        )
        return bround2(amount)
    amt = stripped.try_cast("decimal(18,2)")
    eur = bround2(amt * F.lit(str(EUR_TO_USD)).cast("decimal(3,2)"))
    return (
        F.when(ends_with(c, "EUR"), eur).otherwise(amt).cast("double")
    )

"""Single-pass data-quality expectations -- the dbt-test / Great
Expectations surface an ETL pipeline bolts onto its sinks, expressed
as ONE Spark aggregation job regardless of how many checks run.

Every check compiles to an aggregate expression; ``run_expectations``
collects them in a single ``agg()`` so a 100 TB table is scanned once
for the whole suite (columnar scan reads only referenced columns).
Results come back as plain dicts so callers can log/raise as policy
dictates -- the library never swallows failures (SURVEY.md section 2.7:
the engine fails loudly by design).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    name: str
    agg: Column  # aggregate expression producing the measured value
    ok: "callable"  # measured value -> bool


def expect_row_count_between(lo: int, hi: int) -> Expectation:
    return Expectation(
        f"row_count_between_{lo}_{hi}",
        F.count(F.lit(1)),
        lambda v: lo <= v <= hi,
    )


def expect_not_null(col: str) -> Expectation:
    frac = F.avg(F.col(col).isNull().cast("double"))
    return Expectation(
        f"not_null_{col}",
        frac,
        lambda v: (v or 0.0) == 0.0,
    )


def expect_unique(col: str) -> Expectation:
    # distinct == non-null count -> unique. count(col) (not count(*))
    # so NULLs are ignored, matching SQL UNIQUE / dbt `unique`
    # semantics; one extra hash-distinct inside the same agg (Spark
    # plans count+count_distinct in one pass via Expand)
    return Expectation(
        f"unique_{col}",
        F.count(F.col(col)) - F.count_distinct(F.col(col)),
        lambda v: v == 0,
    )


def expect_accepted_values(col: str, values: list[Any]) -> Expectation:
    bad = F.sum(
        (~F.col(col).isin(values) & F.col(col).isNotNull()).cast("long")
    )
    return Expectation(
        f"accepted_values_{col}",
        bad,
        lambda v: (v or 0) == 0,
    )


def expect_min_max(col: str, lo: float, hi: float) -> Expectation:
    viol = F.sum(
        ((F.col(col) < lo) | (F.col(col) > hi)).cast("long")
    )
    return Expectation(
        f"range_{col}",
        viol,
        lambda v: (v or 0) == 0,
    )


def run_expectations(
    df: DataFrame, expectations: list[Expectation]
) -> dict[str, dict[str, Any]]:
    """Evaluate every expectation in ONE aggregation job. Returns
    ``{name: {"value": measured, "ok": bool}}``. Names must be unique
    -- the result is keyed by name, and silently dropping a duplicate
    could mask a failing check."""
    names = [e.name for e in expectations]
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        raise ValueError(
            f"duplicate expectation names {sorted(dupes)}: two checks "
            "of one kind on one column would share a result key"
        )
    row = df.agg(
        *[e.agg.alias(f"_e{i}") for i, e in enumerate(expectations)]
    ).collect()[0]
    return {
        e.name: {"value": row[f"_e{i}"], "ok": e.ok(row[f"_e{i}"])}
        for i, e in enumerate(expectations)
    }

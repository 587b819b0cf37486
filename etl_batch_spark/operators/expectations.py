"""Declarative data-quality expectations, evaluated in ONE scan.

The reference's only data-validation machinery is `func_check_date`'s
return codes and fail-closed admission checks (SURVEY.md §2.B2, §2.C-I5)
— row-level content validation is absent.  An ETL engine replacing it
needs the dbt-test / Great-Expectations-style rule surface: declare
(rule, predicate) pairs, get back one violation count per rule.

Shape: every row-local rule becomes a conditional SUM in a single
global aggregate; uniqueness rules ride the same aggregate as
``COUNT(col) - COUNT(DISTINCT col)`` (Spark plans the mixed
distinct/non-distinct aggregate with one Expand — still one scan of
the table).  The one-row wide result is unpivoted driver-free via
``stack``.  At 100 TB this is a map-side-combined scan: no shuffle
carries more than one row per partition per rule.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """A named expectation; ``violated`` is true on rows that break it."""

    name: str
    violated: Column


def not_null(col: str) -> Rule:
    return Rule(f"not_null({col})", F.col(col).isNull())


def in_range(col: str, lo: float | None = None, hi: float | None = None) -> Rule:
    c = F.col(col)
    bad = F.lit(False)
    if lo is not None:
        bad = bad | (c < lo)
    if hi is not None:
        bad = bad | (c > hi)
    return Rule(f"in_range({col})", c.isNotNull() & bad)


def in_set(col: str, values: Sequence[str]) -> Rule:
    return Rule(f"in_set({col})", F.col(col).isNotNull() & ~F.col(col).isin(list(values)))


def matches(col: str, regex: str) -> Rule:
    return Rule(f"matches({col})", F.col(col).isNotNull() & ~F.col(col).rlike(regex))


def evaluate(df: DataFrame, rules: Sequence[Rule], *, unique: Sequence[str] = ()) -> DataFrame:
    """→ (rule string, violations long), one row per rule; single scan.

    ``unique`` columns add `unique(col)` rules counting surplus
    duplicate rows (0 when the column is key-like; nulls don't count).
    """
    aggs = [F.sum(r.violated.cast("long")).alias(f"r{i}") for i, r in enumerate(rules)]
    names = [r.name for r in rules]
    for col in unique:
        aggs.append((F.count(col) - F.countDistinct(col)).alias(f"r{len(aggs)}"))
        names.append(f"unique({col})")
    if not aggs:
        raise ValueError("no rules given")
    wide = df.agg(*aggs)
    # rule names are DATA, not SQL: escape quotes so a name like
    # "not_null(o'brien_id)" can't break the stack() parse (or smuggle
    # expression text into it)
    pairs = ", ".join(
        "'{}', coalesce(r{}, 0L)".format(n.replace("'", "''"), i)
        for i, n in enumerate(names)
    )
    return wide.selectExpr(f"stack({len(names)}, {pairs}) AS (rule, violations)")



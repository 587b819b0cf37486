"""General as-of join — pandas ``merge_asof`` semantics on Spark, at
shuffle-linear cost.

``asof_join(left, right, on=ts, by=keys)`` matches each left row to the
nearest right row per key: ``backward`` (latest right ≤ left, the quote
lookup), ``forward`` (earliest right ≥ left), or ``nearest``; an
optional ``tolerance_s`` (seconds) discards matches farther than the
bound.  Exact matches count (the comparison is inclusive); matched
right columns come back suffixed ``_right``.

Shape: union both inputs tagged by side, then windows over (keys, time)
— a single shuffle regardless of direction (``nearest`` adds a second
sort on the same exchange, not a second shuffle), never an inequality
join (which Catalyst can only plan as a nested loop and which explodes
on dense keys).  This is the q22 formulation promoted to an operator:
any (fact, slowly-ticking reference) pair — trades×quotes,
events×deploys, orders×price-lists — joins at the cost of sorts within
each key partition.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    by: Sequence[str] = (),
    direction: str = "backward",
    tolerance_s: float | None = None,
    right_value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Left rows + matched right value columns (null when no match).

    ``on`` must be a timestamp column present on both sides; ``by`` the
    equality keys.  ``right_value_cols`` defaults to every right column
    except ``on``/``by``.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction {direction!r}")
    by = list(by)
    # `is not None`, not truthiness: an explicit [] means "no value
    # columns, existence only" and must not fall back to every column
    src = right.columns if right_value_cols is None else right_value_cols
    vals = [c for c in src if c not in {on, *by}]

    l = left.withColumn("_side", F.lit(1))
    # a right row without a timestamp cannot sit on the timeline — it
    # would sort ahead of every real row (Spark orders NULLs first) and
    # pollute the frame as a bogus "earliest" match.  Left rows with a
    # NULL `on` are KEPT and simply match nothing (their frame precedes
    # every right row), preserving left-join cardinality — the same
    # outcome as DuckDB ASOF LEFT JOIN, where a NULL comparison never
    # satisfies the inequality.
    r = right.filter(F.col(on).isNotNull()).select(
        *by,
        F.col(on),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_rv_{c}") for c in vals],
    )
    u = l.unionByName(r, allowMissingColumns=True)

    # exact matches are an ORDERING question, not a frame question: with
    # right rows (side 0) sorted before coincident left rows, an equal-ts
    # right row falls inside the up-to-current frame (inclusive match).
    # A -1 frame end would only skip one row, not every coincident one.
    tie = F.col("_side").asc()

    def matched(dirn: str) -> Column:
        # forward direction flips the time axis and reuses the same frame.
        # The match is ONE struct per right row — never per value column:
        # a per-column last(..., ignorenulls) would skip past a matched
        # row whose value is legitimately NULL to an older row's value
        # (and could stitch different rows' columns together); the struct
        # is non-null for every right row, so the nearest ROW wins and
        # its fields come back as-is, NULLs included (merge_asof
        # semantics).
        t = F.col(on) if dirn == "backward" else -F.unix_micros(F.col(on))
        w = (
            W.partitionBy(*by)
            .orderBy(t, tie)
            .rowsBetween(W.unboundedPreceding, 0)
        )
        payload = F.when(
            F.col("_side") == 0,
            F.struct(
                F.col(on).alias("__on"),
                *[F.col(f"_rv_{c}").alias(c) for c in vals],
            ),
        )
        return F.last(payload, ignorenulls=True).over(w)

    dirs = ("backward", "forward") if direction == "nearest" else (direction,)
    out = u
    for d in dirs:
        out = out.withColumn(f"_m_{d}", matched(d))
    out = out.filter(F.col("_side") == 1).drop("_side", *[f"_rv_{c}" for c in vals])

    if direction == "nearest":
        bgap = F.abs(F.unix_micros(F.col(on)) - F.unix_micros(F.col("_m_backward.__on")))
        fgap = F.abs(F.unix_micros(F.col(on)) - F.unix_micros(F.col("_m_forward.__on")))
        use_fwd = F.col("_m_backward").isNull() | (
            F.col("_m_forward").isNotNull() & (fgap < bgap)
        )
        out = out.withColumn(
            "_m", F.when(use_fwd, F.col("_m_forward")).otherwise(F.col("_m_backward"))
        ).drop("_m_backward", "_m_forward")
    else:
        out = out.withColumnRenamed(f"_m_{dirs[0]}", "_m")

    keep = F.col("_m").isNotNull()
    if tolerance_s is not None:
        gap = (
            F.abs(F.unix_micros(F.col(on)) - F.unix_micros(F.col("_m.__on"))) / 1e6
        )
        keep = keep & (gap <= tolerance_s)
    out = out.withColumn(f"{on}_right", F.when(keep, F.col("_m.__on")))
    for c in vals:
        out = out.withColumn(f"{c}_right", F.when(keep, F.col(f"_m.{c}")))
    return out.drop("_m")

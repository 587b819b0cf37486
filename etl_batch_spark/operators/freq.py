"""Exact frequent items at scale: Misra–Gries candidates + recount.

The naive plan for "every key with frequency ≥ φ·N" is
``groupBy(key).count().filter(...)`` — one shuffle whose width is the
number of DISTINCT keys.  For vocabulary mining over 100 TB of text that
distinct count is itself enormous, and almost all of it is tail keys
that cannot possibly pass the support threshold.

The classic two-pass fix (Misra & Gries 1982; merge rule from Agarwal
et al., "Mergeable Summaries", PODS 2012):

1. **Candidates** — each partition keeps a Misra–Gries summary of
   capacity ``k``: per-batch exact ``value_counts`` merged into the
   summary, then pruned back to ``k`` keys by subtracting the
   (k+1)-largest counter and dropping non-positives (the mergeable-
   summaries rule; equivalent to that many decrement-all rounds).  The
   summary guarantees ``counter(x) ≥ freq_p(x) − n_p/(k+1)``, so with
   ``k + 1 > 1/φ`` every key with partition share ≥ φ survives; by
   weighted pigeonhole every global-φ-heavy key is φ-heavy in at least
   one partition ⇒ the candidate union is a SUPERSET of the true answer.
   Output size is ≤ k rows per partition — tiny, broadcastable.
2. **Recount** — a broadcast semi join keeps only candidate keys, and an
   exact count + threshold filter removes the false candidates.

Net: the wide shuffle over all distinct keys is replaced by a broadcast
filter plus a count over ≤ #partitions·k keys.  The result is EXACT (the
sketch only ever proposes, never decides), so it oracle-checks against a
plain GROUP BY ... HAVING.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def mg_candidates(df: DataFrame, key_col: str, support: float) -> DataFrame:
    """Per-partition Misra–Gries candidate keys for ``support`` = φ.

    Returns one row per surviving counter: ``(mg_key, mg_count, mg_rows)``
    with ``mg_rows`` the partition's total non-null row count (same value
    on every row of a partition's summary — it bounds the summary's
    undercount, ``freq_p(x) − mg_count(x) ≤ mg_rows/(cap+1)``, which the
    property tests assert) — plus ONE ``mg_key IS NULL`` row per
    partition carrying that partition's total, so downstream consumers
    recover N without re-scanning the input.  NULL input keys are
    ignored (SQL grouping of the recount pass could not equi-match them
    anyway).
    """
    if not 0.0 < support < 1.0:
        raise ValueError(f"support must be in (0, 1), got {support}")
    # k+1 > 1/φ guarantees survival; +1 more removes the boundary case
    # where a key sits exactly at the error bound.
    cap = math.ceil(1.0 / support) + 1

    key_field = df.schema[key_col]
    out_schema = T.StructType(
        [
            T.StructField("mg_key", key_field.dataType, True),
            T.StructField("mg_count", T.LongType(), False),
            T.StructField("mg_rows", T.LongType(), False),
        ]
    )

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: "pd.Series | None" = None
        n_rows = 0
        for pdf in batches:
            s = pdf[key_col].dropna()
            n_rows += len(s)
            vc = s.value_counts()  # exact MG summary of the batch
            acc = vc if acc is None else acc.add(vc, fill_value=0)
            if len(acc) > cap:
                # mergeable-summaries prune: subtract the (cap+1)-largest
                # counter from all, keep strictly positive ⇒ ≤ cap keys
                pivot = acc.nlargest(cap + 1).iloc[-1]
                acc = acc - pivot
                acc = acc[acc > 0]
        if acc is None:
            return
        yield pd.DataFrame(
            {
                "mg_key": list(acc.index) + [None],
                "mg_count": list(acc.astype("int64").values) + [n_rows],
                "mg_rows": n_rows,
            }
        )

    return df.select(key_col).mapInPandas(summarize, out_schema)


def frequent_items(df: DataFrame, key_col: str, support: float) -> DataFrame:
    """All keys with exact frequency ≥ ``ceil(support · N)`` (N = non-null
    rows), as ``(key_col, n, threshold)`` — exact output, sketch-pruned
    plan (see module docstring)."""
    # Materialize the summaries (≤ #partitions·(cap+2) rows) once: they
    # feed two independent plan branches (N aggregate + candidate
    # distinct), and without this the expensive per-partition MG scan of
    # the full input would execute twice.
    summaries = mg_candidates(df, key_col, support).localCheckpoint(eager=True)
    # N = sum of the per-partition NULL-key total rows the MG pass
    # already emitted — no extra scan of the input
    n_total = summaries.filter(F.col("mg_key").isNull()).agg(
        F.coalesce(F.sum("mg_count"), F.lit(0)).alias("n_total")
    )

    candidates = (
        summaries.filter(F.col("mg_key").isNotNull())
        .select(F.col("mg_key").alias(key_col))
        .distinct()
    )
    exact = (
        df.join(F.broadcast(candidates), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        exact.crossJoin(F.broadcast(n_total))
        .withColumn("threshold", F.ceil(F.lit(support) * F.col("n_total")).cast("long"))
        .filter(F.col("n") >= F.col("threshold"))
        .drop("n_total")
    )

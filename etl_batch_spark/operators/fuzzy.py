"""Blocked fuzzy join — entity resolution at hash-join cost.

A naive fuzzy join (``levenshtein(a, b) <= k`` as the join condition)
is a cartesian product: Catalyst cannot hash an edit distance.  The
standard entity-resolution shape is *blocking*: derive a cheap
deterministic block key from each string (first token + coarse length
band), equi-join on the block key, then verify candidates with the
exact distance.  Cost: one shuffle per side on the block key; the
quadratic verify work is confined to within-block candidates.

Recall is bounded by the blocking function — a corruption that changes
the first token moves the record to another block and the pair is
missed.  Production pipelines run several blocking passes (first token,
last token, character n-gram) and union the candidates; this operator
is the first-token pass.

Reference analogue: none (the reference compares strings only with
exact ``UPPER(...)`` equality, body.sql:136); part of the engine's
§2.D entity-matching surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BLOCK = "__block"


def _block_key(text_col: str) -> Column:
    """First lowercase token + length band — cheap, order-independent."""
    first_tok = F.split(F.lower(F.trim(F.col(text_col))), "\\s+").getItem(0)
    band = F.floor(F.length(F.col(text_col)) / 8)
    return F.concat_ws("|", first_tok, band.cast("string"))


def blocked_fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_text: str,
    right_text: str,
    max_distance: int = 2,
) -> DataFrame:
    """(left row, right row, distance) for candidate pairs with
    ``levenshtein <= max_distance`` that share a block key.

    ``left`` and ``right`` must not share column names.  The block
    key's length band must be coarser than ``max_distance`` or true
    matches straddle band edges (8 vs 2 by default).
    """
    dup = set(left.columns) & set(right.columns)
    if dup:
        raise ValueError(f"overlapping columns: {sorted(dup)}; rename before joining")
    lb = left.withColumn(_BLOCK, _block_key(left_text))
    rb = right.withColumn(_BLOCK, _block_key(right_text))
    dist = F.levenshtein(F.col(left_text), F.col(right_text))
    return (
        lb.join(rb, _BLOCK)
        .filter(dist <= max_distance)
        .drop(_BLOCK)
        .withColumn("distance", dist)
    )

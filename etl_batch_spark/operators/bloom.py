"""Bloom-filter semi-join reduction — prune a huge fact table map-side.

The classic 100 TB shape: a fact table must be reduced to the rows whose
key appears in a dimension, but the dimension is too large to broadcast
row-for-row and a shuffled semi join would move the whole fact table.
A Bloom filter of the dimension's *key set* is tiny (~1.2 bytes/key at
1% false positives), ships to every task as a plan constant, and lets
the scan discard non-matching rows before any exchange.  Spark's own
AQE runtime filter does this implicitly for some plans; this operator
is the explicit, composable version with a controlled error budget.

Everything is JVM-side expression arithmetic (``xxhash64`` + bit math,
whole-stage-codegen'd):

- **build**: per key, ``NUM_HASHES`` positions ``pmod(xxhash64(key, i),
  num_bits)``; positions fold into a bitmap via ``explode`` →
  ``groupBy(word).bit_or(bit)`` — one partial-aggregated shuffle of at
  most ``num_bits/64`` longs per partition, then a driver collect that
  is bounded by ``num_bits`` (128 KiB at the 2^20 default), never by
  the dimension's row count.
- **probe**: the bitmap is a foldable array literal (ConstantFolding
  collapses it to a single ``Literal``), membership is ``NUM_HASHES``
  AND'ed bit tests — a scan-side Filter, no join node at all.

False positives pass the filter (tune ``num_bits``);
false negatives cannot happen.  ``bloom_semi_filter(..., exact=True)``
appends a real semi join on the *pruned* fact to strip the false
positives, so its result is exactly the semi join at a fraction of the
shuffled bytes.

Sizing: the bitmap literal costs ``num_bits/8`` bytes in every task's
plan — fine up to ~2^27 bits (16 MiB, ~10 M keys at 1% fp).  Beyond
that, fall back to a shuffled semi join or Spark's runtime filters.

Reference analogue: none — the reference's only membership probe is the
single-row ``SELECT 1 … ROWNUM < 2`` existence check
(pkg_batch_util_body.sql:224–247); this is its data-plane counterpart.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NUM_HASHES = 5  # hash probes per key: ~1% false positives at 10 bits/key


@dataclass(frozen=True)
class BloomFilter:
    """Immutable driver-side bitmap: ``words[i]`` holds bits
    ``64*i .. 64*i+63``."""

    num_bits: int
    words: list[int] = field(repr=False)
    n_items: int = 0

    def might_contain(self, key: Column | str) -> Column:
        """JVM membership test: AND of ``NUM_HASHES`` bit probes against
        the bitmap literal.  NULL keys test false — semi-join semantics
        (NULL never matches); the explicit IsNotNull seed matters because
        ``xxhash64`` IGNORES null children and would otherwise probe a
        deterministic position and leak NULL-key rows.

        The bitmap literal is built as ONE parsed SQL expression, not
        ``F.lit(words)``: the element-wise form issues a py4j round trip
        per word per probe (NUM_HASHES × num_bits/64 calls — measured
        ~2 s of pure driver time per q78 bench iteration at the 2^16
        default), while a single ``array(...L)`` string parses in the
        JVM in one call.  Runtime is identical — ConstantFolding
        collapses both to the same array Literal (the PSL isin lesson,
        llmops/psl.py)."""
        key = F.col(key) if isinstance(key, str) else key
        bitmap = F.expr(
            "array(" + ",".join(f"{w}L" for w in self.words) + ")"
        )
        cond = key.isNotNull()
        for i in range(NUM_HASHES):
            pos = F.pmod(F.xxhash64(key, F.lit(i)), F.lit(self.num_bits))
            word = F.element_at(bitmap, (pos / 64).cast("int") + 1)
            bit = F.call_function("shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int"))
            cond = cond & (word.bitwiseAND(bit) != 0)
        return cond


def build_bloom(dim: DataFrame, key_col: str, *, num_bits: int = 1 << 20) -> BloomFilter:
    """Aggregate ``dim[key_col]``'s key set into a :class:`BloomFilter`.

    One job: map-side position expansion, partial ``bit_or`` combine,
    final collect of ≤ ``num_bits/64`` (word, bits) rows.
    """
    if num_bits < 64 or num_bits & (num_bits - 1):
        raise ValueError(f"num_bits must be a power of two >= 64, got {num_bits}")
    key = F.col(key_col)
    positions = F.array(
        *[F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits)) for i in range(NUM_HASHES)]
    )
    agg = (
        dim.filter(key.isNotNull())
        .select(F.explode(positions).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("int").alias("word"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
            ).alias("bit"),
        )
        .groupBy("word")
        # per-word position count rides the same aggregation: the exploded
        # row count is exactly n_items·NUM_HASHES, so n_items needs no
        # second scan of dim
        .agg(F.bit_or("bit").alias("bits"), F.count(F.lit(1)).alias("n_pos"))
        .collect()
    )
    words = [0] * (num_bits // 64)
    for row in agg:
        words[row["word"]] = row["bits"]
    n_items = sum(row["n_pos"] for row in agg) // NUM_HASHES
    return BloomFilter(num_bits=num_bits, words=words, n_items=n_items)


def bloom_semi_filter(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    *,
    num_bits: int = 1 << 20,
    exact: bool = True,
) -> DataFrame:
    """``fact`` rows whose ``fact_key`` appears in ``dim[dim_key]``.

    The bloom probe prunes the fact at its scan (no shuffle, no dim
    broadcast); with ``exact=True`` a ``left_semi`` join on the pruned
    remainder removes bloom false positives, making the result exactly
    the semi join.  With ``exact=False`` the caller accepts the fp rate
    in exchange for a join-free plan (e.g. pre-filter before a heavier
    pipeline that tolerates extras).
    """
    # xxhash64 is TYPE-sensitive: hash(5 AS INT) != hash(5 AS BIGINT), so a
    # fact/dim key-type mismatch would silently empty the result (false
    # negatives the bloom contract forbids — unrecoverable even with
    # exact=True, since the semi join runs on the already-pruned fact).
    # Compare FULL types, not typeName(): decimal(10,2) and decimal(12,0)
    # share typeName 'decimal' but hash different unscaled values.
    # Widen integral mismatches to long on BOTH sides; reject the rest
    # (including decimal precision/scale differences).
    f_dt = fact.schema[fact_key].dataType
    d_dt = dim.schema[dim_key].dataType
    probe_key: Column | str = fact_key
    if f_dt != d_dt:
        integral = {"byte", "short", "integer", "long"}
        if f_dt.typeName() in integral and d_dt.typeName() in integral:
            dim = dim.withColumn(dim_key, F.col(dim_key).cast("long"))
            probe_key = F.col(fact_key).cast("long")
        else:
            raise ValueError(
                f"bloom key types differ: {fact_key} is {f_dt.simpleString()}, "
                f"{dim_key} is {d_dt.simpleString()} — cast one side first "
                f"(xxhash64 would never match)"
            )
    bf = build_bloom(dim, dim_key, num_bits=num_bits)
    pruned = fact.filter(bf.might_contain(probe_key))
    if not exact:
        return pruned
    dim_keys = dim.select(dim_key).filter(F.col(dim_key).isNotNull()).distinct()
    return pruned.join(dim_keys, pruned[fact_key] == dim_keys[dim_key], "left_semi")

"""Join strategies for skewed and shuffle-heavy workloads.

AQE's skew-join splitting (on in session.py) handles moderate skew at
runtime; these operators cover the cases AQE cannot:

- :func:`salted_join` — explicit key salting for pathological hot keys
  (one key holding >1 executor's worth of rows).  AQE splits skewed
  *partitions*, but a single hot key still lands in one task when the
  other side must be shuffled too; salting replicates the small side
  across ``n_salts`` sub-keys so the hot key fans out over the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str] | str,
    *,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``big`` has pathological key skew and ``small``
    is too large to broadcast.  Each big-side row gets a deterministic
    salt in [0, n_salts); the small side is replicated once per salt
    value; the join runs on (keys + salt), spreading every hot key over
    ``n_salts`` shuffle partitions.  Result is identical to the unsalted
    join — the salt only refines the partitioning, never the match.

    Cost model: small side shuffles n_salts× its size — choose
    ``n_salts`` ≈ (hot-key rows / rows-per-task target), not larger.
    Supported ``how``: inner / left (the replicated side must be the
    lookup side, so right/full would double-count unmatched rows).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    spark = big.sparkSession
    # deterministic per-row salt from the whole row of key values plus a
    # uniform spreader; monotonically_increasing_id is partition-layout
    # dependent, which is fine — any assignment is correct.
    salted_big = big.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)).cast("int")
    )
    salts = spark.range(n_salts).select(F.col("id").cast("int").alias("__salt"))
    salted_small = small.crossJoin(F.broadcast(salts))
    out = salted_big.join(salted_small, keys + ["__salt"], how)
    return out.drop("__salt")



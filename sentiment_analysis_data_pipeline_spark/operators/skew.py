"""Skew mitigation: salted joins for hot keys.

AQE's skew-join handling (on in session.get_spark) splits oversized
SortMergeJoin partitions automatically -- that is the first line of defense
and needs no code. This module is the explicit fallback for the join AQE
cannot fix (a broadcast-ineligible dimension with one pathological hot
key): the classic salt-and-replicate pattern. Skewed aggregations need no
twin here: Spark's map-side partial aggregation already spreads a hot key,
and the registry's `key_skew_report` row reports the key shape that
decides.

  left (big, skewed)  : key -> (key, salt = stable_hash(row) % n)
  right (small-ish)   : each row replicated n times, one per salt value
  join on (key, salt) : the hot key's rows now spread over n partitions

Salt is derived from xxhash64 of the left row's columns -- deterministic
(no rand(), so plans are replayable and tests exact) and uniform enough to
spread a hot key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join `left` (large, skewed on `key`) with `right` (replicable),
    spreading each key across `n_salts` shuffle partitions.

    Result is row-identical to ``left.join(right, key, how)`` for inner and
    left joins (each left row matches exactly its salt's replica), for any
    salt count. `n_salts` is clamped to spark.sql.shuffle.partitions: past
    that, salts share partitions, so the extra right-side replicas spread
    nothing and only multiply the replicated side.
    """
    n_salts = min(
        n_salts, int(left.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    )
    left_cols = [c for c in left.columns if c != key]
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left_cols]) if left_cols else F.xxhash64(F.col(key)), F.lit(n_salts))
    salted_left = left.withColumn("_salt", salt.cast("int"))
    salted_right = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = salted_left.join(salted_right, on=[key, "_salt"], how=how)
    return out.drop("_salt")


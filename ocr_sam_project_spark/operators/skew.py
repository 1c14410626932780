"""salted_join — the explicit skew strategy the north_rule requires beyond
AQE's automatic skew-join splitting.

It replicates the small side R times and salts the big side's key with
pmod(xxhash64(row-id), R): a hot key's rows spread over R reducers instead
of melting one.  Use it when the big side has Zipfian keys and the small
side is too large to broadcast outright; broadcasting a small dim (the
first resort) is just F.broadcast, as j1/j4 do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join big⋈small on `key`, salted against skew in `big`.

    big gets a per-row salt in [0, salt_buckets); small is exploded
    salt_buckets times so every (key, salt) pair exists.  The join key
    becomes (key, salt) — hot keys fan out over salt_buckets reducers.
    Cost: small side replicated R times (keep R modest).

    Only `how` in {'inner', 'left'} is accepted: those are exactly
    equivalent to the plain join.  For right/full outer joins an unmatched
    small-side row would be emitted once PER SALT BUCKET (duplicated
    salt_buckets times), so they are rejected rather than silently wrong.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how in ('inner', 'left'), got {how!r}: "
            "outer variants would duplicate unmatched small-side rows "
            "salt_buckets times"
        )
    salted_big = big.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets)).cast("int"),
    )
    salted_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<int>"))
    )
    return salted_big.join(salted_small, [key, "_salt"], how).drop("_salt")

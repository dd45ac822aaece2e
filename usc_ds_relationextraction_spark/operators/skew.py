"""Skew mitigation helpers (SURVEY.md §4 custom-work item 1).

Hub entities ("assistant", tool names, entity 0 of the zipf draw) make
join/agg keys heavy-tailed.  Catalyst never invents salting, so we provide
it: the big side gets a deterministic salt in [0, S) derived from a unique
row key (never ``F.rand`` — resume-safe), the small side is exploded ×S,
and the join key becomes (key, salt).  For broadcast joins this keeps the
*downstream* shuffle (e.g. a groupBy on the joined key) balanced; for
shuffle joins it splits the hot partitions directly, complementing
``spark.sql.adaptive.skewJoin`` which only kicks in above partition-size
thresholds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h64

SALT_COL = "__salt"


def with_salt(df: DataFrame, unique_key: Column, n_salts: int) -> DataFrame:
    """Deterministic salt column derived from a row-unique key column."""
    return df.withColumn(SALT_COL, F.pmod(h64(unique_key.cast("string")), F.lit(n_salts)).cast("int"))


def explode_salts(df: DataFrame, n_salts: int) -> DataFrame:
    """Replicate the small side across all salt values."""
    return df.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn(SALT_COL, F.col(SALT_COL).cast("int"))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    how: str = "inner",
    n_salts: int = 8,
    big_unique: Column | None = None,
    broadcast_small: bool = True,
) -> DataFrame:
    """Equi-join with salted keys; drops the salt column on the way out.

    ``big_unique`` is REQUIRED to be a row-level (or at least
    finer-than-join-key) expression: a salt derived from the join key
    alone gives every row of a hot key the identical salt — the hot
    partition is not split at all while the dim side still pays the ×S
    replication, strictly worse than a plain join.  Callers pass their
    natural row key (e.g. mention_key).
    """
    if big_unique is None:
        raise ValueError(
            "salted_join requires big_unique: deriving the salt from the "
            "join keys alone is a no-op against skew (every row of a hot "
            "key gets the same salt) while still paying the dim-side "
            "explode — pass a row-level key expression")
    b = with_salt(big, big_unique, n_salts)
    s = explode_salts(small, n_salts)
    if broadcast_small:
        s = F.broadcast(s)
    out = b.join(s, on=on + [SALT_COL], how=how)
    return out.drop(SALT_COL)

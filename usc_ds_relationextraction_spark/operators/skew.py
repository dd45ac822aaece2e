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


# Above this many dimension rows we stop considering a driver-side
# broadcast (conservative: a 2M-row alias dim ~ a few hundred MB on the
# driver; real clusters set spark.sql.autoBroadcastJoinThreshold, this is
# the explicit analog for the strategy chooser).
BROADCAST_ROW_LIMIT = 2_000_000

# (plan-hash, limit) -> probed row count; lives for the driver process
_PROBE_CACHE: dict = {}


def adaptive_dim_join(
    big: DataFrame,
    dim: DataFrame,
    on: list[str],
    how: str = "inner",
    n_salts: int = 8,
    big_unique: Column | None = None,
    broadcast_row_limit: int = BROADCAST_ROW_LIMIT,
) -> DataFrame:
    """Fact ⋈ dimension with a self-selecting physical strategy.

    Encodes the conclusion of the skew bench (AQE skew-join 1.52s vs
    unconditional salting 5.13s at the same scale): salting is
    the ESCALATION, not the default.

      1. dimension fits the broadcast limit  → broadcast hash join
         (no shuffle of the fact side at all — the 10^12-turn shape);
      2. dimension too big, AQE enabled      → plain shuffle equi-join;
         AQE splits any skewed partitions at runtime;
      3. dimension too big, AQE disabled     → deterministic salted join
         (the only case where we pay the ×S dim replication).

    The dim-size probe is a bounded job: ``limit(N+1).count()`` scans at
    most N+1 rows whatever the dimension's true size — and is memoized
    per analyzed plan, so rebuilding the same query pays it once per
    process, not once per join construction.  CAVEATS: (a) the probe is
    bounded only when the dimension is a scan/filter chain — a limit
    ABOVE an aggregation still executes the full aggregation, so don't
    route aggregate-built dims through here (token_rarity's frequency
    table uses a plain join + AQE dynamic selection instead); (b)
    ``big_unique`` is required if escalation to the salted join (case 3)
    is reachable — see :func:`salted_join`.
    """
    try:
        key = (dim._jdf.queryExecution().analyzed().semanticHash(),
               broadcast_row_limit)
    except Exception:
        key = (str(dim._jdf.queryExecution().analyzed()),
               broadcast_row_limit)
    probe = _PROBE_CACHE.get(key)
    if probe is None:
        probe = dim.limit(broadcast_row_limit + 1).count()
        _PROBE_CACHE[key] = probe
    if probe <= broadcast_row_limit:
        return big.join(F.broadcast(dim), on=on, how=how)
    aqe = str(big.sparkSession.conf.get(
        "spark.sql.adaptive.enabled", "true")).lower() == "true"
    if aqe:
        return big.join(dim, on=on, how=how)
    return salted_join(big, dim, on=on, how=how, n_salts=n_salts,
                       big_unique=big_unique, broadcast_small=False)


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

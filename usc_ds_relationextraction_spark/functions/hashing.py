"""Portable, engine-agnostic deterministic hashing.

The correctness gate compares Spark output against DuckDB SQL, so every
hash that influences *values* must be computable identically in both
engines.  ``xxhash64``/``hash`` differ across engines; ``md5`` does not.
We therefore derive 60-bit integers from the first 15 hex chars of md5 —
stable, uniform, non-negative, and expressible in ANSI-ish SQL on both
sides:

  Spark : cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)
  DuckDB: ('0x' || substr(md5(s), 1, 15))::bigint

The same construction seeds the synthetic-data generator, the
vocabulary and graph ids, LSH hyperplanes, and salting — one primitive
everywhere.

Reference analog: the reference keys everything on string mention ids
(``code/DataProcessor/Feature/ner_feature.py:120-122``); we hash the same
composite keys to dense int64s instead.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def h64(col: Column | str) -> Column:
    """60-bit non-negative deterministic hash of a string column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def h64_duckdb(expr: str) -> str:
    """DuckDB text form — MUST stay value-identical with :func:`h64`."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::bigint)"


def h64_py(s: str) -> int:
    """Pure-Python twin for tests and driver-side seeding."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def u01(col: Column | str, salt: str) -> Column:
    """Deterministic uniform(0,1) from a key column + salt string.

    Used instead of ``F.rand`` everywhere: partition-count independent,
    resume-safe (north_rule: deterministic, checkpoint-resumable).
    """
    c = F.col(col) if isinstance(col, str) else col
    return h64(F.concat_ws("\x1f", c, F.lit(salt))) / F.lit(float(1 << 60))


def pick(col: Column | str, salt: str, n: int) -> Column:
    """Deterministic choice of an index in [0, n) from a key column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(h64(F.concat_ws("\x1f", c, F.lit(salt))), F.lit(n)).cast("int")

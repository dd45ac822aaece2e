"""Portable, engine-agnostic deterministic hashing.

The correctness gate compares Spark output against DuckDB SQL, so every
hash that influences *values* must be computable identically in both
engines.  ``xxhash64``/``hash`` differ across engines; ``md5`` does not.
We therefore derive 60-bit integers from the first 15 hex chars of md5 —
stable, uniform, non-negative, and expressible in ANSI-ish SQL on both
sides:

  Spark : cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)
  DuckDB: ('0x' || substr(md5(s), 1, 15))::bigint

The same construction seeds the synthetic-data generator, MinHash /
SimHash sketches, LSH bucketing, and salting — one primitive everywhere.

Reference analog: the reference keys everything on string mention ids
(``code/DataProcessor/Feature/ner_feature.py:120-122``); we hash the same
composite keys to dense int64s instead.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

MASK60 = (1 << 60) - 1
MASK30 = (1 << 30) - 1


def minhash_mix_consts(perms: int) -> list[tuple[int, int]]:
    """Per-permutation affine-mix constants (A_i odd 30-bit, B_i 60-bit),
    themselves md5-derived so the whole MinHash chain stays portable.

    The permutation family is ``mix_i(h) = (h·A_i + B_i) mod 2**60`` over
    the single base hash ``h = h64(shingle)`` — ONE md5 per unique shingle
    instead of ``perms`` (the round-4 MinHash pace-setter,
    49k docs/s → the md5 bank was 8× the arithmetic).  A_i is capped to
    30 bits so every intermediate fits int64 under ANSI overflow checks
    in Spark, DuckDB AND numpy via the split-product identity::

      (h·A) mod 2**60 = ((h & M30)·A + (((h >> 30)·A) & M30)·2**30) mod 2**60

    (each term < 2**60; the 3-term sum < 2**62).  All three engines
    evaluate the identical integer expression — value-identity preserved.
    """
    return [((h64_py(f"|mhA{i}") & MASK30) | 1, h64_py(f"|mhB{i}"))
            for i in range(perms)]


def minhash_mix_sql(h_expr: str, a: int, b: int = 0) -> str:
    """The mix as engine-portable SQL text (valid Spark SQL and DuckDB).

    Fully parenthesized: DuckDB (Postgres-style) gives ``&`` LOWER
    precedence than ``+``, so an unwrapped ``... & M`` term joined into a
    sum would re-associate as nested ANDs and silently change the value.
    """
    return (f"(((({h_expr}) & {MASK30}) * {a} + "
            f"(((({h_expr}) >> 30) * {a}) & {MASK30}) * {1 << 30} + {b}) "
            f"& {MASK60})")


def shingle_coeffs(ngram: int) -> list[int]:
    """Per-position odd 30-bit coefficients for the token-rolling shingle
    hash: ``shg(t_0..t_{n-1}) = (Σ_j (h64(t_j)·C_j mod 2**60)) mod 2**60``.

    This replaces md5-of-the-joined-shingle-string with md5 PER UNIQUE
    TOKEN + integer combine: at corpus scale shingles are near-all-unique
    (no memo hits, one md5 each — the round-4 MinHash pace-setter) while
    the token vocabulary is tiny and memo-friendly; the combine is pure
    vectorizable int64 (same split-product overflow story as
    :func:`minhash_mix_consts`).  Position-dependent coefficients keep
    the hash order-sensitive ("a b c" ≠ "c b a").
    """
    return [(h64_py(f"|shg{j}") & MASK30) | 1 for j in range(ngram)]


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

"""Arrow-vectorized sketch banks (hyperplane-LSH, int-dot).

Why this module exists: Spark higher-order functions evaluate INTERPRETED,
and CollapseProject inlines any column reference inside their lambdas as
the full upstream expression, re-evaluated at every reference.  The HOF
form of the bucketing sketch (``operators/similarity.lsh_buckets_hof``)
therefore pays planes×dim interpreted passes PER ROW — measured 13.5 s
for 500 rows of 6-plane bucketing vs 1.5 s in DuckDB.  The same pathology
class was fixed in ``streaming/ingest.py`` (52 s → 6 s at 175k turns).

The fix is one Arrow crossing per batch: the whole plane bank runs as a
NumPy matmul inside a pandas UDF.  Values are BIT-IDENTICAL to the HOF
form (and therefore to the DuckDB oracles):
 - quantization ``floor(x·1000 + 0.5)`` maps to the same IEEE-double ops
   (float32→float64 cast is exact, ·/+/floor are correctly rounded);
 - everything downstream is exact int64 arithmetic.

The HOF twin is retained as an agreement oracle
(``tests/test_sketches.py`` asserts Arrow ≡ HOF on the driver tables).

Reference analog: the reference computes feature sketches eagerly in
numpy on the driver (``code/Model/retype.cpp`` embeds everything in one
process); here the same vectorized math runs per Arrow batch on
executors — the distributable form.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _stack_vectors(vecs: pd.Series, dim: int) -> np.ndarray:
    """(n, dim) float64 matrix from a Series of float arrays."""
    return np.array([np.asarray(v, dtype=np.float64) for v in vecs],
                    dtype=np.float64).reshape(len(vecs), dim)


def quantize_batch(vecs: pd.Series, dim: int, scale: int) -> np.ndarray:
    """floor(x·scale + 0.5) as exact int64 — the portable quantizer."""
    m = _stack_vectors(vecs, dim)
    return np.floor(m * float(scale) + 0.5).astype(np.int64)


def lsh_bucket_arrow(vec: Column | str, hyperplanes: list[list[int]],
                     scale: int = 1000) -> Column:
    """Sign-pattern bucket over integer hyperplanes, one matmul/batch.

    ``hyperplanes`` is the (planes × dim) integer matrix from
    :func:`..operators.similarity.hyperplane` — passed in, not recomputed,
    so Arrow and HOF banks share one source of truth.
    """
    h = np.asarray(hyperplanes, dtype=np.int64)
    planes, dim = h.shape
    weights = (np.int64(1) << np.arange(planes, dtype=np.int64))

    @pandas_udf("int")
    def _f(s: pd.Series) -> pd.Series:
        q = quantize_batch(s, dim, scale)
        dots = q @ h.T                     # exact int64, (n × planes)
        return pd.Series(((dots > 0) * weights[None, :]).sum(axis=1)
                         .astype(np.int32))

    c = F.col(vec) if isinstance(vec, str) else vec
    return _f(c)


def int_dot_arrow(a: Column, b: Column) -> Column:
    """Row-wise exact int64 dot of two bigint-array columns (Arrow batch)."""
    @pandas_udf("bigint")
    def _f(sa: pd.Series, sb: pd.Series) -> pd.Series:
        ma = np.array([np.asarray(v, dtype=np.int64) for v in sa])
        mb = np.array([np.asarray(v, dtype=np.int64) for v in sb])
        if ma.size == 0:
            return pd.Series(np.zeros(len(sa), dtype=np.int64))
        return pd.Series((ma * mb).sum(axis=1))
    return _f(a, b)

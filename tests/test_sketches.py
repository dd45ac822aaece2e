"""Arrow sketch banks ≡ their interpreted-HOF agreement oracles.

The Arrow forms (functions/sketches.py: hyperplane-LSH bucketing and the
exact int64 dot) are the hot path of the similarity operators; the HOF
forms are retained purely so this agreement can be asserted — two
independent derivations of the same exact-integer sketch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from usc_ds_relationextraction_spark.operators import similarity

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_lsh_buckets_arrow_matches_hof(spark, emb):
    a = similarity.lsh_buckets(emb, dim=64, planes=6)
    b = similarity.lsh_buckets_hof(emb, dim=64, planes=6)
    assert _rows(a) == _rows(b)


def test_lsh_buckets_many_planes(spark, emb):
    """16-plane bank (the scale configuration) still agrees."""
    a = similarity.lsh_buckets(emb, dim=64, planes=16)
    b = similarity.lsh_buckets_hof(emb, dim=64, planes=16)
    assert _rows(a) == _rows(b)


def test_arrow_plan_has_no_row_python(spark, emb):
    """The hot path is ArrowEvalPython (vectorized), never BatchEvalPython
    (row-at-a-time)."""
    plan = similarity.lsh_buckets(emb, 64, 6) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan


def test_int_dot_arrow_matches_hof(spark, emb):
    from usc_ds_relationextraction_spark.functions.sketches import (
        int_dot_arrow)
    base = emb.select("vec_id", similarity.quantized("embedding").alias("q"))
    a = base.select(
        "vec_id", int_dot_arrow(F.col("q"), F.col("q")).alias("d"))
    b = base.select(
        "vec_id", similarity.int_dot(F.col("q"), F.col("q")).alias("d"))
    assert _rows(a) == _rows(b)

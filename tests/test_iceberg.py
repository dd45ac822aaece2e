"""Iceberg wiring: Warehouse(fmt='iceberg') passthrough, skip-gated on the
runtime jar.  The edge sink's Iceberg MERGE statement is tested in
test_incremental_kg."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from usc_ds_relationextraction_spark.sources.catalog import (
    Warehouse, iceberg_available)


def test_warehouse_iceberg_passthrough(spark, tmp_path):
    """Full write/read through Warehouse(fmt='iceberg') when the runtime
    jar is present; otherwise verify the format threads through the
    API (path suffix + reader format) and skip the execution."""
    wh = Warehouse(spark, str(tmp_path / "iwh"), fmt="iceberg")
    assert wh.path("edges").endswith("edges.iceberg")
    if not iceberg_available(spark):
        pytest.skip(
            "Iceberg runtime jar unobtainable in this sandbox — final "
            "blocker record in COVERAGE.md §Iceberg-blocker (no network to "
            "Maven, no jar on disk, no pip distribution)")
    df = spark.range(3).select(F.col("id"), F.lit("x").alias("v"))
    out = wh.write("edges", df)
    assert out.count() == 3

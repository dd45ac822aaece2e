"""Iceberg wiring: Warehouse(fmt='iceberg') passthrough (skip-gated on the
runtime jar), the MERGE dedup statement, and the foreachBatch exactly-once
dedup sink the streaming path defers to (parquet mode is the sandbox-
tested twin of the Iceberg MERGE)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from usc_ds_relationextraction_spark.sources.catalog import (
    Warehouse, iceberg_available, merge_dedup_sql, streaming_dedup_sink)


def test_merge_sql_shape():
    sql = merge_dedup_sql("kg.edges", "batch_view", ["subj", "pred", "obj"])
    assert sql == ("MERGE INTO kg.edges t USING batch_view s "
                   "ON t.subj = s.subj AND t.pred = s.pred "
                   "AND t.obj = s.obj WHEN NOT MATCHED THEN INSERT *")


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


def test_streaming_dedup_sink_parquet(spark, tmp_path):
    """Replayed/overlapping micro-batches never duplicate a key — the
    observable contract the Iceberg MERGE mode gives for free."""
    target = str(tmp_path / "edges")
    sink = streaming_dedup_sink(spark, target, ["subj", "pred", "obj"])
    b1 = spark.createDataFrame(
        [("a", "r", "b"), ("a", "r", "b"), ("c", "r", "d")],
        "subj string, pred string, obj string")
    b2 = spark.createDataFrame(  # overlaps b1 (replay) + one new key
        [("a", "r", "b"), ("e", "r", "f")],
        "subj string, pred string, obj string")
    sink(b1, 0)
    sink(b2, 1)
    sink(b2, 1)  # full micro-batch replay after a crash
    got = spark.read.parquet(target)
    assert got.count() == 3
    assert got.distinct().count() == 3


def test_streaming_dedup_sink_wired(spark, tiny_corpus, tmp_path):
    """readStream -> extraction -> foreachBatch dedup sink end-to-end;
    output keys are unique even though the extraction emits duplicates
    (append mode cannot distinct)."""
    from usc_ds_relationextraction_spark.sources import synthetic as syn
    from usc_ds_relationextraction_spark.streaming import ingest
    src = str(tmp_path / "src")
    target = str(tmp_path / "edges")
    ckpt = str(tmp_path / "ckpt")
    tiny_corpus.write.mode("overwrite").parquet(src)
    stream = (spark.readStream
              .schema("conv_id string, turn_idx int, role string,"
                      " text string, tool string, ts timestamp")
              .format("parquet").load(src))
    triples = ingest.turn_local_triples_join(
        stream, syn.kb_aliases(spark), syn.kb_facts(spark)) \
        .select("subj", "pred", "obj", "conv_id", "turn_idx")
    keys = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    q = (triples.writeStream
         .foreachBatch(streaming_dedup_sink(spark, target, keys))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    got = spark.read.parquet(target)
    assert got.count() == got.distinct().count() > 0

"""Streaming ingestion: the turn-local extraction equals the batch
pipeline's triples on the same corpus, end to end through readStream."""

from __future__ import annotations

from usc_ds_relationextraction_spark.sources import synthetic as syn
from usc_ds_relationextraction_spark.streaming import ingest


def test_turn_local_equals_batch(spark, tiny_corpus):
    am = ingest._alias_map(spark)
    fm = ingest._fact_map(spark)
    got = {tuple(r) for r in
           ingest.turn_local_triples(tiny_corpus, am, fm)
           .select("subj", "pred", "obj", "conv_id", "turn_idx")
           .distinct().collect()}
    # batch path: the operators KGPipeline runs, with their defaults
    from usc_ds_relationextraction_spark.operators import ds_label, mentions, pairs
    s = mentions.sentences_table(tiny_corpus)
    c = mentions.candidates_table(s)
    e = ds_label.entity_mentions(
        ds_label.link_entities(c, syn.kb_aliases(spark)))
    r = pairs.label_pairs(pairs.rm_candidates(e), syn.kb_facts(spark))
    want = {tuple(x) for x in pairs.ds_triples(r)
            .select("subj", "pred", "obj", "conv_id", "turn_idx")
            .distinct().collect()}
    assert got == want and len(got) > 0


def test_readstream_end_to_end(spark, tiny_corpus, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    tiny_corpus.write.mode("overwrite").parquet(src)
    q = ingest.stream_triples(spark, src, ckpt, out)
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    streamed = spark.read.parquet(out).select(
        "subj", "pred", "obj", "conv_id", "turn_idx").distinct()
    am = ingest._alias_map(spark)
    fm = ingest._fact_map(spark)
    batch = ingest.turn_local_triples(tiny_corpus, am, fm).distinct()
    assert {tuple(r) for r in streamed.collect()} == \
           {tuple(r) for r in batch.select(*streamed.columns).collect()}
    assert streamed.count() > 0


def test_windowed_counts_stream_equals_batch(spark, tiny_corpus, tmp_path):
    """Watermarked tumbling-window rollup: the streaming (complete-mode)
    result equals the same aggregation run in batch on the same corpus."""
    src = str(tmp_path / "wsrc")
    tiny_corpus.write.mode("overwrite").parquet(src)
    q = ingest.stream_windowed_counts(spark, src, query_name="win_counts")
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    streamed = spark.sql("SELECT * FROM win_counts")
    am = ingest._alias_map(spark)
    fm = ingest._fact_map(spark)
    batch = ingest.windowed_triple_counts(
        ingest.turn_local_triples(tiny_corpus, am, fm))
    got = {tuple(r) for r in streamed.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_join_variant_equals_map_variant(spark, tiny_corpus):
    """The stream-static broadcast-join KB lookup (production default)
    produces exactly the map-literal variant's triples — linking commutes
    with pairing."""
    got = {tuple(r) for r in
           ingest.turn_local_triples_join(
               tiny_corpus, syn.kb_aliases(spark), syn.kb_facts(spark))
           .select("subj", "pred", "obj", "conv_id", "turn_idx")
           .distinct().collect()}
    am = ingest._alias_map(spark)
    fm = ingest._fact_map(spark)
    want = {tuple(r) for r in
            ingest.turn_local_triples(tiny_corpus, am, fm)
            .select("subj", "pred", "obj", "conv_id", "turn_idx")
            .distinct().collect()}
    assert got == want and len(got) > 0


def test_stateful_entity_tracking(spark, tiny_corpus, tmp_path):
    """applyInPandasWithState: per-conversation entity sets accumulate
    across micro-batches; the summed n_new per conversation equals the
    batch-computed distinct entity count exactly."""
    from pyspark.sql import functions as F
    src = str(tmp_path / "ssrc")
    tiny_corpus.repartition(4).write.mode("overwrite").parquet(src)
    q = ingest.stream_entity_updates(spark, src, query_name="ent_updates",
                                     max_files_per_trigger=1)
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    n_batches = len([p for p in q.recentProgress
                     if p["numInputRows"] > 0])
    got = (spark.sql("SELECT * FROM ent_updates")
           .groupBy("conv_id").agg(F.sum("n_new").alias("n_entities"),
                                   F.max("n_total").alias("n_total")))
    # batch truth: distinct linked entities per conversation
    from usc_ds_relationextraction_spark.functions.tokenize import (
        pos_tags_col, tokens_col)
    from usc_ds_relationextraction_spark.operators.mentions import (
        np_chunks_col)
    t = tiny_corpus.withColumn("toks", tokens_col("text")) \
        .withColumn("pos", pos_tags_col("toks")) \
        .withColumn("chunk", F.explode(np_chunks_col("toks", "pos"))) \
        .select("conv_id", F.col("chunk.surface").alias("surface"))
    al = syn.kb_aliases(spark).select(
        F.col("alias").alias("surface"), "entity_id").distinct()
    want = t.join(F.broadcast(al), on="surface") \
        .groupBy("conv_id") \
        .agg(F.countDistinct("entity_id").alias("n_entities"))
    g = {r["conv_id"]: (r["n_entities"], r["n_total"])
         for r in got.collect()}
    w = {r["conv_id"]: r["n_entities"] for r in want.collect()}
    assert set(g) == set(w) and len(w) > 0
    for c, n in w.items():
        assert g[c] == (n, n), (c, g[c], n)
    assert n_batches >= 2  # state genuinely evolved across micro-batches


def test_pair_generator_arrow_jvm_agreement(spark, tiny_corpus):
    """The fused Arrow pair UDF (hot path) and the pure-JVM HOF
    formulation (equivalence oracle) emit the IDENTICAL pair multiset —
    start/surface/sent_id on both ends."""
    from usc_ds_relationextraction_spark.streaming.ingest import (
        turn_local_pairs)
    cols = ["conv_id", "turn_idx", "p.a.start", "p.a.surface",
            "p.a.sent_id", "p.b.start", "p.b.surface", "p.b.sent_id"]
    a = sorted(map(tuple, turn_local_pairs(tiny_corpus)
                   .select(*cols).collect()))
    b = sorted(map(tuple, turn_local_pairs(tiny_corpus, use_arrow=False)
                   .select(*cols).collect()))
    assert a == b and len(a) > 0

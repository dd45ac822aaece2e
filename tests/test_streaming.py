"""Streaming extraction: the stream's turn-local extractor equals the
batch pipeline's triples on the same corpus, and its fused Arrow pair
UDF equals the pure-JVM pair generator.  The readStream end of the
stream is tested in test_incremental_kg."""

from __future__ import annotations

from collections import Counter

from usc_ds_relationextraction_spark.sources import synthetic as syn
from usc_ds_relationextraction_spark.streaming import ingest

COLS = ("subj", "pred", "obj", "conv_id", "turn_idx")


def test_turn_local_equals_batch(spark, tiny_corpus):
    """The stream's extractor emits the batch pipeline's DS triples as a
    multiset: the same rows, each as often."""
    got = Counter(tuple(r) for r in
                  ingest.turn_local_triples_join(
                      tiny_corpus, syn.kb_aliases(spark), syn.kb_facts(spark))
                  .select(*COLS).collect())
    # batch path: the operators KGPipeline runs, with their defaults
    from usc_ds_relationextraction_spark.operators import ds_label, mentions, pairs
    s = mentions.sentences_table(tiny_corpus)
    c = mentions.candidates_table(s)
    e = ds_label.entity_mentions(
        ds_label.link_entities(c, syn.kb_aliases(spark)))
    r = pairs.label_pairs(pairs.rm_candidates(e), syn.kb_facts(spark))
    want = Counter(tuple(x) for x in
                   pairs.ds_triples(r).select(*COLS).collect())
    assert got == want and len(got) > 0


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

"""Tokenizer/tagger: round-trip invariant + JVM/pandas agreement."""

from __future__ import annotations

from pyspark.sql import functions as F

from usc_ds_relationextraction_spark.functions import tokenize as tk
from usc_ds_relationextraction_spark.operators import mentions as m


def test_roundtrip_pure():
    text = "Alice Smith works at Acme Corp . did Bob Chen really leave Globex Labs ?"
    sents = tk.split_sentences_py(text)
    assert " ".join(sents) == text
    for s in sents:
        assert " ".join(tk.tokenize_py(s)) == s


def test_tagger_rules():
    toks = ["Alice", "Smith", "works", "at", "Acme", "Corp", ".", "42", "quickly"]
    tags = [tk._tag_one(t) for t in toks]
    assert tags == ["NNP", "NNP", "VBZ", "IN", "NNP", "NNP", ".", "CD", "RB"]


def test_jvm_vs_pandas_sentences(spark, tiny_corpus):
    a = m.sentences_table(tiny_corpus, use_pandas_udfs=True)
    b = m.sentences_table(tiny_corpus, use_pandas_udfs=False)
    cols = ["conv_id", "turn_idx", "sent_idx", "sentence", "tokens", "pos"]
    ra = sorted(map(tuple, a.select(*cols).collect()))
    rb = sorted(map(tuple, b.select(*cols).collect()))
    assert ra == rb


def test_turn_text_equality(spark, tiny_corpus):
    """Per-turn text equality: sentences re-concatenate to the turn text."""
    s = m.sentences_table(tiny_corpus)
    re_joined = (
        s.groupBy("conv_id", "turn_idx")
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("sent_idx", "sentence"))),
                        lambda x: x["sentence"]), " ").alias("text2"))
    )
    joined = tiny_corpus.join(re_joined, ["conv_id", "turn_idx"])
    assert joined.where(F.col("text") != F.col("text2")).count() == 0


def test_chunker_jvm_vs_pandas(spark, tiny_corpus):
    s = m.sentences_table(tiny_corpus).cache()
    a = m.candidates_table(s, use_pandas_udfs=True)
    b = m.candidates_table(s, use_pandas_udfs=False)
    cols = ["conv_id", "turn_idx", "sent_idx", "start", "end", "surface"]
    assert sorted(map(tuple, a.select(*cols).collect())) == \
           sorted(map(tuple, b.select(*cols).collect()))


def test_fused_sentence_udf_equals_python_twins(spark, tiny_corpus):
    """One Arrow pass per turn gives what the plain-Python splitter,
    tokenizer and tagger give, empty and null turn text included."""
    extra = spark.createDataFrame(
        [("c_empty", 0, "user", "", None, None),
         ("c_null", 0, "user", None, None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    turns = tiny_corpus.unionByName(extra)
    cols = ["conv_id", "turn_idx", "sent_idx", "sentence", "tokens", "pos"]
    got = sorted(map(tuple, m.sentences_table(turns).select(*cols).collect()))
    want = []
    for r in turns.select("conv_id", "turn_idx", "text").collect():
        for i, s in enumerate(tk.split_sentences_py(r.text)):
            toks = tk.tokenize_py(s)
            want.append((r.conv_id, r.turn_idx, i, s, toks,
                         [tk._tag_one(t) for t in toks]))
    assert got == sorted(want)
    assert not {r[0] for r in got} & {"c_empty", "c_null"}

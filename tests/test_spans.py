"""Fused Arrow span scan ≡ its HOF/BNLJ agreement oracle (P3).

The fused form (operators/spans.py: broadcast first-token alias index,
one narrow Arrow map, no join) is the query path; the original HOF form
under an ``arrays_overlap`` BroadcastNestedLoopJoin is retained purely so
this agreement can be asserted — two independent derivations of the same
hit table (the sketch-bank twin pattern).

Reference: DataProcessor/nlp_parse.py:162-178 (find_index), 82-96
(resume-after-match).
"""

from __future__ import annotations

from usc_ds_relationextraction_spark.operators.spans import (
    align_spans, build_alias_index)
from usc_ds_relationextraction_spark.plans import parity_queries as pq

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted((r.conv_id, r.turn_idx, r.alias, tuple(r.hits))
                  for r in df.collect())


def test_fused_matches_hof_on_fixture(spark):
    fused = pq._p3_hits_fused(spark, SF)
    hof = pq._p3_hits_hof(spark, SF)
    a, b = _rows(fused), _rows(hof)
    assert a and a == b


def test_align_spans_semantics(spark):
    turns = spark.createDataFrame(
        [("c1", 0, ["New", "York", "is", "in", "New", "York"]),
         ("c1", 1, ["nothing", "here"]),
         ("c2", 0, ["York", "New"]),             # partial orders only
         ("c2", 1, ["a", "New", "York", "b"]),
         ("c2", 2, [])],
        "conv_id string, turn_idx int, toks array<string>")
    aliases = spark.createDataFrame(
        [("New York",), ("York",), ("",), ("  ",)], "alias string")
    got = {(r.conv_id, r.turn_idx, r.alias): list(r.hits)
           for r in align_spans(turns, aliases).collect()}
    assert got == {
        ("c1", 0, "New York"): [1, 5],   # successive occurrences, 1-based
        ("c1", 0, "York"): [2, 6],
        ("c2", 0, "York"): [1],
        ("c2", 1, "New York"): [2],
        ("c2", 1, "York"): [3],
    }


def test_scan_kernel_property():
    """Hypothesis: scan_tokens ≡ brute-force subsequence enumeration for
    arbitrary small-alphabet token rows and alias sets."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from usc_ds_relationextraction_spark.operators.spans import scan_tokens

    tok = st.sampled_from(["a", "b", "c", "aa"])
    row_s = st.lists(tok, max_size=12)
    alias_s = st.lists(st.lists(tok, min_size=1, max_size=3),
                       min_size=1, max_size=6)

    @settings(max_examples=300, deadline=None)
    @given(row=row_s, aliases=alias_s)
    def check(row, aliases):
        strs = [" ".join(a) for a in aliases]
        got = dict(scan_tokens(row, build_alias_index(strs)))
        want = {}
        for s, at in zip(strs, aliases):
            hits = [p + 1 for p in range(len(row) - len(at) + 1)
                    if row[p:p + len(at)] == at]
            if hits:
                want[s] = hits
        # duplicate alias strings collapse in the index — dedupe `want`
        assert got == want

    check()


def test_alias_index_tokenization_twin():
    # same rule as tokenize.tokens_col: split on ' ', drop empties
    idx = build_alias_index(["a  b", " c", "", "a d"])
    assert sorted(idx) == ["a", "c"]
    assert [(a, t) for a, t in idx["a"]] == [("a  b", ["a", "b"]),
                                             ("a d", ["a", "d"])]


def _semantics_fixture(spark):
    turns = spark.createDataFrame(
        [("c1", 0, ["New", "York", "is", "in", "New", "York"]),
         ("c1", 1, ["nothing", "here"]),
         ("c2", 0, ["York", "New"]),
         ("c2", 1, ["a", "New", "York", "b"]),
         ("c2", 2, [])],
        "conv_id string, turn_idx int, toks array<string>")
    aliases = spark.createDataFrame(
        [("New York",), ("York",), ("",), ("  ",), ("New York",)],
        "alias string")
    return turns, aliases


def test_sharded_matches_broadcast_semantics(spark):
    from usc_ds_relationextraction_spark.operators.spans import (
        align_spans_broadcast, align_spans_sharded)
    turns, aliases = _semantics_fixture(spark)
    assert _rows(align_spans_sharded(turns, aliases)) == \
        _rows(align_spans_broadcast(turns, aliases))


def test_sharded_matches_broadcast_on_fixture(spark):
    """Giant-dict form ≡ broadcast form row-for-row on the sf0.001
    corpus (the same agreement contract as fused ≡ HOF)."""
    from usc_ds_relationextraction_spark.functions.tokenize import tokens_col
    from usc_ds_relationextraction_spark.operators.spans import (
        align_spans_broadcast, align_spans_sharded)
    import __spark_entry__ as e
    t = e._fx(spark, SF, "transcripts")
    tt = t.select("conv_id", "turn_idx", tokens_col("text").alias("toks"))
    al = e._fx(spark, SF, "kb_aliases")
    a = _rows(align_spans_sharded(tt, al))
    b = _rows(align_spans_broadcast(tt, al))
    assert a and a == b


def test_align_spans_chooser(spark):
    """limit=0 forces every dim over the broadcast bound -> sharded path
    (no driver collect of the dim); default limit keeps broadcast."""
    from usc_ds_relationextraction_spark.operators import spans as sp
    turns, aliases = _semantics_fixture(spark)
    want = _rows(sp.align_spans_broadcast(turns, aliases))
    got = _rows(sp.align_spans(turns, aliases, broadcast_row_limit=0))
    assert got == want
    got2 = _rows(sp.align_spans(turns, aliases))
    assert got2 == want


def test_chooser_probes_distinct_not_raw_rows(spark):
    """A duplicate-heavy alias edge list (raw rows over the limit,
    distinct dictionary under it) must still route to the broadcast
    scan: what ships is the deduped dictionary, so the probe counts
    DISTINCT aliases — the old raw-row probe misrouted this shape to
    the sharded corpus shuffle."""
    import pyspark.sql.functions as FF
    from usc_ds_relationextraction_spark.operators import spans as sp
    turns, aliases = _semantics_fixture(spark)
    n_distinct = aliases.select("alias").distinct().count()
    # 8 duplicate rows per alias; limit sits between distinct and raw
    dup = aliases.crossJoin(spark.range(8).select(
        FF.col("id").alias("_copy"))).drop("_copy")
    limit = n_distinct + 1
    assert dup.count() > limit > n_distinct
    want = _rows(sp.align_spans_broadcast(turns, aliases))
    sp._SPAN_PROBE_CACHE.clear()
    got = _rows(sp.align_spans(turns, dup, broadcast_row_limit=limit))
    assert got == want
    # the one probe recorded for this dim counted the deduped dictionary
    # (<= limit -> broadcast branch), not the raw duplicate rows
    assert list(sp._SPAN_PROBE_CACHE.values()) == [n_distinct]

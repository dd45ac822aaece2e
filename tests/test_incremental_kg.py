"""Incremental KG materialization: the additive-merge sink
(`sources.catalog.incremental_agg_sink`) and its streaming wiring
(`streaming.ingest.stream_kg_edges`).

Contract under test: a canonical edge table maintained as per-micro-batch
additive deltas (atomic pointer commit, exactly-once under batch replay)
equals the batch aggregate over the same extraction — the streaming twin
of `plans.kg_materialize.canonical_edges` for corpora too large to
re-aggregate from scratch."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F
from test_stage_builds import _counted

from usc_ds_relationextraction_spark.sources import synthetic as syn
from usc_ds_relationextraction_spark.sources.catalog import (
    incremental_agg_sink, merge_additive_sql, read_current_version)
from usc_ds_relationextraction_spark.streaming import ingest


def test_merge_additive_sql_shape():
    sql = merge_additive_sql("kg.edges", "batch_view",
                             ["subj", "pred", "obj"], ["n_support"])
    assert sql == (
        "MERGE INTO kg.edges t USING batch_view s "
        "ON t.subj = s.subj AND t.pred = s.pred AND t.obj = s.obj "
        "WHEN MATCHED THEN UPDATE SET t.n_support = t.n_support + s.n_support "
        "WHEN NOT MATCHED THEN INSERT *")


def _rows(spark, data):
    return spark.createDataFrame(
        data, "subj string, pred string, obj string, n_support long")


def _parquet_reads(spark, monkeypatch):
    """Records every (path, frame) a ``read...parquet(path)`` returns."""
    seen = []
    reader = type(spark.read)
    plain = reader.parquet

    def spy(self, *paths, **kw):
        df = plain(self, *paths, **kw)
        seen.append((paths[0], df))
        return df
    monkeypatch.setattr(reader, "parquet", spy)
    return seen


def _assert_read_with_inferred_schema(spark, seen, version):
    """The sink read the committed ``version`` with exactly the schema a
    schema-inferring read finds."""
    reads = [(p, df) for p, df in seen if os.path.basename(p) == version]
    assert reads, f"the sink never read {version}"
    for path, df in reads:
        assert df.schema == spark.read.parquet(path).schema, path


def test_incremental_sink_merges_and_replays(spark, tmp_path, monkeypatch):
    """Two batches fold additively; replaying a committed batch (the only
    replay foreachBatch can issue) is a no-op in both crash windows."""
    seen = _parquet_reads(spark, monkeypatch)
    target = str(tmp_path / "edges")
    sink = incremental_agg_sink(spark, target,
                                ["subj", "pred", "obj"], ["n_support"])
    sink(_rows(spark, [("a", "r", "b", 1), ("a", "r", "b", 1),
                       ("c", "r", "d", 1)]), 0)
    sink(_rows(spark, [("a", "r", "b", 1), ("e", "r", "f", 1)]), 1)
    got = {(r.subj, r.pred, r.obj): r.n_support
           for r in read_current_version(spark, target).collect()}
    assert got == {("a", "r", "b"): 3, ("c", "r", "d"): 1,
                   ("e", "r", "f"): 1}
    _assert_read_with_inferred_schema(spark, seen, "v0")
    # crash-replay of the committed batch 1: pointer already names it
    sink(_rows(spark, [("a", "r", "b", 1), ("e", "r", "f", 1)]), 1)
    got2 = {(r.subj, r.pred, r.obj): r.n_support
            for r in read_current_version(spark, target).collect()}
    assert got2 == got
    # GC keeps at most the committed version and its parent
    vdirs = [d for d in os.listdir(target) if d.startswith("v")]
    assert "v1" in vdirs and len(vdirs) <= 2


def test_incremental_sink_crash_before_commit(spark, tmp_path):
    """A staged-but-uncommitted version (crash between the parquet write
    and the pointer flip) is invisible to readers and harmlessly
    overwritten by the replay."""
    target = str(tmp_path / "edges")
    sink = incremental_agg_sink(spark, target,
                                ["subj", "pred", "obj"], ["n_support"])
    sink(_rows(spark, [("a", "r", "b", 1)]), 0)
    # simulate the crash window: v1 written, _CURRENT still points at v0
    _rows(spark, [("z", "z", "z", 99)]).write.mode("overwrite") \
        .parquet(os.path.join(target, "v1"))
    cur = read_current_version(spark, target)
    assert [(r.subj, r.n_support) for r in cur.collect()] == [("a", 1)]
    sink(_rows(spark, [("a", "r", "b", 1)]), 1)  # the replay
    got = {(r.subj, r.pred, r.obj): r.n_support
           for r in read_current_version(spark, target).collect()}
    assert got == {("a", "r", "b"): 2}


def test_stream_kg_edges_equals_batch(spark, tiny_corpus, tmp_path):
    """readStream → triple evidence → incremental merge across ≥2
    micro-batches == one batch aggregate over the same extraction."""
    src = str(tmp_path / "src")
    # several input files so maxFilesPerTrigger=1 yields several batches
    tiny_corpus.repartition(4).write.mode("overwrite").parquet(src)
    q = ingest.stream_kg_edges(spark, src, str(tmp_path / "ckpt"),
                               str(tmp_path / "edges"))
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()
    n_batches = len(os.listdir(os.path.join(str(tmp_path / "ckpt"),
                                            "commits")))
    assert n_batches >= 2, "merge path must actually iterate"
    got = {(r.subj, r.pred, r.obj): r.n_support
           for r in read_current_version(
               spark, str(tmp_path / "edges")).collect()}
    batch = ingest.turn_local_triples_join(
        spark.read.parquet(src), syn.kb_aliases(spark),
        syn.kb_facts(spark)) \
        .groupBy("subj", "pred", "obj") \
        .agg(F.count(F.lit(1)).alias("n_support"))
    want = {(r.subj, r.pred, r.obj): r.n_support for r in batch.collect()}
    assert got == want and len(want) > 0


@pytest.mark.parametrize("builder, reads", [
    (ingest.stream_kg_edges, (1, 1)),   # aliases and facts
], ids=["edges"])
def test_stream_kb_evaluated_once_per_query(spark, tiny_corpus, tmp_path,
                                            monkeypatch, builder, reads):
    """The stream's static KB side is evaluated once when the query
    starts, not once per micro-batch; a restart evaluates it once more."""
    aliases, al_acc, n_al = _counted(spark, syn.kb_aliases(spark))
    facts, fa_acc, n_fa = _counted(spark, syn.kb_facts(spark))
    monkeypatch.setattr(syn, "kb_aliases", lambda _: aliases)
    monkeypatch.setattr(syn, "kb_facts", lambda _: facts)
    src, held = tmp_path / "src", tmp_path / "held"
    tiny_corpus.repartition(4).write.parquet(str(src))
    held.mkdir()
    last = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))[-1]
    shutil.move(str(src / last), str(held / last))

    def run() -> int:
        q = builder(spark, str(src), str(tmp_path / "ck"),
                    str(tmp_path / "out"))
        try:
            assert q.awaitTermination(180)
        finally:
            q.stop()
        return len([p for p in q.recentProgress if p["numInputRows"] > 0])

    def evaluations():
        return (al_acc.value / n_al, fa_acc.value / n_fa)

    assert run() == 3
    assert evaluations() == reads
    shutil.move(str(held / last), str(src / last))
    assert run() == 1
    assert evaluations() == tuple(2 * r for r in reads)


def test_batch_split_invariance_property(spark, tmp_path):
    """Property (hypothesis): ANY split of the evidence rows into ordered
    batches folds to the same final table — merge-associativity is the
    whole correctness argument for incremental maintenance, so it gets a
    randomized check, not just the two hand-picked splits above."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    rows = [("a", "r", "b"), ("a", "r", "b"), ("c", "r", "d"),
            ("a", "r", "b"), ("c", "r", "d"), ("e", "r", "f"),
            ("e", "r", "f"), ("a", "q", "b")]
    want = {}
    for s, p, o in rows:
        want[(s, p, o)] = want.get((s, p, o), 0) + 1
    case = [0]

    @settings(max_examples=5, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(cuts=st.lists(st.integers(1, len(rows) - 1),
                         min_size=0, max_size=3, unique=True))
    def check(cuts):
        case[0] += 1
        target = str(tmp_path / f"edges{case[0]}")
        sink = incremental_agg_sink(spark, target,
                                    ["subj", "pred", "obj"], ["n_support"])
        bounds = [0] + sorted(cuts) + [len(rows)]
        for i in range(len(bounds) - 1):
            chunk = rows[bounds[i]:bounds[i + 1]]
            sink(_rows(spark, [(s, p, o, 1) for s, p, o in chunk]), i)
        got = {(r.subj, r.pred, r.obj): r.n_support
               for r in read_current_version(spark, target).collect()}
        assert got == want

    check()


def test_fresh_checkpoint_restart_raises(spark, tmp_path):
    """Round-3 advisor (medium): a stream restarting with a FRESH
    checkpoint resets batch ids to 0; the replay guard must fail loudly
    instead of silently dropping batches until ids catch up."""
    import pytest
    target = str(tmp_path / "edges")
    sink = incremental_agg_sink(spark, target,
                                ["subj", "pred", "obj"], ["n_support"])
    sink(_rows(spark, [("a", "r", "b", 1)]), 0)
    sink(_rows(spark, [("a", "r", "b", 1)]), 1)
    with pytest.raises(RuntimeError, match="fresh checkpoint"):
        sink(_rows(spark, [("x", "r", "y", 1)]), 0)


def test_stream_identity_mismatch_raises(spark, tmp_path):
    import pytest
    target = str(tmp_path / "edges")
    a = incremental_agg_sink(spark, target, ["subj", "pred", "obj"],
                             ["n_support"], stream_id="ckpt-A")
    a(_rows(spark, [("a", "r", "b", 1)]), 0)
    b = incremental_agg_sink(spark, target, ["subj", "pred", "obj"],
                             ["n_support"], stream_id="ckpt-B")
    with pytest.raises(RuntimeError, match="belongs to stream"):
        b(_rows(spark, [("x", "r", "y", 1)]), 0)


def test_same_stream_batch0_replay_skips(spark, tmp_path):
    """With a recorded identity, the genuine crash-replay of batch 0 by
    the SAME stream stays a silent exactly-once skip."""
    target = str(tmp_path / "edges")
    sink = incremental_agg_sink(spark, target, ["subj", "pred", "obj"],
                                ["n_support"], stream_id="ckpt-A")
    sink(_rows(spark, [("a", "r", "b", 1)]), 0)
    sink(_rows(spark, [("a", "r", "b", 1)]), 0)  # replay, not a restart
    got = {(r.subj, r.pred, r.obj): r.n_support
           for r in read_current_version(spark, target).collect()}
    assert got == {("a", "r", "b"): 1}


def test_keep_versions_gc(spark, tmp_path):
    """keep_versions widens the reader/GC race window for long-lived
    read_current_version consumers (round-3 advisor, low)."""
    target = str(tmp_path / "edges")
    sink = incremental_agg_sink(spark, target, ["subj", "pred", "obj"],
                                ["n_support"], stream_id="c",
                                keep_versions=3)
    for b in range(4):
        sink(_rows(spark, [("a", "r", "b", 1)]), b)
    vdirs = sorted(d for d in os.listdir(target) if d.startswith("v")
                   and d[1:].isdigit())
    assert vdirs == ["v1", "v2", "v3"]

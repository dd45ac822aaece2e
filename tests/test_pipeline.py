"""End-to-end slice: DS triples are exactly the fact-supported co-occurring
pairs (golden logic re-derived independently in plain Python)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from usc_ds_relationextraction_spark.functions import tokenize as tk
from usc_ds_relationextraction_spark.plans.pipeline import KGPipeline
from usc_ds_relationextraction_spark.sources import synthetic as syn


@pytest.fixture(scope="module")
def pipe(spark, tiny_corpus, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    p = KGPipeline(spark, wh)
    p.run(tiny_corpus, syn.kb_aliases(spark), syn.kb_facts(spark))
    return p


def _python_oracle_triples(rows):
    """Plain-Python re-derivation: tokenize, chunk NNP runs, link aliases,
    pair, label via facts — independent of any Spark code path."""
    aliases = {}
    for eid, name, typ, _ in syn.entity_rows():
        aliases.setdefault(name, set()).add(eid)
        aliases.setdefault(name.lower(), set()).add(eid)
    facts = {}
    for s, o, r in syn.fact_rows():
        facts.setdefault((s, o), set()).add(r)
    triples = set()
    for row in rows:
        for sent in tk.split_sentences_py(row.text):
            toks = tk.tokenize_py(sent)
            pos = [tk._tag_one(t) for t in toks]
            # NNP runs
            ems, i = [], 0
            while i < len(toks):
                if pos[i] == "NNP":
                    j = i
                    while j < len(toks) and pos[j] == "NNP":
                        j += 1
                    ems.append((i, j, " ".join(toks[i:j])))
                    i = j
                else:
                    i += 1
            linked = [(s, e, surf, aliases.get(surf, set()))
                      for (s, e, surf) in ems]
            linked = [x for x in linked if x[3]]
            for (a, b) in itertools.combinations(linked, 2):
                for ea in a[3]:
                    for eb in b[3]:
                        for r in facts.get((ea, eb), ()):  # forward
                            triples.add((a[2], r, b[2]))
                        for r in facts.get((eb, ea), ()):  # reverse
                            triples.add((b[2], r, a[2]))
    return triples


def test_triples_match_python_oracle(pipe, tiny_corpus):
    got = {(r.subj, r.pred, r.obj)
           for r in pipe.wh.read("triples_ds").collect()}
    want = _python_oracle_triples(tiny_corpus.collect())
    assert got == want
    assert len(got) > 0


def test_pairs_have_none_negatives(pipe):
    rm = pipe.wh.read("rm_pairs")
    n_none = rm.where(F.col("labels") == F.array(F.lit("None"))).count()
    assert n_none > 0  # DS negatives exist


def test_resume_skips_rebuild(pipe, spark, tiny_corpus):
    """Checkpoint-resume: ensure() returns existing tables untouched."""
    before = pipe.wh.read("triples_ds").count()
    # second run with an EMPTY turns df must still return the checkpointed result
    empty = tiny_corpus.limit(0)
    out = pipe.run(empty, syn.kb_aliases(spark), syn.kb_facts(spark))
    assert out.count() == before


def test_metrics_lineage(pipe):
    m = pipe.wh.metrics()
    stages = {r["stage"] for r in m}
    assert {"sentences", "candidates", "entity_mentions",
            "rm_pairs", "triples_ds"} <= stages
    for r in m:
        assert r["max_partition_rows"] >= r["p50_partition_rows"] \
            >= r["min_partition_rows"]
        if "per_partition" in r:  # full detail only at human-sized counts
            assert r["rows"] == sum(r["per_partition"])
            assert len(r["per_partition"]) == r["n_partitions"]

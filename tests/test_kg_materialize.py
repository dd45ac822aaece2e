"""Canonical KG materialization: node/edge tables are consistent with
the KB dimensions and the flagship triples output."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from usc_ds_relationextraction_spark.plans.pipeline import KGPipeline
from usc_ds_relationextraction_spark.sources import synthetic as syn


@pytest.fixture(scope="module")
def kg(spark, tiny_corpus, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("kgwh"))
    p = KGPipeline(spark, wh)
    aliases = syn.kb_aliases(spark)
    facts = syn.kb_facts(spark)
    p.run(tiny_corpus, aliases, facts)
    tables = p.kg_tables(aliases, facts)
    return {"pipe": p, "tables": tables, "aliases": aliases, "facts": facts}


def test_nodes_are_known_entities_with_canonical_names(kg):
    nodes = kg["tables"]["kg_entities"].collect()
    assert nodes, "no entity nodes materialized"
    canon = {eid: name for eid, name, _, _ in syn.entity_rows()}
    for r in nodes:
        assert r.entity_id in canon
        # canonical name is the cased dictionary form, never a lowercase
        # alias variant
        assert r.canonical_name == canon[r.entity_id]
        assert r.n_mentions >= r.n_convs >= 1
        # every recorded surface lowercases to the canonical name
        for s in r.surfaces.split(","):
            assert s.lower() == canon[r.entity_id].lower()


def test_edges_are_observed_kb_facts(kg):
    edges = kg["tables"]["kg_edges"].collect()
    assert edges, "no canonical edges materialized"
    facts = {(s, o, r) for s, o, r in syn.fact_rows()}
    canon = {eid: name for eid, name, _, _ in syn.entity_rows()}
    for e in edges:
        assert (e.subj_id, e.obj_id, e.pred) in facts
        assert e.subj_name == canon[e.subj_id]
        assert e.obj_name == canon[e.obj_id]
        assert e.n_support >= e.n_convs >= 1


def test_edges_cover_exactly_the_triples_ds_fact_pairs(kg, spark):
    """The canonical edge set must equal triples_ds mapped through the
    alias dictionary: same evidence, two aggregation granularities."""
    trip = kg["pipe"].wh.read("triples_ds")
    # surface -> entity ids (ambiguous aliases fan out, same as linking)
    alias_rows = kg["aliases"].collect()
    amap: dict[str, set[str]] = {}
    for r in alias_rows:
        amap.setdefault(r.alias, set()).add(r.entity_id)
    facts = {(s, o): r for s, o, r in syn.fact_rows()}
    fact_set = {(s, o, r) for s, o, r in syn.fact_rows()}
    expected = set()
    for t in trip.collect():
        for s_id in amap.get(t.subj, ()):
            for o_id in amap.get(t.obj, ()):
                if (s_id, o_id, t.pred) in fact_set:
                    expected.add((s_id, t.pred, o_id))
    got = {(e.subj_id, e.pred, e.obj_id)
           for e in kg["tables"]["kg_edges"].collect()}
    assert got == expected


def test_kg_tables_resume_from_warehouse(kg):
    """Second call reads the materialized tables (ensure() hit, no
    rebuild): row counts identical."""
    n0 = kg["tables"]["kg_entities"].count()
    e0 = kg["tables"]["kg_edges"].count()
    again = kg["pipe"].kg_tables(kg["aliases"], kg["facts"])
    assert again["kg_entities"].count() == n0
    assert again["kg_edges"].count() == e0


def test_kg_entities_equal_link_entities_nodes(spark, tiny_corpus,
                                               tmp_path):
    """``kg_entities`` is built from the ``entity_mentions`` stage; it must
    equal the nodes of a fresh ``link_entities`` over the candidates, row
    for row, with an ambiguous alias (one surface, two entities) and
    lowercase alias variants in the dictionary."""
    from usc_ds_relationextraction_spark.operators import ds_label
    from usc_ds_relationextraction_spark.plans import kg_materialize as kgm

    rows = [tuple(r) for r in syn.kb_aliases(spark).collect()]
    assert any(a != a.lower() and (a.lower(), e, t) in rows
               for a, e, t in rows), "no lowercase alias variant"
    # the first entity's cased name also names the second entity
    (a0, e0, _), (_, e1, t1) = rows[0], next(
        r for r in rows if r[1] != rows[0][1])
    aliases = spark.createDataFrame(rows + [(a0, e1, t1)],
                                    syn.kb_aliases(spark).schema)
    p = KGPipeline(spark, str(tmp_path))
    p.run(tiny_corpus, aliases, syn.kb_facts(spark))
    got = p.kg_tables(aliases, syn.kb_facts(spark))["kg_entities"]
    want = kgm.entity_nodes(ds_label.link_entities(
        p.wh.read("candidates"), aliases), aliases)
    got_rows = got.collect()
    assert sorted(map(tuple, got_rows)) == \
        sorted(map(tuple, want.select(*got.columns).collect()))
    surfaces = {r.entity_id: r.surfaces.split(",") for r in got_rows}
    assert a0 in surfaces[e0] and a0 in surfaces.get(e1, []), \
        "the ambiguous alias linked no mention"


def test_spark_lower_equals_python_lower_on_kb_aliases(spark):
    """The session maps case with the JVM, not ICU; alias blocking lowers
    every alias, so both must agree on every alias the KB fixtures hold."""
    import __spark_entry__ as e

    for aliases in (syn.kb_aliases(spark), e._fx(spark, "sf0.01",
                                                  "kb_aliases")):
        rows = aliases.select("alias", F.lower("alias").alias("low")) \
            .collect()
        assert rows
        assert all(r.low == r.alias.lower() for r in rows)


def test_connected_components_chain(spark):
    """A 4-vertex chain needs multiple propagation rounds to flood the
    min id to the far end; plus an isolated vertex and a 2-cycle."""
    from usc_ds_relationextraction_spark.plans.kg_materialize import (
        connected_components)
    v = spark.createDataFrame(
        [(x,) for x in "abcdexy"], "entity_id string")
    und = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")]
    e = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src string, dst string")
    got = {(r.entity_id, r.component_id)
           for r in connected_components(v, e).collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
                   ("e", "a"), ("x", "x"), ("y", "x")}


def test_connected_components_non_convergence_raises(spark):
    from usc_ds_relationextraction_spark.plans.kg_materialize import (
        connected_components)
    import pytest as _pytest
    v = spark.createDataFrame([(x,) for x in "abcd"], "entity_id string")
    und = [("a", "b"), ("b", "c"), ("c", "d")]
    e = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src string, dst string")
    with _pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(v, e, max_iter=1)


def test_alias_blocking_df_window(spark):
    """min_df drops singleton tokens (no edge), max_df drops hub tokens
    (quadratic stop-block)."""
    from usc_ds_relationextraction_spark.plans.kg_materialize import (
        alias_blocking_edges)
    rows = [("Ann Corp", "e1"), ("Bob Corp", "e2"), ("Cid Corp", "e3"),
            ("Ann Reyes", "e4"), ("Zoe Solo", "e5")]
    al = spark.createDataFrame(
        [(a, i, "T") for a, i in rows],
        "alias string, entity_id string, entity_type string")
    got = {(r.src, r.dst)
           for r in alias_blocking_edges(al, min_df=2, max_df=2).collect()}
    # 'corp' df=3 > max_df → dropped; 'ann' df=2 links e1-e4; 'solo'
    # df=1 → no edge
    assert got == {("e1", "e4"), ("e4", "e1")}


def test_edges_by_component(spark):
    """Collapse re-keys endpoints, merges support, drops now-reflexive
    edges."""
    from usc_ds_relationextraction_spark.plans.kg_materialize import (
        edges_by_component)
    edges = spark.createDataFrame(
        [("e1", "works_at", "e9", 3, 2),
         ("e2", "works_at", "e9", 1, 1),   # e2 resolves into e1's comp
         ("e1", "knows", "e2", 5, 4)],     # both endpoints one comp → drop
        "subj_id string, pred string, obj_id string, "
        "n_support bigint, n_convs bigint")
    comps = spark.createDataFrame(
        [("e1", "e1"), ("e2", "e1"), ("e9", "e9")],
        "entity_id string, component_id string")
    got = {(r.subj_id, r.pred, r.obj_id, r.n_support, r.n_convs)
           for r in edges_by_component(edges, comps).collect()}
    assert got == {("e1", "works_at", "e9", 4, 3)}

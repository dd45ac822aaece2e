"""Plan hygiene: the physical plans behind the headline queries must stay
the plans we designed — Arrow-only Python, predicate pushdown reaching the
parquet scans, no surprise cartesian products, whole-stage codegen on the
hot paths.  Guards against silent plan regressions (a correct-but-10×
plan is a bug at 100 TB even when the values match).
"""

from __future__ import annotations

import contextlib
import io

import pytest

import __spark_entry__ as e

SF = "/root/testdata/sf0.001"

HEADLINE = [
    "triples_ds", "p1_tokenize", "np_chunk_mentions", "p4_pair_generation",
    "a3_cooccur_real", "kg_canonical_edges", "m11_threshold_tune",
    "f13_dep_features", "s1_reference_replay", "p3_span_alignment",
]


def _plan(spark, name: str) -> str:
    df = e.queries()[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


@pytest.mark.parametrize("name", HEADLINE)
def test_no_row_python_udfs(spark, name):
    """input_hint mandates vectorized pandas/Arrow UDFs ONLY — a
    BatchEvalPython node means a row-at-a-time Python UDF crept in."""
    assert "BatchEvalPython" not in _plan(spark, name)


@pytest.mark.parametrize("name", HEADLINE)
def test_no_cartesian_product(spark, name):
    """CartesianProduct = an unpartitioned full cross — never acceptable
    in the headline set."""
    assert "CartesianProduct" not in _plan(spark, name)


def test_filter_pushdown_reaches_scan(spark):
    """p8's p_size > 40 must appear in the part scan's PushedFilters —
    the whole point of declaring the filter relationally.  p8_semi_gate
    is the one contract query with a literal filter on its scan, which
    is why that TPC-H double is kept."""
    plan = _plan(spark, "p8_semi_gate")
    assert "PushedFilters" in plan
    assert "GreaterThan(p_size,40)" in plan.replace(" ", "")


def test_column_pruning_reaches_scan(spark):
    """p7_vocab_gate_encode tokenizes only doc_id + text; its documents
    scan must read exactly those two of the table's columns."""
    plan = _plan(spark, "p7_vocab_gate_encode")
    scan = plan[plan.index("documents.parquet"):]
    schema_line = [ln for ln in scan.splitlines()
                   if "ReadSchema" in ln][0]
    assert schema_line.split("ReadSchema:")[1].strip() == \
        "struct<doc_id:bigint,text:string>"


def test_broadcast_joins_where_designed(spark):
    """The KB dimensions must land as broadcast joins (alias link, fact
    join) — a sort-merge join on a 100-row dimension means the hint or
    the sizing regressed."""
    plan = _plan(spark, "triples_ds")
    assert "BroadcastHashJoin" in plan


def test_partial_aggregation_on_hot_path(spark):
    """a3_cooccur_real (feature×type counts over the product mentions)
    must keep the map-side combine: HashAggregate (partial) → Exchange →
    HashAggregate (final), with the KB alias link broadcast.  (Codegen
    spans are not printed in AQE's pre-execution formatted plan, so the
    partial/final pair is the observable invariant here.)"""
    plan = _plan(spark, "a3_cooccur_real")
    assert plan.count("HashAggregate") >= 2
    agg_first = plan.index("HashAggregate")
    assert "Exchange" in plan[agg_first:]
    assert "BroadcastHashJoin" in plan


def test_er_blocking_plan_hygiene(spark):
    """The ER candidate-edge plan: df filter broadcast to the self-join
    sides, no cartesian, no Python anywhere (pure relational blocking)."""
    from usc_ds_relationextraction_spark.plans.kg_materialize import (
        alias_blocking_edges)
    aliases = e._fx(spark, SF, "kb_aliases")
    df = alias_blocking_edges(aliases)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan  # fully JVM-side
    assert "BroadcastHashJoin" in plan    # df window broadcasts


"""Driver-contract invariants: queries()/oracle_sql() stay aligned, the
distant-supervision front-end queries equal their DuckDB oracles, and the
generated DuckDB rule twins (POS tagger, lemmatizer) agree with the
Python implementations on a broad deterministic token sample."""

from __future__ import annotations

import re

import duckdb
import pytest

import __spark_entry__ as entry
from usc_ds_relationextraction_spark.functions.lemma import get_lemma
from usc_ds_relationextraction_spark.functions.tokenize import _tag_one
from usc_ds_relationextraction_spark.plans.parity_queries import (
    _sql_lems, _sql_pos_tag, _sql_word_shape)
from usc_ds_relationextraction_spark.functions.features import word_shape
from scripts.check_oracles import SF_DIR, TABLES, table_digest

TOKENS = [
    "Alice", "Smith", "works", "worked", "working", "runs", "running",
    "stopped", "cities", "buses", "boxes", "churches", "wishes", "glass",
    "glasses", "is", "was", "were", "men", "children", "met", "grew",
    "filed", "decided", "joined", "a", "an", "the", "in", "on", "42",
    "3rd", "e-mail", "O'Brien", ".", ",", "?", "said", "made", "dogs",
    "ladies", "tries", "freeing", "seeing", "agreed", "used", "uses",
    "Jones", "Corp", "summarize", "yes", "ss", "s", "I",
]


def test_query_oracle_keys_align():
    q = entry.queries()
    o = entry.oracle_sql()
    # every query carries a SQL oracle and every oracle an implementation
    assert set(q) == set(o), set(q) ^ set(o)
    # the snapshot-ordering lists name only registered queries
    # (_curated skips unknown names, so a stale entry would go unnoticed)
    stale = (set(entry._LEAD) | set(entry._DEPRIORITIZED)) - set(q)
    assert not stale, f"ordering names without queries: {stale}"


def test_every_gate_table_is_read():
    """Each driver table the oracle scripts register is read by some
    oracle, so the gate's table list names no table it does not need."""
    sql = list(entry.oracle_sql().values())
    unread = [t for t in TABLES
              if not any(re.search(rf"\b(FROM|JOIN)\s+{t}\b", q, re.I)
                         for q in sql)]
    assert not unread, f"gate tables no oracle reads: {unread}"


# the queries that project KGPipeline's front-end operators (sentences,
# candidates, alias link, pairs, fact labels)
FRONT_END = [
    "p1_tokenize", "np_chunk_mentions", "j1_entity_linking",
    "p4_pair_generation", "ds_label_pairs", "triples_ds", "so1_label_union",
    "a2_mention_histogram",
]


@pytest.mark.parametrize("name", FRONT_END)
def test_front_end_query_equals_oracle(spark, name):
    """The value-hash gate of ``scripts/check_oracles.py`` on one query."""
    df = entry.queries()[name](spark, SF_DIR)
    got = table_digest(df.columns, [tuple(r) for r in df.collect()])
    res = duckdb.connect().execute(entry.oracle_sql()[name])
    cols = [d[0] for d in res.description]
    assert sorted(df.columns) == sorted(cols)
    assert got == table_digest(cols, res.fetchall())
    assert got[0] > 0


def test_sql_pos_tagger_agrees_with_python():
    con = duckdb.connect()
    expr = _sql_pos_tag("token")
    rows = con.execute(
        f"SELECT token, {expr} AS tag FROM (SELECT UNNEST(?) AS token)",
        [TOKENS]).fetchall()
    for tok, tag in rows:
        assert tag == _tag_one(tok), (tok, tag, _tag_one(tok))


def test_sql_lemmatizer_agrees_with_python():
    con = duckdb.connect()
    # run every token through every POS the gate distinguishes
    sql = f"""
WITH toks AS (
  SELECT 'c' AS conv_id, 0 AS turn_idx,
         row_number() OVER () AS pos, token
  FROM (SELECT UNNEST(?) AS token)
),
{_sql_lems()}
SELECT token, tag, lemma FROM lems
"""
    rows = con.execute(sql, [TOKENS]).fetchall()
    for tok, tag, lemma in rows:
        assert lemma == get_lemma(tok, tag), (tok, tag, lemma,
                                              get_lemma(tok, tag))


def test_sql_word_shape_agrees_with_python():
    con = duckdb.connect()
    samples = ["Alice", "ABC-12", "a1B2", "O'Brien", "...", "x", "McDonald"]
    expr = _sql_word_shape("t")
    rows = con.execute(
        f"SELECT t, {expr} FROM (SELECT UNNEST(?) AS t)", [samples]).fetchall()
    for t, s in rows:
        assert s == word_shape(t), (t, s, word_shape(t))

"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction slice on sf0.001.
``queries()`` exposes one entry per implemented operator from SURVEY.md §2
(plus the multimodal entries); ``oracle_sql()`` gives
each a DuckDB twin over the same parquet inputs.

The distant-supervision front-end queries (``p1_tokenize``,
``np_chunk_mentions``, ``j1_entity_linking``, ``p4_pair_generation``,
``ds_label_pairs``, ``triples_ds``, ``so1_label_union``,
``a2_mention_histogram``) and the helpers other plans reuse
(``_mentions_df``, ``_linked_df``, ``_pairs_df``, ``_labeled_pairs_df``)
project the operators ``KGPipeline`` runs, so their oracles check the
product's sentences, candidates, alias link, pairs and fact labels.

Engine-parity rules used throughout (see
usc_ds_relationextraction_spark/functions/hashing.py):
 - portable 60-bit hash: Spark ``conv(substring(md5(x),1,15),16,10)``
   == DuckDB ``('0x'||substr(md5(x),1,15))::bigint``
 - no raw float aggregates cross-engine: money/quantity scaled to integer
   cents before SUM; embedding values and weights integer-quantized
   (×1000) so sums and means are exact integer arithmetic in both
   engines.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from usc_ds_relationextraction_spark.functions.tokenize import (POS_DICT,
                                                                pos_tags_col,
                                                                tokens_col)
from usc_ds_relationextraction_spark.operators import ds_label, mentions
from usc_ds_relationextraction_spark.operators import pairs as pairs_op
from usc_ds_relationextraction_spark.sources import synthetic as syn

REPO = os.path.dirname(os.path.abspath(__file__))
FX01 = os.path.join(REPO, ".fixtures", "sf0.01")  # oracle side is sf0.01


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _fx(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    d = syn.ensure_fixtures(spark, sf_dir)
    return spark.read.parquet(os.path.join(d, f"{name}.parquet"))


def _fx_sql(name: str) -> str:
    return f"read_parquet('{FX01}/{name}.parquet/*.parquet')"


# ---------------------------------------------------------------- pipeline
def _turn_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """turn-level whitespace tokens + rule POS (JVM fast path) for the
    feature-parity queries that slice a turn by turn-level offsets."""
    t = _fx(spark, sf_dir, "transcripts")
    return t.withColumn("toks", tokens_col("text")) \
        .withColumn("pos", pos_tags_col("toks"))


# The front-end helpers below project the operators KGPipeline runs
# (operators/{mentions,ds_label,pairs}).  Their one contract-side step
# moves token offsets from the sentence to the turn, the unit the oracles
# count in; ``sent_id`` is the product's ``sent_idx``.

def _sentences_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mentions.sentences_table`` plus ``off``: the turn-level offset of
    the sentence's first token (the token count of the turn's earlier
    sentences)."""
    from pyspark.sql import Window
    before = Window.partitionBy("conv_id", "turn_idx").orderBy("sent_idx") \
        .rowsBetween(Window.unboundedPreceding, -1)
    s = mentions.sentences_table(_fx(spark, sf_dir, "transcripts"))
    return s.withColumn("off", F.coalesce(
        F.sum(F.size("tokens")).over(before), F.lit(0)).cast("int"))


def _candidates_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mentions.candidates_table`` with turn-level start/end."""
    s = _sentences_df(spark, sf_dir)
    keys = ["conv_id", "turn_idx", "sent_idx"]
    c = mentions.candidates_table(s).join(s.select(*keys, "off"), keys)
    return c.withColumn("start", F.col("start") + F.col("off")) \
        .withColumn("end", F.col("end") + F.col("off"))


def _linked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ds_label.link_entities`` over the turn-level candidates."""
    aliases = _fx(spark, sf_dir, "kb_aliases") \
        .select("alias", "entity_id", "entity_type").distinct()
    return ds_label.link_entities(_candidates_df(spark, sf_dir), aliases)


def _rm_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pairs.rm_candidates`` over ``ds_label.entity_mentions``."""
    return pairs_op.rm_candidates(
        ds_label.entity_mentions(_linked(spark, sf_dir)))


def _mentions_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NNP-run candidates: turn-level offsets + sentence id."""
    return _candidates_df(spark, sf_dir).select(
        "conv_id", "turn_idx", "start", "end", "surface",
        F.col("sent_idx").alias("sent_id"))


def _linked_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (candidate, linked alias entity)."""
    return _linked(spark, sf_dir).select(
        "conv_id", "turn_idx", F.col("sent_idx").alias("sent_id"), "start",
        "end", "surface", "entity_id", "entity_type")


def _pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (mention pair, em1 entity, em2 entity)."""
    p = pairs_op.entity_pairs(_rm_df(spark, sf_dir))
    return p.select("conv_id", "turn_idx", F.col("sent_idx").alias("sent_id"),
                    F.col("em1Start").alias("em1_start"),
                    F.col("em1End").alias("em1_end"),
                    F.col("em1Text").alias("em1_text"), "em1_entity",
                    F.col("em2Start").alias("em2_start"),
                    F.col("em2End").alias("em2_end"),
                    F.col("em2Text").alias("em2_text"), "em2_entity",
                    F.col("numOfEMBetween").alias("num_between"))


def _labeled_pairs_df(spark: SparkSession, sf_dir: str,
                      pairs: DataFrame | None = None) -> DataFrame:
    """``_pairs_df`` rows ⋈ KB facts: one row per (pair, fact, direction)."""
    p = pairs if pairs is not None else _pairs_df(spark, sf_dir)
    return pairs_op.fact_rows(p, _fx(spark, sf_dir, "kb_facts"))


# SQL building blocks shared by the pipeline oracles
def _sql_toks() -> str:
    return f"""
turns AS (
  SELECT conv_id, turn_idx,
         list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM {_fx_sql('transcripts')}
),
toks AS (
  SELECT conv_id, turn_idx, i AS pos, toks[i] AS token
  FROM turns, UNNEST(generate_series(1, len(toks))) AS u(i)
)"""


def _sql_is_np() -> str:
    keys = ", ".join(f"'{k}'" for k in sorted(POS_DICT))
    return (f"(regexp_matches(token, '^[A-Z]') AND lower(token) NOT IN "
            f"({keys}))")


def _sql_mentions() -> str:
    """CTE chain toks → flagged → mentions(conv,turn,sent_id,start,end,surface)."""
    return f"""{_sql_toks()},
flagged AS (
  SELECT conv_id, turn_idx, pos, token,
         {_sql_is_np()} AS is_np,
         CASE WHEN token IN ('.', '?', '!') THEN 1 ELSE 0 END AS is_term
  FROM toks
),
lagged AS (
  SELECT *,
    coalesce(lag(is_np) OVER (PARTITION BY conv_id, turn_idx ORDER BY pos),
             false) AS prev_np
  FROM flagged
),
runs AS (
  SELECT *,
    SUM(CASE WHEN is_np AND NOT prev_np THEN 1 ELSE 0 END)
      OVER (PARTITION BY conv_id, turn_idx ORDER BY pos
            ROWS UNBOUNDED PRECEDING) AS run_id,
    coalesce(SUM(is_term)
      OVER (PARTITION BY conv_id, turn_idx ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS terms_before
  FROM lagged
),
mentions AS (
  SELECT conv_id, turn_idx, run_id,
         CAST(MIN(terms_before) AS INT) AS sent_id,
         CAST(MIN(pos) - 1 AS INT) AS start,
         CAST(MAX(pos) AS INT) AS "end",
         STRING_AGG(token, ' ' ORDER BY pos) AS surface
  FROM runs WHERE is_np
  GROUP BY conv_id, turn_idx, run_id
)"""


def _sql_pairs() -> str:
    return f"""{_sql_mentions()},
linked AS (
  SELECT DISTINCT m.conv_id, m.turn_idx, m.sent_id, m.start, m."end",
         m.surface, a.entity_id, a.entity_type
  FROM mentions m JOIN {_fx_sql('kb_aliases')} a ON m.surface = a.alias
),
spans AS (
  SELECT DISTINCT conv_id, turn_idx, sent_id, start, "end", surface
  FROM linked
),
ranked AS (
  SELECT *, rank() OVER (PARTITION BY conv_id, turn_idx, sent_id
                         ORDER BY start) AS em_rank
  FROM spans
),
ents AS (
  SELECT r.*, l.entity_id
  FROM ranked r JOIN linked l
    ON r.conv_id = l.conv_id AND r.turn_idx = l.turn_idx
   AND r.sent_id = l.sent_id AND r.start = l.start
),
pairs AS (
  SELECT a.conv_id, a.turn_idx, a.sent_id,
         a.start AS em1_start, a."end" AS em1_end, a.surface AS em1_text,
         a.entity_id AS em1_entity,
         b.start AS em2_start, b."end" AS em2_end, b.surface AS em2_text,
         b.entity_id AS em2_entity,
         CAST(b.em_rank - a.em_rank - 1 AS INT) AS num_between
  FROM ents a JOIN ents b
    ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
   AND a.sent_id = b.sent_id AND a.start < b.start
)"""


# ------------------------------------------------------------ entry points
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: direct-DS triples over the sf0.001 synthetic transcripts."""
    sf_dir = "/root/testdata/sf0.001"
    q = queries()["triples_ds"]
    return q(spark, sf_dir)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    Q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---------------- KG pipeline operators (synthetic transcripts) ------
    def w2_turn_ordering(spark, sf):
        from pyspark.sql import Window
        t = _fx(spark, sf, "transcripts")
        w = Window.partitionBy("conv_id").orderBy("turn_idx")
        return t.select(
            "conv_id", "turn_idx", "role",
            F.row_number().over(w).alias("turn_no"),
            F.lag("role").over(w).alias("prev_role"))
    Q["w2_turn_ordering"] = w2_turn_ordering

    def p1_tokenize(spark, sf):
        s = _sentences_df(spark, sf)
        return s.select(
            "conv_id", "turn_idx", "off",
            F.posexplode("tokens").alias("pos0", "token")
        ).select("conv_id", "turn_idx",
                 (F.col("off") + F.col("pos0") + 1).cast("int").alias("pos"),
                 "token")
    Q["p1_tokenize"] = p1_tokenize

    def np_chunk_mentions(spark, sf):
        return _mentions_df(spark, sf)
    Q["np_chunk_mentions"] = np_chunk_mentions

    def j1_entity_linking(spark, sf):
        return _linked_df(spark, sf)
    Q["j1_entity_linking"] = j1_entity_linking

    def p4_pair_generation(spark, sf):
        return _pairs_df(spark, sf).drop("em1_entity", "em2_entity").distinct()
    Q["p4_pair_generation"] = p4_pair_generation

    def ds_label_pairs(spark, sf):
        return _labeled_pairs_df(spark, sf).select(
            "conv_id", "turn_idx", "sent_id", "em1_text", "em2_text",
            "relation", "direction")
    Q["ds_label_pairs"] = ds_label_pairs

    def triples_ds(spark, sf):
        lp = pairs_op.label_pairs(_rm_df(spark, sf),
                                  _fx(spark, sf, "kb_facts"))
        return pairs_op.ds_triples(lp).select(
            "subj", "pred", "obj", "conv_id", "turn_idx").distinct()
    Q["triples_ds"] = triples_ds

    def so1_label_union(spark, sf):
        lp = _labeled_pairs_df(spark, sf)
        return lp.groupBy("conv_id", "turn_idx", "sent_id",
                          "em1_text", "em2_text").agg(
            F.array_join(F.sort_array(F.collect_set("relation")), ",")
             .alias("label_set"))
    Q["so1_label_union"] = so1_label_union

    def a7_supertype_pairs(spark, sf):
        types = _fx(spark, sf, "kb_aliases").select(
            F.col("entity_type").alias("name")).distinct()
        sub = types.select(F.col("name").alias("sub_name"))
        sup = types.select(F.col("name").alias("sup_name"))
        cond = (F.expr("sub_name like concat(sup_name, '/%')")
                & (F.size(F.split("sub_name", "/"))
                   == F.size(F.split("sup_name", "/")) + 1))
        return sub.join(sup, cond).select("sub_name", "sup_name")
    Q["a7_supertype_pairs"] = a7_supertype_pairs

    def a2_mention_histogram(spark, sf):
        m = _mentions_df(spark, sf)
        per_turn = m.groupBy("conv_id", "turn_idx").count()
        return per_turn.groupBy(F.col("count").alias("n_mentions")) \
            .agg(F.count("*").alias("n_turns"))
    Q["a2_mention_histogram"] = a2_mention_histogram

    # ---------------- relational double (TPC-H driver tables) -----------
    # Kept as the one contract plan with a literal filter pushed to its
    # scan (tests/test_plans.py::test_filter_pushdown_reaches_scan).
    def p8_semi_gate(spark, sf):
        li = _t(spark, sf, "lineitem")
        p = _t(spark, sf, "part").where("p_size > 40")
        return li.join(p, li.l_partkey == p.p_partkey, "left_semi") \
            .groupBy("l_partkey").agg(F.count("*").alias("n"))
    Q["p8_semi_gate"] = p8_semi_gate

    from usc_ds_relationextraction_spark.plans import (extended_queries,
                                                       gate_queries,
                                                       kg_materialize,
                                                       parity_queries,
                                                       reference_ops,
                                                       replay_queries,
                                                       training_doubles)
    Q.update(extended_queries.queries())
    Q.update(parity_queries.queries())
    Q.update(reference_ops.queries())
    Q.update(replay_queries.queries())
    Q.update(gate_queries.queries())
    Q.update(training_doubles.queries())
    Q.update(kg_materialize.queries())
    from usc_ds_relationextraction_spark.plans import gate_round4
    Q.update(gate_round4.queries())
    from usc_ds_relationextraction_spark.plans import gate_round5
    Q.update(gate_round5.queries())
    return _curated(Q)


# Names the driver's 50-query snapshot may skip: the relational double
# and simple entries that have been driver-green since round 1/2 and
# whose implementations no longer change.  Everything NOT
# listed here leads the registry (insertion order preserved within each
# group), so the driver's hard correctness signal covers the training
# epochs, the kg_* materialization family, the replay gate, and any
# operator whose implementation changed this round.
_DEPRIORITIZED = [
    "p8_semi_gate", "a7_supertype_pairs", "a2_mention_histogram",
    "mm_binary_stats", "p2_unicode_norm", "p6_lemma",
    "a1_vocab_encode", "p7_vocab_gate_encode", "mm_decode_features",
    "p3_span_alignment", "a5_cumulative_table",
]

# Names guaranteed a slot in the driver's 50-query snapshot: this round's
# new gate entries plus the training-epoch and kg_* families.
_LEAD = [
    "s4_edge_list_roundtrip",
    "m4_objective_mix", "m5_lr_schedule", "m6_rm_bcd_epoch",
    "s7_embedding_roundtrip", "s8_prediction_roundtrip", "m9_nb_vote",
    "s2_stream_triples",
    "m1_sgns_epoch", "m2_ple_epoch", "m3_transe_epoch",
    "kg_entity_nodes", "kg_canonical_edges", "kg_entity_resolution",
    "kg_collapsed_edges", "mm_decode_real",
]


def _curated(Q: dict) -> dict:
    lead = {n: Q[n] for n in _LEAD if n in Q}
    tail = {n: Q[n] for n in _DEPRIORITIZED if n in Q}
    out = dict(lead)
    out.update({n: f for n, f in Q.items()
                if n not in lead and n not in tail})
    out.update(tail)
    return out


def oracle_sql() -> dict[str, str]:
    O: dict[str, str] = {}

    O["w2_turn_ordering"] = f"""
SELECT conv_id, turn_idx, role,
       CAST(row_number() OVER w AS INT) AS turn_no,
       lag(role) OVER w AS prev_role
FROM {_fx_sql('transcripts')}
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
"""

    O["p1_tokenize"] = f"""
WITH {_sql_toks().lstrip()}
SELECT conv_id, turn_idx, CAST(pos AS INT) AS pos, token FROM toks
"""

    O["np_chunk_mentions"] = f"""
WITH {_sql_mentions().lstrip()}
SELECT conv_id, turn_idx, start, "end", surface, sent_id FROM mentions
"""

    O["j1_entity_linking"] = f"""
WITH {_sql_mentions().lstrip()}
SELECT DISTINCT m.conv_id, m.turn_idx, m.sent_id, m.start, m."end",
       m.surface, a.entity_id, a.entity_type
FROM mentions m JOIN {_fx_sql('kb_aliases')} a ON m.surface = a.alias
"""

    O["p4_pair_generation"] = f"""
WITH {_sql_pairs().lstrip()}
SELECT DISTINCT conv_id, turn_idx, sent_id, em1_start, em1_end, em1_text,
       em2_start, em2_end, em2_text, num_between
FROM pairs
"""

    O["ds_label_pairs"] = f"""
WITH {_sql_pairs().lstrip()},
labeled AS (
  SELECT p.conv_id, p.turn_idx, p.sent_id, p.em1_text, p.em2_text,
         f.relation, 'fwd' AS direction
  FROM pairs p JOIN {_fx_sql('kb_facts')} f
    ON p.em1_entity = f.subj_id AND p.em2_entity = f.obj_id
  UNION ALL
  SELECT p.conv_id, p.turn_idx, p.sent_id, p.em1_text, p.em2_text,
         f.relation, 'rev' AS direction
  FROM pairs p JOIN {_fx_sql('kb_facts')} f
    ON p.em2_entity = f.subj_id AND p.em1_entity = f.obj_id
)
SELECT * FROM labeled
"""

    O["triples_ds"] = f"""
WITH {_sql_pairs().lstrip()},
labeled AS (
  SELECT p.em1_text AS subj, f.relation AS pred, p.em2_text AS obj,
         p.conv_id, p.turn_idx
  FROM pairs p JOIN {_fx_sql('kb_facts')} f
    ON p.em1_entity = f.subj_id AND p.em2_entity = f.obj_id
  UNION ALL
  SELECT p.em2_text AS subj, f.relation AS pred, p.em1_text AS obj,
         p.conv_id, p.turn_idx
  FROM pairs p JOIN {_fx_sql('kb_facts')} f
    ON p.em2_entity = f.subj_id AND p.em1_entity = f.obj_id
)
SELECT DISTINCT subj, pred, obj, conv_id, turn_idx FROM labeled
"""

    O["so1_label_union"] = f"""
WITH {_sql_pairs().lstrip()},
labeled AS (
  SELECT p.conv_id, p.turn_idx, p.sent_id, p.em1_text, p.em2_text, f.relation
  FROM pairs p JOIN {_fx_sql('kb_facts')} f
    ON p.em1_entity = f.subj_id AND p.em2_entity = f.obj_id
  UNION ALL
  SELECT p.conv_id, p.turn_idx, p.sent_id, p.em1_text, p.em2_text, f.relation
  FROM pairs p JOIN {_fx_sql('kb_facts')} f
    ON p.em2_entity = f.subj_id AND p.em1_entity = f.obj_id
)
SELECT conv_id, turn_idx, sent_id, em1_text, em2_text,
       array_to_string(list_sort(list_distinct(list(relation))), ',')
         AS label_set
FROM labeled
GROUP BY conv_id, turn_idx, sent_id, em1_text, em2_text
"""

    O["a7_supertype_pairs"] = f"""
WITH types AS (
  SELECT DISTINCT entity_type AS name FROM {_fx_sql('kb_aliases')}
)
SELECT a.name AS sub_name, b.name AS sup_name
FROM types a JOIN types b
  ON a.name LIKE b.name || '/%'
 AND len(string_split(a.name, '/')) = len(string_split(b.name, '/')) + 1
"""

    O["a2_mention_histogram"] = f"""
WITH {_sql_mentions().lstrip()},
per_turn AS (
  SELECT conv_id, turn_idx, COUNT(*) AS n_mentions
  FROM mentions GROUP BY conv_id, turn_idx
)
SELECT n_mentions, COUNT(*) AS n_turns FROM per_turn GROUP BY n_mentions
"""

    O["p8_semi_gate"] = """
SELECT l_partkey, COUNT(*) AS n
FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 40)
GROUP BY l_partkey
"""

    from usc_ds_relationextraction_spark.plans import (extended_queries,
                                                       gate_queries,
                                                       kg_materialize,
                                                       parity_queries,
                                                       reference_ops,
                                                       replay_queries,
                                                       training_doubles)
    O.update(extended_queries.oracles())
    O.update(parity_queries.oracles())
    O.update(reference_ops.oracles())
    O.update(replay_queries.oracles(FX01))
    O.update(gate_queries.oracles())
    O.update(training_doubles.oracles())
    O.update(kg_materialize.oracles())
    from usc_ds_relationextraction_spark.plans import gate_round4
    O.update(gate_round4.oracles())
    from usc_ds_relationextraction_spark.plans import gate_round5
    O.update(gate_round5.oracles())
    return O

"""Relation-mention candidate generation (SURVEY.md P4/P5/J2, W1).

Per sentence: every ordered pair of distinct entity mentions (textual
order, em1 before em2) becomes a relation-mention candidate; distant
supervision labels it by joining (subj_entity, obj_entity) against
``kb_facts`` in both directions, unioning relation labels per pair
(label-set union, nlp_parse.py:138-141 analog); pairs with no fact get
label ``None`` (the reference's negative type, evaluation.py:5-12).
:func:`ds_triples` turns the labeled pairs into direct-DS triples;
:func:`entity_pairs` + :func:`fact_rows` keep the per-(entity pair, fact)
evidence that the label-set collapse drops, for the canonical edge table.

``numOfEMBetween`` (P5): rank of EM start offsets within the sentence via
a window over (conv_id, turn_idx, sent_idx) — rank distance minus one
(nlp_parse.py:98-101).

Scale notes: the self-join and the window both key on the sentence id —
dense, high-cardinality, skew-free.  The facts join broadcasts (KB facts
are a dimension).  Entity-id pair key for the fact join is hub-skewed →
AQE skew-join stays on; a salt is unnecessary because the build side is
broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

NONE_LABEL = "None"


def with_em_rank(ems: DataFrame) -> DataFrame:
    """W1: rank entity mentions by start offset within each sentence."""
    w = Window.partitionBy("conv_id", "turn_idx", "sent_idx").orderBy("start", "end")
    return ems.withColumn("em_rank", F.rank().over(w))


def rm_candidates(ems: DataFrame) -> DataFrame:
    """Ordered co-occurring pairs within a sentence (em1 textually first)."""
    ranked = with_em_rank(ems)
    a = ranked.select(
        "conv_id", "turn_idx", "sent_idx",
        F.col("start").alias("em1Start"), F.col("end").alias("em1End"),
        F.col("surface").alias("em1Text"),
        F.col("entity_ids").alias("em1_entities"),
        F.col("em_rank").alias("em1_rank"),
        F.col("mention_key").alias("em1_key"),
    )
    b = ranked.select(
        "conv_id", "turn_idx", "sent_idx",
        F.col("start").alias("em2Start"), F.col("end").alias("em2End"),
        F.col("surface").alias("em2Text"),
        F.col("entity_ids").alias("em2_entities"),
        F.col("em_rank").alias("em2_rank"),
        F.col("mention_key").alias("em2_key"),
    )
    pairs = a.join(b, on=["conv_id", "turn_idx", "sent_idx"], how="inner").where(
        F.col("em1Start") < F.col("em2Start")
    )
    pairs = pairs.withColumn(
        "numOfEMBetween", (F.col("em2_rank") - F.col("em1_rank") - 1).cast("int")
    ).withColumn(
        "mention_key",
        F.concat_ws("_", "conv_id", "turn_idx", "sent_idx",
                    "em1Start", "em1End", "em2Start", "em2End"),
    )
    return pairs


def label_pairs(pairs: DataFrame, facts: DataFrame) -> DataFrame:
    """Distant supervision: label set = facts(subj,obj) ∪ reversed facts.

    Direction convention: emitted triples keep textual order (em1 = subj
    surface); a fact matching (em2_entity, em1_entity) contributes its
    relation with a ``_inv`` marker-free reverse pair — the reference keeps
    directed relationMentions with em1/em2 fixed by the corpus, so we do
    the same: the pair is (em1, em2) and both fact directions supervise it
    as separate candidate relations (forward kept as-is; reverse emitted as
    a swapped pair downstream at triple materialization).
    """
    pair_ents = (
        pairs.select("mention_key",
                     F.explode("em1_entities").alias("subj_id"), "em2_entities")
        .select("mention_key", "subj_id", F.explode("em2_entities").alias("obj_id"))
    )
    fwd = pair_ents.join(F.broadcast(facts), on=["subj_id", "obj_id"], how="inner") \
        .select("mention_key", F.col("relation").alias("label"),
                F.lit(False).alias("reversed"))
    rev = pair_ents.join(
        F.broadcast(facts.select(F.col("subj_id").alias("obj_id"),
                                 F.col("obj_id").alias("subj_id"), "relation")),
        on=["subj_id", "obj_id"], how="inner",
    ).select("mention_key", F.col("relation").alias("label"),
             F.lit(True).alias("reversed"))
    labels = fwd.unionByName(rev).groupBy("mention_key").agg(
        F.sort_array(F.collect_set("label")).alias("labels"),
        F.sort_array(F.collect_set(
            F.when(~F.col("reversed"), F.col("label")))).alias("labels_fwd"),
        F.sort_array(F.collect_set(
            F.when(F.col("reversed"), F.col("label")))).alias("labels_rev"),
    )
    out = pairs.join(labels, on="mention_key", how="left")
    return (
        out.withColumn("labels",
                       F.coalesce(F.col("labels"), F.array(F.lit(NONE_LABEL))))
        .withColumn("labels_fwd",
                    F.coalesce(F.col("labels_fwd"), F.array().cast("array<string>")))
        .withColumn("labels_rev",
                    F.coalesce(F.col("labels_rev"), F.array().cast("array<string>")))
    )


def ds_triples(labeled: DataFrame) -> DataFrame:
    """Direct distant-supervision triples from :func:`label_pairs` output:
    one row per (pair, relation label), in fact direction -- a forward
    label keeps textual order, a reverse label swaps subj and obj."""
    fwd = labeled.select(
        F.col("em1Text").alias("subj"),
        F.explode("labels_fwd").alias("pred"),
        F.col("em2Text").alias("obj"),
        "conv_id", "turn_idx", "mention_key",
    )
    rev = labeled.select(
        F.col("em2Text").alias("subj"),
        F.explode("labels_rev").alias("pred"),
        F.col("em1Text").alias("obj"),
        "conv_id", "turn_idx", "mention_key",
    )
    return fwd.unionByName(rev)


def entity_pairs(pairs: DataFrame) -> DataFrame:
    """One row per (pair, em1 entity, em2 entity): the ``em1_entities`` ×
    ``em2_entities`` label sets of :func:`rm_candidates` exploded to
    ``em1_entity``/``em2_entity``; every other column is kept."""
    keep = [c for c in pairs.columns
            if c not in ("em1_entities", "em2_entities")]
    return (pairs
            .select(*keep, F.explode("em1_entities").alias("em1_entity"),
                    "em2_entities")
            .select(*keep, "em1_entity",
                    F.explode("em2_entities").alias("em2_entity")))


def fact_rows(ents: DataFrame, facts: DataFrame) -> DataFrame:
    """Entity pairs (``em1_entity``, ``em2_entity``) ⋈ the KB facts in both
    directions: one row per (entity pair, matching fact) with its
    ``relation`` and ``direction`` ("fwd" when em1 is the fact's subject,
    "rev" when em2 is).  The fwd ∪ rev fact table is a dimension and is
    broadcast, so the pair side is joined once and never shuffled."""
    both = facts.select(F.col("subj_id").alias("em1_entity"),
                        F.col("obj_id").alias("em2_entity"), "relation",
                        F.lit("fwd").alias("direction")) \
        .unionByName(facts.select(F.col("obj_id").alias("em1_entity"),
                                  F.col("subj_id").alias("em2_entity"),
                                  "relation", F.lit("rev").alias("direction")))
    return ents.join(F.broadcast(both), on=["em1_entity", "em2_entity"])

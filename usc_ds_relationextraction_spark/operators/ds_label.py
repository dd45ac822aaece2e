"""Distant-supervision labeling (SURVEY.md J1).

Entity linking: candidate NP surfaces ⋈ KB alias dictionary.  The alias
dict is a small dimension (FIXTURES.md §2) → **salted broadcast hash
join** (north_star names this construct): broadcast avoids any shuffle of
the 10^12-row candidate table; the salt keeps the *downstream* per-entity
aggregations balanced when hub aliases dominate.

Upstream analog in the reference ecosystem: StructMineDataPipeline aligns
NER mentions to Freebase facts (reference README.md:24); inside this repo
the aligned labels simply arrive in the corpus JSON
(``nlp_parse.py:104-146``).  Here the alignment IS the engine's job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .skew import salted_join


def link_entities(
    candidates: DataFrame,
    aliases: DataFrame,
    n_salts: int = 8,
) -> DataFrame:
    """Candidates ⋈ aliases on exact surface → entity mentions.

    Returns one row per (mention, matched entity): ambiguous aliases yield
    multiple rows — the partial-label property the reference models as
    label *sets* (``mention_reader.py:61-66``).
    """
    cand = candidates.withColumn(
        "mention_key",
        F.concat_ws("_", "conv_id", "turn_idx", "sent_idx", "start", "end"),
    )
    dim = aliases.select(F.col("alias").alias("surface"), "entity_id", "entity_type")
    linked = salted_join(
        cand, dim, on=["surface"], how="inner", n_salts=n_salts,
        big_unique=F.col("mention_key"),
    )
    return linked


def entity_mentions(linked: DataFrame) -> DataFrame:
    """Collapse to one row per mention with the label *set* (SO1 analog:
    union of type labels per identical span)."""
    return (
        linked.groupBy("conv_id", "turn_idx", "sent_idx", "start", "end",
                       "mention_key", "surface")
        .agg(
            F.sort_array(F.collect_set("entity_id")).alias("entity_ids"),
            F.sort_array(F.collect_set("entity_type")).alias("labels"),
        )
    )


def linked_from_mentions(ems: DataFrame, aliases: DataFrame) -> DataFrame:
    """The :func:`link_entities` rows back from :func:`entity_mentions`
    output: one row per (mention, matching alias row), with that row's
    ``entity_type``.  A broadcast join on (surface, entity_id) recovers
    exactly the alias rows the salted join matched, duplicates
    included."""
    dim = aliases.select(F.col("alias").alias("surface"), "entity_id",
                         "entity_type")
    return ems.select("conv_id", "turn_idx", "sent_idx", "start", "end",
                      "mention_key", "surface",
                      F.explode("entity_ids").alias("entity_id")) \
        .join(F.broadcast(dim), on=["surface", "entity_id"])

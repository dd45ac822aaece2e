"""Bipartite-graph construction (SURVEY.md §2.4 A3/A4, §2.5 J4/J5).

The reference materializes three COO edge lists (``pruning_heuristics.py``):
``mention_feature``, ``mention_type``, ``feature_type``, plus the
mention-level ``triples`` linking each relation mention to its two entity
mentions.  Here each is a long-format DataFrame ``(row, col, w)`` — the
canonical Spark sparse-matrix encoding (SURVEY §1.1).

Scale notes:
 - feature_type (A3) = mention_feature ⋈ mention_type on mention_id then
   groupBy(feature,type).  This is THE hot shuffle: frequent features ×
   the None type are heavily skewed.  We pre-aggregate map-side by letting
   Catalyst's partial hash agg run, keep AQE skew handling on, and the
   count itself is a two-stage agg by construction.
 - ids are portable hashes (see vocab.py) — joins shuffle on uniformly
   distributed int64 keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h64

NONE_LABEL = "None"


def mention_feature_graph(exploded_features: DataFrame) -> DataFrame:
    """(mention_key, feature) → (mention_id, feature_id, w=1).

    Feature ids dedup per mention (reference keeps a *set* per mention,
    ner_feature.py:72-81).
    """
    return (
        exploded_features.select(
            h64("mention_key").alias("mention_id"),
            h64("feature").alias("feature_id"))
        .distinct()
        .withColumn("w", F.lit(1.0))
    )


def mention_type_graph(labeled_mentions: DataFrame,
                       neg_label_weight: float = 1.0,
                       labels_col: str = "labels") -> DataFrame:
    """(mention_key, labels[]) → (mention_id, type_id, w) with the
    None-label discount (P9, pruning_heuristics.py:66-67)."""
    e = labeled_mentions.select(
        h64("mention_key").alias("mention_id"),
        F.explode(labels_col).alias("label"))
    return e.select(
        "mention_id", h64("label").alias("type_id"),
        F.when(F.col("label") == NONE_LABEL,
               F.lit(float(neg_label_weight))).otherwise(F.lit(1.0)).alias("w"),
    ).distinct()


def feature_type_graph(mention_feature: DataFrame, mention_type: DataFrame,
                       neg_weight_applied: bool = True) -> DataFrame:
    """A3/J4: co-occurrence counts |mentions(f) ∩ mentions(t)|.

    The None discount is inherited multiplicatively from mention_type's w
    (pruning_heuristics.py:139-146 scales the intersection size by
    neg_label_weight for the None column — with w∈{1, nlw} on the type
    edges, sum(w) over joined rows equals count * nlw exactly).
    """
    joined = mention_feature.select("mention_id", "feature_id").join(
        mention_type.select("mention_id", "type_id", "w"), on="mention_id")
    return (
        joined.groupBy("feature_id", "type_id")
        .agg(F.sum("w").alias("w"))
        .where(F.col("w") > 0)
    )


def rm_em_triples(rm_pairs: DataFrame) -> DataFrame:
    """J5: (em1_id, em2_id, rm_id) — the reference derives the two EM keys
    from the RM composite key (pruning_heuristics.py:109-122); our RM rows
    carry em1_key/em2_key explicitly, so no string surgery is needed."""
    return rm_pairs.select(
        h64("em1_key").alias("em1_id"),
        h64("em2_key").alias("em2_id"),
        h64("mention_key").alias("rm_id"),
    )

"""Type inference + triple materialization (SURVEY.md §3.2-3.3, A9-A10,
J6/J7, M7/M8, P11/P12).

Reference protocol (``emb_prediction.py``):
 1. mention embedding = mean of its (test) feature embeddings
    (emb_prediction.py:80-89) — A9.
 2. score every type, keep argmax (load_all_candidates gives each mention
    the full type list, emb_prediction.py:92-105,192-209) — J7/M7.
 3. None fallback when score == 0.0 (no known features) — M8
    (emb_prediction.py:133-135).
 4. min-max normalize with min/max INITIALIZED AT 0.0 — the zero-clamp
    quirk (emb_prediction.py:152-164) is replicated exactly.
 5. threshold cut (emb_prediction.py:143-145) — P12.

Spark shape: one shuffle (the per-mention mean); feature embeddings join
is a broadcast hash join; the type matmul runs inside a pandas UDF against
the broadcast type matrix; min/max is a scalar agg cross-joined back.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def mention_embeddings(mention_feature_test: DataFrame,
                       emb_feature: DataFrame, dim: int = 50) -> DataFrame:
    """A9: emb(m) = Σ emb(f)/|F(m)| — broadcast join + per-dim AVG aggs
    (whole-stage codegen; no UDF)."""
    j = mention_feature_test.select("mention_id", "feature_id").join(
        F.broadcast(emb_feature.withColumnRenamed("id", "feature_id")),
        on="feature_id", how="inner")
    avgs = [F.avg(F.col("vec")[i]).alias(f"c{i}") for i in range(dim)]
    g = j.groupBy("mention_id").agg(*avgs)
    return g.select(
        "mention_id",
        F.array(*[F.col(f"c{i}") for i in range(dim)]).alias("vec"))


def score_types(spark: SparkSession, mention_emb: DataFrame,
                emb_type: DataFrame, sim: str = "cosine",
                none_type_id: int | None = None) -> DataFrame:
    """J7/M7/M8: argmax similarity over ALL types; None fallback at 0.

    Note the reference's cosine normalizes by ‖m‖‖y‖ — ties broken by
    first-seen type order; we break by type_id for determinism.
    """
    rows = emb_type.orderBy("id").collect()
    y_ids = np.array([r["id"] for r in rows], dtype=np.int64)
    Y = np.array([r["vec"] for r in rows], dtype=np.float64)
    b = spark.sparkContext.broadcast((y_ids, Y, sim, none_type_id))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, Ym, mode, none_id = b.value
        Yn = Ym / np.maximum(np.linalg.norm(Ym, axis=1, keepdims=True), 1e-12)
        for batch in batches:
            if len(batch) == 0:
                continue
            M = np.stack(batch["vec"].values).astype(np.float64)
            if mode == "cosine":
                Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True),
                                    1e-12)
                S = Mn @ Yn.T
            else:
                S = M @ Ym.T
            # all-zero mention vec => all cosine 0 => argmax picks row 0;
            # replicate the reference: score==0 → None fallback below
            best = np.argmax(S, axis=1)
            score = S[np.arange(len(S)), best]
            label = ids[best]
            if none_id is not None:
                z = score == 0.0
                label = np.where(z, none_id, label)
            yield pd.DataFrame({
                "mention_id": batch["mention_id"].values,
                "type_id": label.astype(np.int64),
                "score": score,
            })

    return mention_emb.mapInPandas(
        run, schema="mention_id long, type_id long, score double")


def min_max_normalize(scored: DataFrame, col: str = "score") -> DataFrame:
    """P11 with the reference's zero-initialized min/max
    (emb_prediction.py:152-164): min=min(0, min(s)), max=max(0, max(s))."""
    mm = scored.agg(
        F.least(F.min(col), F.lit(0.0)).alias("_mn"),
        F.greatest(F.max(col), F.lit(0.0)).alias("_mx"))
    out = scored.crossJoin(F.broadcast(mm))
    return out.withColumn(
        "score_norm",
        (F.col(col) - F.col("_mn")) / (F.col("_mx") - F.col("_mn") + 1e-8)
    ).drop("_mn", "_mx")


def threshold_cut(normalized: DataFrame, threshold: float) -> DataFrame:
    """P12 (emb_prediction.py:143-145): keep score_norm > θ."""
    return normalized.where(F.col("score_norm") > threshold)


def materialize_triples(predictions: DataFrame, rm_pairs: DataFrame,
                        type_vocab: DataFrame,
                        none_label: str = "None") -> DataFrame:
    """§3.3: join predictions back onto pairs → (subj, pred, obj) edges
    (convertPredictionToJson.py:36-61 semantics; subj/obj = mention
    surfaces, pred = predicted type name; None predictions drop out)."""
    from ..functions.hashing import h64
    rm = rm_pairs.select(
        h64("mention_key").alias("mention_id"),
        "em1Text", "em2Text", "conv_id", "turn_idx", "mention_key")
    p = predictions.join(
        F.broadcast(type_vocab.select(F.col("type_id"),
                                      F.col("name").alias("pred"))),
        on="type_id")
    j = p.join(rm, on="mention_id")
    return j.where(F.col("pred") != none_label).select(
        F.col("em1Text").alias("subj"), "pred",
        F.col("em2Text").alias("obj"),
        "conv_id", "turn_idx", "mention_key", "score")

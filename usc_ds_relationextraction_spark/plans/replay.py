"""One-command real-corpus replay gate (BASELINE.json metric path).

The reference's KBP/NYT/BioInfer corpora are download-only
(``/root/reference/data/source/KBP/README.md:1``), so the P/R ≥ 0.95
parity gate runs on the deterministic synthetic stand-in.  THIS module is
the one-command entry for the day real data appears: drop the reference's
``train_new.json`` / ``test_new.json`` (the nlp_parse.py:146-155 format)
into a directory and run ``scripts/replay.sh <dir>`` — it replays
features → graphs → train → predict → threshold-tune → M10 P/R/F1
through the exact pipeline stages the synthetic gate uses.

Semantics per the reference protocol:
 - features come from the corpus's OWN pre-parsed tokens/pos (P1 skipped,
   mention_reader.py replay semantics), extracted by the same pandas-UDF
   feature library that is byte-parity-tested against DuckDB.
 - the train/test split is the FILE split (train_new vs test_new), not
   the synthetic hash split.
 - gold = each test relation mention's label set; evaluation is
   evaluate_rm_neg exact-set M10 (evaluation.py:82-111 of the reference).
 - optional ``--dep-features``: when the corpus carries real parser arcs
   (the optional ``dep`` field, mention_reader.py:70-73), their
   DEP_gov:/DEP_dep: emissions join the feature set via the
   arc-source-agnostic emitter in functions/dependencies.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.features import make_rm_features_udf
from ..functions.hashing import h64_py
from ..sources import reference_json as ref

RM_KEY_COLS = ("conv_id", "turn_idx", "em1_start", "em1_end",
               "em2_start", "em2_end")


def _rm_key() -> F.Column:
    return F.concat_ws("|", *RM_KEY_COLS)


def replay_rm_pairs(corpus: DataFrame) -> DataFrame:
    """(mention_key, em1Text, em2Text, conv_id, turn_idx, labels) from a
    reference-format corpus — surfaces sliced from the corpus tokens."""
    rm = ref.relation_mentions(corpus)
    tt = ref.turn_tokens(corpus).select("conv_id", "turn_idx", "toks")
    j = rm.join(tt, ["conv_id", "turn_idx"])
    text = lambda s, e: F.array_join(  # noqa: E731
        F.slice("toks", F.col(s) + 1, F.col(e) - F.col(s)), " ")
    return j.select(
        _rm_key().alias("mention_key"),
        text("em1_start", "em1_end").alias("em1Text"),
        text("em2_start", "em2_end").alias("em2Text"),
        "conv_id", "turn_idx", "labels")


def replay_feature_rows(corpus: DataFrame, brown: dict[str, str],
                        is_test: bool,
                        dep_features: bool = False) -> DataFrame:
    """RM feature rows (conv_id, mention_key, labels, feature, is_test)
    from a reference-format corpus — the same shape
    ``KGPipeline.rm_feature_rows`` produces, so the graph/train/eval DAG
    downstream is IDENTICAL to the synthetic gate's."""
    rm = ref.relation_mentions(corpus)
    tt = ref.turn_tokens(corpus)
    if dep_features:
        # dep arcs are per-pair inputs the grouped featurizer does not
        # carry — keep the per-pair UDF on this (replay-only) path
        from ..functions.dependencies import make_rm_dep_features_from_arcs
        j = rm.join(tt, ["conv_id", "turn_idx"])
        udf = make_rm_features_udf(brown)
        feats = udf("toks", "pos", "em1_start", "em1_end",
                    "em2_start", "em2_end", "num_between")
        arcs_udf = make_rm_dep_features_from_arcs()
        dep = arcs_udf("toks", "pos", "dep", "em1_start", "em1_end",
                       "em2_start", "em2_end")
        out = j.select(
            "conv_id", _rm_key().alias("mention_key"), "labels",
            F.explode(F.array_distinct(F.concat(feats, dep)))
            .alias("feature"))
        return out.withColumn("is_test", F.lit(bool(is_test)))
    # hot path: group pairs per sentence so each sentence's token/pos
    # arrays cross Arrow once and the lemma array is computed once for
    # all its pairs (same fusion as KGPipeline.rm_feature_rows)
    from ..functions.features import make_rm_grouped_features_udf
    grouped = rm.groupBy("conv_id", "turn_idx").agg(
        F.collect_list(F.struct(
            F.col("labels"),
            F.col("em1_start").alias("em1s"),
            F.col("em1_end").alias("em1e"),
            F.col("em2_start").alias("em2s"),
            F.col("em2_end").alias("em2e"),
            F.col("num_between").alias("numb"))).alias("pairs"))
    j = grouped.join(tt, ["conv_id", "turn_idx"])
    udf = make_rm_grouped_features_udf(brown)
    z = j.withColumn("feats_list", udf("toks", "pos", "pairs")) \
        .select("conv_id", "turn_idx",
                F.explode(F.arrays_zip("pairs", "feats_list")).alias("z"))
    key = F.concat_ws("|", "conv_id", "turn_idx",
                      F.col("z.pairs.em1s"), F.col("z.pairs.em1e"),
                      F.col("z.pairs.em2s"), F.col("z.pairs.em2e"))
    out = z.select(
        "conv_id", key.alias("mention_key"),
        F.col("z.pairs.labels").alias("labels"),
        F.explode(F.array_distinct("z.feats_list")).alias("feature"))
    return out.withColumn("is_test", F.lit(bool(is_test)))


def replay_gate(spark: SparkSession, warehouse: str, train_path: str,
                test_path: str, brown: dict[str, str] | None = None,
                epochs: int = 40, lr: float = 0.25,
                dep_features: bool = False,
                theta: float | None = None) -> dict:
    """features → graphs → train → predict → tune → M10 over a dropped-in
    reference corpus pair.  Returns the metrics dict and writes learned
    triples + lineage to the warehouse (resumable: re-running skips
    completed stages).

    ``theta``: committed operating point — when given, predictions and
    metrics are cut at THIS normalized-score threshold instead of the
    sweep's F1-argmax (the production contract: θ is frozen from a
    validation sweep, never re-tuned on the corpus being scored).  The
    sweep's own best row is still returned under ``best`` for reference.
    """
    from .evaluation import best_threshold, evaluate_rm_neg, sweep_thresholds
    from .inference import (materialize_triples, mention_embeddings,
                            min_max_normalize, score_types)
    from .pipeline import KGPipeline
    from .training import CoTypeRMTrainer

    brown = brown or {}
    train_c = ref.read_corpus(spark, train_path)
    test_c = ref.read_corpus(spark, test_path)
    # corrupt count by difference — Spark disallows corrupt-record-only
    # projections on raw JSON, and caching a 100 TB corpus to work
    # around that is not an option
    # Spark rejects any raw-JSON count whose only surviving column
    # reference is _corrupt_record, so gauge parse health without
    # touching it: a corrupt line nulls every schema field
    n_corrupt = sum(
        spark.read.text(p).count()
        - c.where(F.col("articleId").isNotNull()).count()
        for p, c in ((train_path, train_c), (test_path, test_c)))

    pipe = KGPipeline(spark, warehouse)
    rows = pipe.wh.ensure("replay_rm_feature_rows", lambda: (
        replay_feature_rows(train_c, brown, False, dep_features)
        .unionByName(replay_feature_rows(test_c, brown, True,
                                         dep_features))))
    g = pipe.graph_tables(rows, "rm")

    trainer = CoTypeRMTrainer(spark, pipe.wh, "rm", lr=lr)
    embs = trainer.train(g["mention_feature"], g["feature_type"],
                         g["mention_type"], epochs=epochs)
    none_id = h64_py("None")
    gt = g["mention_type_test"].select("mention_id", "type_id")
    me = mention_embeddings(g["mention_feature_test"], embs["feature"])
    scored = score_types(spark, me, embs["type"], "cosine", none_id)
    normalized = min_max_normalize(scored).localCheckpoint()
    sweep = sweep_thresholds(normalized, gt, none_id)
    best = best_threshold(sweep)
    cut = best["theta"] if theta is None else theta
    preds = normalized.where(F.col("score_norm") > cut).select(
        "mention_id", "type_id", F.col("score_norm").alias("score"))
    metrics = evaluate_rm_neg(preds.select("mention_id", "type_id"),
                              gt, none_id)
    rm_pairs = pipe.wh.ensure(
        "replay_rm_pairs", lambda: replay_rm_pairs(test_c))
    triples = materialize_triples(preds, rm_pairs, g["types"])
    triples = pipe.wh.write("replay_triples_learned", triples)
    return {"best": best, "metrics": metrics, "n_corrupt": n_corrupt,
            "theta_used": cut, "n_triples": triples.count(),
            "stages": [m["stage"] for m in pipe.wh.metrics()]}

"""End-to-end KG-construction pipeline (SURVEY.md §7.2 step 2 and beyond).

Stage DAG over the warehouse (each stage checkpointed + metered):

  transcripts ─► sentences ─► candidates ─► entity_mentions ─► rm_pairs
       │                                         │                │
       └── (window W2 turn ordering) ── triples_ds (direct DS) ◄──┘

``kg_tables`` reads stages of ``run``:

  entity_mentions ─► kg_entities (explode entity_ids, ⋈ aliases)
  rm_pairs ─► kg_edges;  aliases ─► kg_components

The KB inputs (``aliases``, ``facts``) are pinned once per pipeline
instance (``sources.catalog.pin``: ``localCheckpoint``, read as one
partition), lazily, inside the first stage build that reads them --
``entity_mentions`` for the aliases, ``rm_pairs`` for the facts -- so
every later build reads one materialized copy and a fully resumed run
evaluates neither.

Stages that do not depend on one another build concurrently, on threads
that inherit the caller's Spark job group (``‖`` = concurrent):

  kg_tables:   kg_entities ‖ kg_edges ‖ kg_components
  run_graphs:  RM branch ‖ EM branch ‖ triples_mention, where a branch is
               <ns>_feature_rows, then graph_tables(<ns>): its seven
               tables all at once, each build waiting only for the
               tables it reads --
                 <ns>_mention_feature(_test) after <ns>_features,
                 <ns>_feature_type after <ns>_mention_feature and
                 <ns>_mention_type

``triples_ds`` is the flagship output before any learning: every DS-labeled
pair materializes as canonicalized (subj, pred, obj) edges — the reference's
``convertPredictionToJson.py`` output shape, with subj/obj = mention
surfaces and pred = relation name (SURVEY.md §3.3).  The learned-inference
path (plans/training.py + plans/inference.py) replaces the direct labels
with embedding-scored predictions over the same tables.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.features import (make_em_features_udf,
                                  make_rm_grouped_features_udf)
from ..functions.hashing import h64
from ..operators import ds_label, graphs, mentions, pairs as pairs_op, vocab
from ..sources.catalog import Warehouse, pin


def _concurrently(spark: SparkSession, *builds):
    """Run independent stage builds on threads that inherit the caller's
    Spark local properties (its job group included).  Returns the results
    in argument order; a build's exception is re-raised once every build
    has finished.  Each build gets its own copy of the properties: a
    query sets its execution id there while it runs."""
    with ThreadPoolExecutor(max_workers=len(builds)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(b))
                   for b in builds]
        return [f.result() for f in futures]


def _once(make):
    """A thunk that calls ``make`` on its first call only, also when
    several threads make that first call at once."""
    lock, box = threading.Lock(), []

    def get():
        with lock:
            if not box:
                box.append(make())
            return box[0]
    return get


class KGPipeline:
    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.wh = Warehouse(spark, warehouse_dir)
        self.partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # KB DataFrame handed in (keyed by identity) -> its pinned copy
        self._pinned: dict[DataFrame, DataFrame] = {}
        self._pin_lock = threading.Lock()

    def _kb(self, df: DataFrame) -> DataFrame:
        """The pinned copy of a KB input, materialized on first use.  Call
        it only inside a stage build, so a resumed stage scans nothing."""
        with self._pin_lock:
            if df not in self._pinned:
                self._pinned[df] = pin(df)
            return self._pinned[df]

    # ------------------------------------------------------------- stages
    def sentences(self, turns: DataFrame) -> DataFrame:
        def build():
            # repartition-by-range on conv_id (north_rule): co-locates a
            # conversation's turns; downstream sentence-keyed ops stay local
            t = turns.repartitionByRange(self.partitions, "conv_id", "turn_idx")
            return mentions.sentences_table(t)
        return self.wh.ensure("sentences", build, bucket_hint="conv_id")

    def candidates(self, sentences: DataFrame) -> DataFrame:
        return self.wh.ensure(
            "candidates",
            lambda: mentions.candidates_table(sentences),
            bucket_hint="conv_id")

    def entity_mentions(self, candidates: DataFrame, aliases: DataFrame) -> DataFrame:
        def build():
            linked = ds_label.link_entities(candidates, self._kb(aliases))
            return ds_label.entity_mentions(linked)
        return self.wh.ensure("entity_mentions", build, bucket_hint="mention_key")

    def rm_pairs(self, ems: DataFrame, facts: DataFrame) -> DataFrame:
        def build():
            cand = pairs_op.rm_candidates(ems)
            return pairs_op.label_pairs(cand, self._kb(facts))
        return self.wh.ensure("rm_pairs", build, bucket_hint="mention_key")

    def triples_ds(self, rm: DataFrame) -> DataFrame:
        """Direct distant-supervision triples (no learning): one edge per
        (pair, relation label) with fact direction applied."""
        return self.wh.ensure("triples_ds", lambda: pairs_op.ds_triples(rm),
                              bucket_hint="conv_id")

    # --------------------------------------------- features / vocab / graphs
    def with_split(self, df: DataFrame) -> DataFrame:
        """Deterministic 80/20 conv-level train/test split (hash, not rand)."""
        return df.withColumn(
            "is_test", F.pmod(h64(F.concat(F.col("conv_id"), F.lit("|split"))),
                              F.lit(5)) == 0)

    def rm_feature_rows(self, rm: DataFrame, sentences: DataFrame,
                        brown: dict[str, str]) -> DataFrame:
        """RM features F1-F12: join pairs back to sentence tokens/pos
        (sentence-key equi-join, dense key), extract, explode."""
        def build():
            # hashed on the join key into every core's partition, so the
            # UDF runs nproc-wide when the join broadcasts the pairs and
            # streams this side (a small sentences table is one split);
            # a shuffle join reuses this exchange (AQE keeps the count)
            sent = sentences.select("conv_id", "turn_idx", "sent_idx",
                                    "tokens", "pos") \
                .repartition(self.partitions, "conv_id", "turn_idx",
                             "sent_idx")
            # one row per sentence: the grouped UDF ships/lemmatizes each
            # sentence once for all its pairs (the groupBy partitions on
            # the join key, so the join reuses that exchange)
            grouped = rm.groupBy("conv_id", "turn_idx", "sent_idx").agg(
                F.collect_list(F.struct(
                    F.col("mention_key"), F.col("labels"),
                    F.col("em1Start").alias("em1s"),
                    F.col("em1End").alias("em1e"),
                    F.col("em2Start").alias("em2s"),
                    F.col("em2End").alias("em2e"),
                    F.col("numOfEMBetween").alias("numb"))).alias("pairs"))
            j = grouped.join(sent, on=["conv_id", "turn_idx", "sent_idx"])
            udf = make_rm_grouped_features_udf(brown)
            z = j.withColumn("feats_list", udf("tokens", "pos", "pairs")) \
                .select("conv_id",
                        F.explode(F.arrays_zip("pairs", "feats_list"))
                         .alias("z"))
            out = z.select(
                "conv_id",
                F.col("z.pairs.mention_key").alias("mention_key"),
                F.col("z.pairs.labels").alias("labels"),
                F.explode(F.array_distinct("z.feats_list"))
                 .alias("feature"))
            return self.with_split(out)
        return self.wh.ensure("rm_feature_rows", build, bucket_hint="mention_key")

    def em_feature_rows(self, ems: DataFrame, sentences: DataFrame,
                        brown: dict[str, str]) -> DataFrame:
        """EM features F14-F22 (same join shape)."""
        def build():
            sent = sentences.select("conv_id", "turn_idx", "sent_idx",
                                    "tokens", "pos")
            j = ems.join(sent, on=["conv_id", "turn_idx", "sent_idx"])
            udf = make_em_features_udf(brown)
            feats = j.withColumn("features", udf("tokens", "pos", "start", "end"))
            out = feats.select(
                "conv_id", "mention_key", "labels",
                F.explode(F.array_distinct("features")).alias("feature"))
            return self.with_split(out)
        return self.wh.ensure("em_feature_rows", build, bucket_hint="mention_key")

    def graph_tables(self, feature_rows: DataFrame,
                     prefix: str) -> dict[str, DataFrame]:
        """Vocab + the three bipartite graphs + train/test variants.  The
        seven tables build concurrently; a build that reads another of
        them waits for that table only."""
        train = feature_rows.where(~F.col("is_test"))
        test = feature_rows.where(F.col("is_test"))
        # read by three builds: computed once, by the first that needs it
        mentions_lab = _once(lambda: feature_rows.select(
            "mention_key", "labels", "is_test").distinct()
            .localCheckpoint(eager=True))

        def table(name: str, build):
            return _once(lambda: self.wh.ensure(f"{prefix}_{name}", build))

        voc = table("features", lambda: vocab.build_vocab(train))
        mt_train = table("mention_type", lambda: graphs.mention_type_graph(
            mentions_lab().where(~F.col("is_test"))))
        mf_train = table("mention_feature", lambda: (
            graphs.mention_feature_graph(vocab.gate_to_vocab(train, voc()))))
        tables = {
            "features": voc,
            "types": table("types", lambda: vocab.build_type_vocab(
                mentions_lab().where(~F.col("is_test"))
                .select("mention_key", F.explode("labels").alias("label")))),
            "mention_feature": mf_train,
            "mention_feature_test": table(
                "mention_feature_test", lambda: graphs.mention_feature_graph(
                    vocab.gate_to_vocab(test, voc()))),
            "mention_type": mt_train,
            "mention_type_test": table(
                "mention_type_test", lambda: graphs.mention_type_graph(
                    mentions_lab().where(F.col("is_test")))),
            "feature_type": table("feature_type", lambda: (
                graphs.feature_type_graph(mf_train(), mt_train()))),
        }
        return dict(zip(tables, _concurrently(self.spark, *tables.values())))

    def triples_mention(self, rm: DataFrame) -> DataFrame:
        return self.wh.ensure("triples_mention",
                              lambda: graphs.rm_em_triples(rm))

    def kg_tables(self, aliases: DataFrame,
                  facts: DataFrame) -> dict[str, DataFrame]:
        """Canonical entity/edge materialization (north_rule: "entity
        linking, canonicalization, graph materialize") — run after
        :meth:`run`; reads the entity_mentions + rm_pairs stages."""
        from . import kg_materialize as kg

        def build_entities():
            al = self._kb(aliases)
            linked = ds_label.linked_from_mentions(
                self.wh.read("entity_mentions"), al)
            return kg.entity_nodes(linked, al)

        def build_edges():
            return kg.canonical_edges_from_pairs(
                self.wh.read("rm_pairs"), self._kb(facts), self._kb(aliases))

        nodes, edges, comps = _concurrently(
            self.spark,
            lambda: self.wh.ensure("kg_entities", build_entities,
                                   bucket_hint="entity_id"),
            lambda: self.wh.ensure("kg_edges", build_edges,
                                   bucket_hint="subj_id"),
            lambda: self.wh.ensure(
                "kg_components",
                lambda: kg.resolve_entities(self._kb(aliases)),
                bucket_hint="entity_id"))
        return {"kg_entities": nodes, "kg_edges": edges,
                "kg_components": comps}

    # ------------------------------------------------------------ full run
    def run(self, turns: DataFrame, aliases: DataFrame,
            facts: DataFrame) -> DataFrame:
        s = self.sentences(turns)
        c = self.candidates(s)
        e = self.entity_mentions(c, aliases)
        r = self.rm_pairs(e, facts)
        return self.triples_ds(r)

    def run_graphs(self, turns: DataFrame, aliases: DataFrame,
                   facts: DataFrame,
                   brown: dict[str, str]) -> dict[str, DataFrame]:
        """Full graph-construction DAG (SURVEY §7.2 step 4)."""
        self.run(turns, aliases, facts)
        s = self.wh.read("sentences")
        e = self.wh.read("entity_mentions")
        r = self.wh.read("rm_pairs")
        rm, em, _ = _concurrently(
            self.spark,
            lambda: self.graph_tables(self.rm_feature_rows(r, s, brown), "rm"),
            lambda: self.graph_tables(self.em_feature_rows(e, s, brown), "em"),
            lambda: self.triples_mention(r))
        return {"rm": rm, "em": em}

    # ------------------------------------------------- learned inference
    def run_learned(self, turns: DataFrame, aliases: DataFrame,
                    facts: DataFrame, brown: dict[str, str],
                    epochs: int = 40, lr: float = 0.25,
                    sim: str = "cosine", threshold: float | None = None,
                    joint: bool = False) -> dict:
        """§7.2 steps 5-7: train embeddings, predict types for the test
        split, tune the threshold on the sweep, materialize learned triples
        (convertPredictionToJson semantics), evaluate P/R/F1."""
        from ..functions.hashing import h64_py
        from . import evaluation as ev
        from . import inference as inf
        from .training import CoTypeJointTrainer, CoTypeRMTrainer

        g = self.run_graphs(turns, aliases, facts, brown)
        rm = g["rm"]
        if joint:
            # full reference joint semantics (retype.cpp:149-161): EM-side
            # PLE+SG nets train in the same epoch as RM nets + TransE
            trainer = CoTypeJointTrainer(self.spark, self.wh, "rm", lr=lr)
            embs = trainer.train(rm["mention_feature"], rm["feature_type"],
                                 rm["mention_type"],
                                 self.wh.read("triples_mention"),
                                 epochs=epochs, em_graphs=g["em"])
        else:
            trainer = CoTypeRMTrainer(self.spark, self.wh, "rm", lr=lr)
            embs = trainer.train(rm["mention_feature"], rm["feature_type"],
                                 rm["mention_type"], epochs=epochs)
        none_id = h64_py("None")
        gt = rm["mention_type_test"].select("mention_id", "type_id")
        me = inf.mention_embeddings(rm["mention_feature_test"],
                                    embs["feature"])
        scored = inf.score_types(self.spark, me, embs["type"], sim, none_id)
        normalized = inf.min_max_normalize(scored).localCheckpoint()
        sweep = ev.sweep_thresholds(normalized, gt, none_id)
        best = ev.best_threshold(sweep)
        theta = threshold if threshold is not None else best["theta"]
        preds = normalized.where(F.col("score_norm") > theta).select(
            "mention_id", "type_id", F.col("score_norm").alias("score"))
        metrics = ev.evaluate_rm_neg(preds.select("mention_id", "type_id"),
                                     gt, none_id)
        rm_pairs = self.with_split(self.wh.read("rm_pairs")).where("is_test")
        triples = inf.materialize_triples(preds, rm_pairs, rm["types"])
        triples = self.wh.write("triples_learned", triples)
        return {"embs": embs, "best": best, "theta": theta,
                "metrics": metrics, "triples": triples}

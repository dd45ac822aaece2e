"""Streaming triple extraction over transcript turns.

Design constraint: Structured Streaming append mode forbids the batch
pipeline's per-sentence self-join (stream-stream).  The extraction is
therefore re-expressed **turn-locally**: a fused tokenize → POS → chunk
→ within-sentence pair Arrow UDF (one crossing per turn; a pure-JVM
higher-order-function twin is kept as the agreement oracle) → KB lookup.
The KB lookup has two interchangeable implementations:

 - ``turn_local_triples_join`` (default): stream-static broadcast joins
   against the alias/fact DataFrames — legal in append mode, zero state,
   KB size unbounded (Spark picks broadcast vs shuffle join itself).
   Pairing happens BEFORE linking; that commutes because a triple needs
   both ends linked.
 - ``turn_local_triples``: alias/fact map literals baked into the plan —
   join-free, only for fixture-scale KBs.

Spark re-plans a stream-static join on every micro-batch, static side
included, and the KB frames are ``createDataFrame(list)`` frames whose
every evaluation starts Python-worker tasks.  So each stream builder
pins its static KB side once, when the query is built
(``sources.catalog.pin``, which ``KGPipeline._kb`` uses in batch too:
``localCheckpoint(eager=True)``, read back as one partition).  The
broadcasts still run every micro-batch, but they read the pinned copy
in one-task JVM-only jobs; a restart builds the query again and pins
again, once.  The map-literal
fallback collects the KB at build time and needs no pin.

Equivalence with the batch path is tested: pairing is within
(turn, sentence) in both, so the streamed triples match ``triples_ds``
exactly on the same corpus.
"""

from __future__ import annotations

import bisect

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# _let: the shared let-binding discipline (see functions/hof.py for the
# full why — this module's pair generator was the original measured
# pathology: six unbound `ems` references per (i, j) cell,
# O(n²·tokens) per turn)
from ..functions.hof import let as _let
from ..functions.tokenize import _tag_one, pos_tags_col, tokens_col
from ..operators.mentions import np_chunks_col, np_chunks_py
from ..sources import synthetic as syn
from ..sources.catalog import pin

TERMINALS = (".", "?", "!")
_TERMINALS_SET = frozenset(TERMINALS)

PAIR_SCHEMA = ("array<struct<a:struct<start:int,surface:string,sent_id:int>,"
               "b:struct<start:int,surface:string,sent_id:int>>>")


def turn_pairs_py(text: str) -> list:
    """Plain-python twin of the JVM-HOF pair generator: whitespace
    tokenize → rule POS → NNP-run chunks → within-sentence ordered pairs.
    Shares `_tag_one`/`np_chunks_py` with the batch Arrow UDFs, so the
    agreement test pins one tokenizer/tagger/chunker family."""
    toks = [t for t in text.split(" ") if t] if isinstance(text, str) else []
    if not toks:
        return []
    ps = [_tag_one(t) for t in toks]
    chunks = np_chunks_py(toks, ps)
    if len(chunks) < 2:
        return []
    term = [i for i, t in enumerate(toks) if t in _TERMINALS_SET]
    ann = [{"start": c["start"], "surface": c["surface"],
            "sent_id": bisect.bisect_left(term, c["start"])}
           for c in chunks]
    out = []
    for i in range(len(ann)):
        for j in range(i + 1, len(ann)):
            a, b = ann[i], ann[j]
            if a["sent_id"] == b["sent_id"] and a["start"] < b["start"]:
                out.append({"a": a, "b": b})
    return out


_PAIRS_UDF_CACHE: dict[str, object] = {}


def turn_pairs_udf():
    """Fused tokenize→POS→chunk→pair Arrow UDF — ONE Arrow crossing per
    turn.  This is the hot path: the JVM-HOF formulation (kept below for
    the agreement test) evaluates interpreted, and column references
    inside its nested lambdas re-inline the whole upstream expression
    (see `_let`) — measured 3.3k turns/sec even after let-binding, vs
    the batch-path UDF family's ~100k+."""
    if "pairs" not in _PAIRS_UDF_CACHE:
        @pandas_udf(PAIR_SCHEMA)
        def _udf(text: pd.Series) -> pd.Series:
            return text.map(turn_pairs_py)
        _PAIRS_UDF_CACHE["pairs"] = _udf
    return _PAIRS_UDF_CACHE["pairs"]




def _terminal_positions(toks: str) -> Column:
    """1-based positions of sentence terminals, computed ONCE per turn.
    A chunk starting at 0-based ``start`` is in sentence
    ``size(filter(term_pos, p -> p <= start))`` — identical to counting
    terminals in the first ``start`` tokens, but O(#sentences) per chunk
    with no per-chunk array slice (the slice+filter formulation ran
    interpreted and allocated O(tokens) per chunk: the hot spot at
    millions of turns)."""
    return F.when(
        F.size(toks) > 0,
        F.filter(F.sequence(F.lit(1), F.size(toks)),
                 lambda i: F.element_at(F.col(toks), i).isin(*TERMINALS))
    ).otherwise(F.array().cast("array<int>"))


def _alias_map(spark: SparkSession) -> Column:
    """alias → entity_id map literal (KB dimension; broadcast join at
    real scale — the literal keeps the streaming plan join-free)."""
    rows = syn.kb_aliases(spark).select("alias", "entity_id").collect()
    kv: list[Column] = []
    for r in rows:
        kv += [F.lit(r["alias"]), F.lit(r["entity_id"])]
    return F.create_map(*kv)


def _fact_map(spark: SparkSession) -> Column:
    """'subj|obj' → comma-joined relations (both directions encoded by the
    caller checking both orders)."""
    facts = syn.kb_facts(spark).groupBy("subj_id", "obj_id").agg(
        F.array_join(F.sort_array(F.collect_set("relation")), ",")
        .alias("rels")).collect()
    kv: list[Column] = []
    for r in facts:
        kv += [F.lit(f"{r['subj_id']}|{r['obj_id']}"), F.lit(r["rels"])]
    return F.create_map(*kv)


def turn_local_triples(turns: DataFrame, alias_map: Column,
                       fact_map: Column) -> DataFrame:
    """(conv_id, turn_idx, text) → exploded (subj, pred, obj) — one narrow
    map per turn, streaming-safe.  Pair generation is shared with the
    join variant (:func:`turn_local_pairs`); the map literals only do the
    per-pair KB lookups (pair-then-link — commutes with the old
    link-then-pair because a triple needs both ends linked)."""
    carry = ["conv_id", "turn_idx"] + (["ts"] if "ts" in turns.columns else [])
    p = turn_local_pairs(turns)
    p = p.withColumn("ent_a", F.element_at(alias_map,
                                           F.col("p.a.surface"))) \
         .withColumn("ent_b", F.element_at(alias_map,
                                           F.col("p.b.surface"))) \
         .where(F.col("ent_a").isNotNull() & F.col("ent_b").isNotNull())
    fwd_key = F.concat_ws("|", F.col("ent_a"), F.col("ent_b"))
    rev_key = F.concat_ws("|", F.col("ent_b"), F.col("ent_a"))
    p = p.withColumn("rels_fwd", F.element_at(fact_map, fwd_key)) \
         .withColumn("rels_rev", F.element_at(fact_map, rev_key))
    fwd = p.where(F.col("rels_fwd").isNotNull()).select(
        F.col("p.a.surface").alias("subj"),
        F.explode(F.split("rels_fwd", ",")).alias("pred"),
        F.col("p.b.surface").alias("obj"), *carry)
    rev = p.where(F.col("rels_rev").isNotNull()).select(
        F.col("p.b.surface").alias("subj"),
        F.explode(F.split("rels_rev", ",")).alias("pred"),
        F.col("p.a.surface").alias("obj"), *carry)
    # no .distinct() here: streaming append mode forbids it; batch callers
    # (and the downstream edges-table MERGE) dedup
    return fwd.unionByName(rev)


def turn_local_pairs(turns: DataFrame, use_arrow: bool = True) -> DataFrame:
    """Chunk + within-sentence ordered pair generation over ALL NP chunks
    — no KB reference at all.  Linking COMMUTES with pairing (a triple
    needs both ends linked), so pair-then-join equals link-then-pair;
    this is the stream side of the stream-static join variant.

    Default path: the fused Arrow UDF (:func:`turn_pairs_udf`) — one
    Arrow crossing per turn, same family as the batch pipeline's fused
    chunk+featurize UDFs.  ``use_arrow=False`` keeps the pure-JVM
    higher-order-function formulation: semantically identical
    (agreement-tested), but HOFs evaluate interpreted and its nested
    lambdas made it ~30× slower even after `_let` discipline — it exists
    as the equivalence oracle, not the hot path."""
    carry = ["conv_id", "turn_idx"] + (["ts"] if "ts" in turns.columns else [])
    if use_arrow:
        t = turns.withColumn("pairs", turn_pairs_udf()(F.col("text")))
        return t.select(*carry, F.explode("pairs").alias("p"))

    t = turns.withColumn("toks", tokens_col("text")) \
        .withColumn("pos", pos_tags_col("toks")) \
        .withColumn("chunks", np_chunks_col("toks", "pos"))

    # every expensive intermediate bound as a lambda variable (`_let`),
    # evaluated once per turn regardless of CollapseProject inlining
    def ann_of(tp: Column) -> Column:
        return F.transform(
            "chunks",
            lambda c: F.struct(
                c["start"].alias("start"),
                c["surface"].alias("surface"),
                F.size(F.filter(tp, lambda p: p <= c["start"]))
                 .alias("sent_id"),
            ))

    def pairs_of(ems: Column) -> Column:
        return F.filter(
            F.flatten(F.transform(ems, lambda a, i: F.transform(
                ems, lambda b, j: F.when(
                    (i < j)
                    & (a["sent_id"] == b["sent_id"])
                    & (a["start"] < b["start"]),
                    F.struct(a.alias("a"), b.alias("b")))))),
            lambda p: p.isNotNull())

    t = t.withColumn(
        "pairs",
        _let(_terminal_positions("toks"),
             lambda tp: _let(ann_of(tp), pairs_of)))
    return t.select(*carry, F.explode("pairs").alias("p"))


def turn_local_triples_join(turns: DataFrame, aliases: DataFrame,
                            facts: DataFrame) -> DataFrame:
    """Stream-static broadcast-join variant of :func:`turn_local_triples`:
    the KB dimensions stay DataFrames (any size; Spark broadcasts or
    shuffle-joins them by its own sizing), never driver map literals — the
    production default.  Three stream-static inner joins, all legal in
    append mode with zero state: a-end alias, b-end alias, bidirectional
    fact lookup."""
    p = turn_local_pairs(turns)
    carry = [c for c in p.columns if c != "p"]
    ala = aliases.select(F.col("alias").alias("_aa"),
                         F.col("entity_id").alias("ent_a"))
    alb = aliases.select(F.col("alias").alias("_ab"),
                         F.col("entity_id").alias("ent_b"))
    p = p.join(F.broadcast(ala), F.col("p.a.surface") == F.col("_aa"))
    p = p.join(F.broadcast(alb), F.col("p.b.surface") == F.col("_ab"))
    both = facts.select(F.col("subj_id").alias("ent_a"),
                        F.col("obj_id").alias("ent_b"),
                        "relation", F.lit(True).alias("is_fwd")) \
        .unionByName(facts.select(F.col("obj_id").alias("ent_a"),
                                  F.col("subj_id").alias("ent_b"),
                                  "relation", F.lit(False).alias("is_fwd")))
    j = p.join(F.broadcast(both), on=["ent_a", "ent_b"])
    return j.select(
        F.when(F.col("is_fwd"), F.col("p.a.surface"))
         .otherwise(F.col("p.b.surface")).alias("subj"),
        F.col("relation").alias("pred"),
        F.when(F.col("is_fwd"), F.col("p.b.surface"))
         .otherwise(F.col("p.a.surface")).alias("obj"),
        *carry)


def stream_triples(spark: SparkSession, source_dir: str,
                   checkpoint_dir: str, out_dir: str,
                   schema: str = ("conv_id string, turn_idx int, role string,"
                                  " text string, tool string, ts timestamp"),
                   available_now: bool = True, kb_join: bool = True):
    """readStream(parquet dir) → turn-local extraction → parquet sink.

    ``availableNow`` processes the backlog then stops (the testable mode);
    without it the query tails the directory.  Note: the final .distinct()
    of the batch path is dropped here (stateless streaming) — exactly-once
    dedup is ``sources.catalog.streaming_dedup_sink`` (foreachBatch:
    Iceberg MERGE INTO, or the parquet anti-join twin tested in
    tests/test_iceberg.py).
    """
    stream = (spark.readStream.schema(schema).format("parquet")
              .load(source_dir))
    if kb_join:
        triples = turn_local_triples_join(stream,
                                          pin(syn.kb_aliases(spark)),
                                          pin(syn.kb_facts(spark)))
    else:
        # map-literal fallback: join-free plan, fine for fixture-sized KBs
        triples = turn_local_triples(stream, _alias_map(spark),
                                     _fact_map(spark))
    # streaming plans cannot use distinct(); drop it by re-deriving:
    writer = (triples.select("subj", "pred", "obj", "conv_id", "turn_idx")
              .writeStream.format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_triple_counts(triples: DataFrame, window: str = "10 minutes",
                           watermark: str = "30 minutes") -> DataFrame:
    """Watermarked tumbling-window rollup: triples per (event window, pred).

    The §2.9 stateful pattern the batch reference lacks: with the
    watermark, state for windows older than (max event time − watermark)
    is evicted, so memory stays bounded on an unbounded stream; late turns
    beyond the watermark are dropped.  Works identically on a batch
    DataFrame (watermark is a no-op there), which is how the test
    establishes stream≡batch equality.
    """
    return (triples
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "pred")
            .agg(F.count("*").alias("n_triples"),
                 # exact distinct is unsupported in streaming aggs; the
                 # HLL sketch is deterministic, so batch≡stream still holds
                 F.approx_count_distinct("conv_id").alias("n_convs"))
            .select(F.col("w.start").alias("win_start"),
                    F.col("w.end").alias("win_end"),
                    "pred", "n_triples", "n_convs"))


def stream_windowed_counts(spark: SparkSession, source_dir: str,
                           query_name: str,
                           schema: str = ("conv_id string, turn_idx int,"
                                          " role string, text string,"
                                          " tool string, ts timestamp"),
                           window: str = "10 minutes",
                           watermark: str = "30 minutes"):
    """readStream → turn-local extraction → watermarked window agg →
    in-memory sink (complete mode so every window is observable; the
    production sink would run append mode and emit windows as the
    watermark finalizes them)."""
    stream = (spark.readStream.schema(schema).format("parquet")
              .load(source_dir))
    triples = turn_local_triples_join(stream, pin(syn.kb_aliases(spark)),
                                      pin(syn.kb_facts(spark)))
    agg = windowed_triple_counts(triples, window, watermark)
    return (agg.writeStream.format("memory").queryName(query_name)
            .outputMode("complete").trigger(availableNow=True).start())


# ------------------------------------------------------ stateful operator
ENTITY_STATE_SCHEMA = "entities array<string>"
ENTITY_UPDATE_SCHEMA = ("conv_id string, n_new int, n_total int, "
                        "max_turn int")


def conversation_entity_updates(linked_mentions: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-conversation incremental entity-set tracking.

    Input: (conv_id, turn_idx, entity_id) mention rows (from the
    stream-static alias join).  State per conv_id: the entity-id set seen
    so far.  Each micro-batch emits one row per active conversation with
    the count of NEWLY seen entities, the running total, and the max turn
    index — the building block for conversation-level KG upkeep (only
    new entities need downstream linking work).

    Scale shape: state is partitioned by conv_id (the stream's natural
    key, dense and skew-bounded by conversation length); per-group state
    is a bounded id set, and Spark's state store shards it across
    executors — no driver state, no unbounded growth per group.  Works
    identically at 10^9 conversations because state size is O(entities
    per conversation).
    """
    import pandas as pd

    def update(key, pdfs, state):
        seen: set[str] = set(state.get[0]) if state.exists else set()
        before = len(seen)
        max_turn = -1
        for pdf in pdfs:
            seen.update(pdf["entity_id"].astype(str))
            if len(pdf):
                max_turn = max(max_turn, int(pdf["turn_idx"].max()))
        state.update((sorted(seen),))
        yield pd.DataFrame({
            "conv_id": [key[0]],
            "n_new": [len(seen) - before],
            "n_total": [len(seen)],
            "max_turn": [max_turn],
        })

    from pyspark.sql.streaming.state import GroupStateTimeout
    return (linked_mentions
            .groupBy("conv_id")
            .applyInPandasWithState(
                update,
                outputStructType=ENTITY_UPDATE_SCHEMA,
                stateStructType=ENTITY_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def stream_entity_updates(spark: SparkSession, source_dir: str,
                          query_name: str, max_files_per_trigger: int = 2,
                          schema: str = ("conv_id string, turn_idx int,"
                                         " role string, text string,"
                                         " tool string, ts timestamp")):
    """readStream → mention extraction → stream-static alias join →
    stateful per-conversation entity tracking → memory sink (update
    mode).  ``maxFilesPerTrigger`` forces multiple micro-batches so the
    state actually evolves across triggers (the testable property)."""
    stream = (spark.readStream.schema(schema).format("parquet")
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .load(source_dir))
    t = stream.withColumn("toks", tokens_col("text")) \
        .withColumn("pos", pos_tags_col("toks")) \
        .withColumn("chunk", F.explode(np_chunks_col("toks", "pos"))) \
        .select("conv_id", "turn_idx",
                F.col("chunk.surface").alias("surface"))
    al = pin(syn.kb_aliases(spark).select(
        F.col("alias").alias("surface"), "entity_id").distinct())
    linked = t.join(F.broadcast(al), on="surface") \
        .select("conv_id", "turn_idx", "entity_id")
    upd = conversation_entity_updates(linked)
    return (upd.writeStream.format("memory").queryName(query_name)
            .outputMode("update").trigger(availableNow=True).start())


def stream_kg_edges(spark: SparkSession, source_dir: str,
                    checkpoint_dir: str, target: str,
                    max_files_per_trigger: int = 1,
                    schema: str = ("conv_id string, turn_idx int, role string,"
                                   " text string, tool string, ts timestamp")):
    """Incremental KG materialization: readStream(turns) → turn-local
    triple evidence → ``incremental_agg_sink`` folding each micro-batch's
    per-edge support counts into the running canonical edge table
    ``(subj, pred, obj, n_support)``.

    This is the streaming twin of ``plans.kg_materialize.canonical_edges``
    — at 10^12-turn scale the edge table is maintained, never recomputed:
    each micro-batch contributes an additive delta merged under an atomic
    commit (parquet pointer flip in the sandbox; Iceberg MERGE at scale).
    Exact ``n_convs`` is deliberately absent (COUNT DISTINCT is not
    batch-additive); compose ``streaming_dedup_sink`` at
    (subj, pred, obj, conv_id) grain and aggregate on read if needed.
    ``maxFilesPerTrigger=1`` forces one micro-batch per input file so the
    merge path actually iterates (the testable property).

    The static KB side (aliases, facts) is pinned once per query start,
    here, before ``start()``: every micro-batch still broadcasts it, but
    from the pinned copy, and a restart from the checkpoint pins again."""
    from ..sources.catalog import incremental_agg_sink
    stream = (spark.readStream.schema(schema).format("parquet")
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .load(source_dir))
    evidence = turn_local_triples_join(
        stream, pin(syn.kb_aliases(spark)),
        pin(syn.kb_facts(spark))) \
        .select("subj", "pred", "obj", F.lit(1).alias("n_support"))
    sink = incremental_agg_sink(spark, target,
                                key_cols=["subj", "pred", "obj"],
                                sum_cols=["n_support"],
                                stream_id=checkpoint_dir)
    return (evidence.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def stream_kg_nodes(spark: SparkSession, source_dir: str,
                    checkpoint_dir: str, target: str,
                    max_files_per_trigger: int = 1,
                    schema: str = ("conv_id string, turn_idx int, role string,"
                                   " text string, tool string, ts timestamp")):
    """Incremental KG node table: readStream(turns) → NP chunks →
    stream-static alias join → ``incremental_agg_sink`` folding per-entity
    mention counts (sum-mergeable) and first/smallest observed surface +
    entity type (min-mergeable) into ``(entity_id, n_mentions,
    first_surface, entity_type)``.

    The batch ``kg_materialize.entity_nodes`` columns that are NOT
    merge-associative are deliberately absent: exact ``n_convs``
    (COUNT DISTINCT) and the full ``surfaces`` set need a dedup table or
    a sketch; ``canonical_name`` is a static broadcast join against the
    alias dimension on read, not state."""
    from ..sources.catalog import incremental_agg_sink
    stream = (spark.readStream.schema(schema).format("parquet")
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .load(source_dir))
    t = stream.withColumn("toks", tokens_col("text")) \
        .withColumn("pos", pos_tags_col("toks")) \
        .withColumn("chunk", F.explode(np_chunks_col("toks", "pos"))) \
        .select(F.col("chunk.surface").alias("surface"))
    al = pin(syn.kb_aliases(spark).select(
        F.col("alias").alias("surface"), "entity_id", "entity_type")
        .dropDuplicates(["surface", "entity_id"]))
    evidence = t.join(F.broadcast(al), on="surface") \
        .select("entity_id", F.lit(1).alias("n_mentions"),
                F.col("surface").alias("first_surface"), "entity_type")
    sink = incremental_agg_sink(spark, target, key_cols=["entity_id"],
                                sum_cols=["n_mentions"],
                                min_cols=["first_surface", "entity_type"],
                                stream_id=checkpoint_dir)
    return (evidence.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())

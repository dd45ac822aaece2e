"""Canonical KG materialization — the north_rule's "canonicalization,
graph materialize" step as first-class tables.

The DS pipeline's flagship output (``triples_ds``) keeps mention
*surfaces* as subj/obj, mirroring the reference's
``convertPredictionToJson.py:36-61`` emission.  A knowledge graph needs
one more hop: collapse every surface variant onto its canonical KB
entity and aggregate the per-mention evidence into **entity nodes** and
**canonical edges** — the "materialized as Iceberg entity/edge tables"
shape BASELINE.json names.

Operators (both pure DataFrame, both shuffle exactly once on their
output key):

 - :func:`entity_nodes` — linked mentions grouped by ``entity_id``:
   mention/conversation counts, the observed surface-form set, and the
   canonical display name (chosen deterministically from the alias
   dictionary: lexicographic min, which prefers the cased form since
   ASCII uppercase sorts first — the dictionary convention of
   :mod:`..sources.synthetic` where each entity carries its cased name
   plus optional lowercase variants).
 - :func:`canonical_edges` — DS-labeled pairs re-keyed to fact
   direction: the canonical subject is the entity the KB fact names as
   subject regardless of textual order (``direction`` from the fact
   join), then grouped by ``(subj_id, pred, obj_id)`` with evidence
   counts.  Every emitted edge is, by construction, a KB fact observed
   in text — the edge weight is its support.
 - :func:`resolve_entities` — KB-duplicate resolution:
   :func:`alias_blocking_edges` (token blocking, df-window skew
   mitigation) + :func:`connected_components` (distributed min-label
   propagation, ``localCheckpoint`` lineage truncation); consumed by
   :func:`edges_by_component`, which collapses canonical edges onto the
   resolved components.

Scale notes (100 TB regime): the groupBys key on ``entity_id`` /
``(subj_id, pred, obj_id)`` — hub entities make these skewed, but both
aggregations are algebraic (COUNT / COUNT DISTINCT / collect_set over a
bounded surface vocabulary), so map-side partial aggregation flattens
the hub before the shuffle; AQE skew-join handles the residual.  The
canonical-name dimension is alias-vocabulary-sized and broadcasts.
``collect_set(surface)`` is bounded by the alias dictionary (a mention
surface must have matched an alias to be linked), not by corpus size.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import pairs as pairs_op


def _entry():
    import __spark_entry__ as entry
    return entry


# --------------------------------------------------------------- operators
def canonical_names(aliases: DataFrame) -> DataFrame:
    """(entity_id, canonical_name) from the alias dictionary: the
    lexicographic min alias (binary collation in both engines; ASCII
    uppercase < lowercase, so the cased form wins over its lowercase
    variant)."""
    return aliases.groupBy("entity_id").agg(
        F.min("alias").alias("canonical_name"))


def entity_nodes(linked: DataFrame, aliases: DataFrame) -> DataFrame:
    """KG node table from linked mentions (one row per mention×entity,
    the :func:`..operators.ds_label.link_entities` output shape)."""
    agg = linked.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("conv_id").alias("n_convs"),
        F.array_join(F.sort_array(F.collect_set("surface")), ",")
         .alias("surfaces"),
        F.min("entity_type").alias("entity_type"),
    )
    return agg.join(F.broadcast(canonical_names(aliases)), on="entity_id") \
        .select("entity_id", "canonical_name", "entity_type",
                "n_mentions", "n_convs", "surfaces")


def canonical_edges(labeled_pairs: DataFrame,
                    aliases: DataFrame | None = None) -> DataFrame:
    """KG edge table from DS-labeled pairs (the
    :func:`..operators.pairs.fact_rows` shape: em1/em2 entity ids +
    relation + direction).  Canonical orientation: fact order, not
    textual order."""
    fwd = F.col("direction") == "fwd"
    edges = labeled_pairs.select(
        F.when(fwd, F.col("em1_entity")).otherwise(F.col("em2_entity"))
         .alias("subj_id"),
        F.col("relation").alias("pred"),
        F.when(fwd, F.col("em2_entity")).otherwise(F.col("em1_entity"))
         .alias("obj_id"),
        "conv_id",
    ).groupBy("subj_id", "pred", "obj_id").agg(
        F.count(F.lit(1)).alias("n_support"),
        F.countDistinct("conv_id").alias("n_convs"),
    )
    if aliases is None:
        return edges
    canon = F.broadcast(canonical_names(aliases))
    return edges \
        .join(canon.select(F.col("entity_id").alias("subj_id"),
                           F.col("canonical_name").alias("subj_name")),
              on="subj_id") \
        .join(canon.select(F.col("entity_id").alias("obj_id"),
                           F.col("canonical_name").alias("obj_name")),
              on="obj_id") \
        .select("subj_id", "subj_name", "pred", "obj_id", "obj_name",
                "n_support", "n_convs")


def canonical_edges_from_pairs(pairs: DataFrame, facts: DataFrame,
                               aliases: DataFrame | None = None) -> DataFrame:
    """Canonical edges from the :mod:`..operators.pairs` labeled-pair
    shape (``em1_entities``/``em2_entities`` label-set arrays): the
    label-set collapse in ``label_pairs`` drops which entity pair supplied
    which relation, so the per-(pair, fact) evidence rows are re-derived
    by ``entity_pairs`` + ``fact_rows`` (explode × broadcast facts, no
    extra shuffle before the final groupBy)."""
    ents = pairs_op.entity_pairs(
        pairs.select("conv_id", "em1_entities", "em2_entities"))
    return canonical_edges(pairs_op.fact_rows(ents, facts), aliases)


def alias_blocking_edges(aliases: DataFrame, min_df: int = 2,
                         max_df: int = 16) -> DataFrame:
    """Entity-resolution candidate edges by TOKEN BLOCKING: two entities
    link when their alias surfaces share a token ("Erin Smith" /
    "Erin Jones" share "erin").  The classic ER blocking heuristic.

    Scale shape: the self-join key is the blocking token, and token df
    is Zipfian — a hub token with df=d contributes d² pairs, so the df
    window is the skew mitigation, not an optimization: ``min_df`` drops
    singletons (no pair), ``max_df`` drops stop-tokens ("corp", "inc",
    "smith" at web scale) whose quadratic blow-up adds no discriminative
    signal.  The df table is token-vocabulary-sized and broadcasts.
    Output has both (a,b) and (b,a) by join symmetry — the propagation
    step wants directed edges both ways."""
    tok = aliases.select(
        "entity_id",
        F.explode(F.split(F.lower("alias"), " ")).alias("t")).distinct()
    df_ok = tok.groupBy("t").agg(
        F.countDistinct("entity_id").alias("df")) \
        .where((F.col("df") >= min_df) & (F.col("df") <= max_df)) \
        .select("t")
    t2 = tok.join(F.broadcast(df_ok), on="t")
    return t2.alias("a").join(t2.alias("b"), on="t") \
        .select(F.col("a.entity_id").alias("src"),
                F.col("b.entity_id").alias("dst")) \
        .where(F.col("src") != F.col("dst")).distinct()


def connected_components(vertices: DataFrame, edges: DataFrame,
                         max_iter: int = 25) -> DataFrame:
    """Distributed connected components by min-label propagation:
    every vertex starts labeled with its own id; each round it takes the
    min of its label and its neighbors' labels; at fixpoint every member
    of a component carries the component's min id.  Rounds needed ≈
    graph diameter (alias-blocking graphs are shallow: star-shaped
    around shared tokens).

    Spark mechanics: each round is one join + one partial-aggregated
    groupBy min — no driver-side graph state, labels stay a distributed
    (id, comp) table.  The label frame is vertex-set sized (the KB's
    entity vocabulary on the product path) and broadcast into the join,
    and a vertex's own label rides the same groupBy as its neighbors'
    labels, so a round runs one shuffle (at fixture scale every job is
    mostly fixed cost).  ``localCheckpoint(eager=True)`` truncates
    lineage each round (an iterative plan otherwise grows by a join and
    an aggregation per round and re-executes from scratch at every
    convergence check).  Convergence is counted by an ``Observation`` on
    the checkpoint's own job, not by a probe job.  Raises if not
    converged within ``max_iter`` — silent truncation would emit wrong
    components.

    Only EDGE-INCIDENT vertices ride the rounds: an isolated vertex has
    no neighbor to read and no reader, so its label (itself) is final
    before round 1 — it is split off with one anti-join and unioned
    back at the end.  Each round's join AND checkpoint materialization
    shrink by the isolated share while the result is row-for-row
    identical.

    ``vertices``: one column ``entity_id``; ``edges``: ``src``/``dst``
    with both directions present.  The edge table is checkpointed ONCE
    at loop entry: callers hand in edges as the tail of a lazy chain
    (the token-blocking join of :func:`alias_blocking_edges`), and
    without materialization every round's join re-executes that whole
    upstream chain."""
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    incident = F.broadcast(e.select(F.col("src").alias("entity_id"))
                           .distinct())
    isolated = vertices.join(incident, on="entity_id", how="left_anti") \
        .select(F.col("entity_id").alias("id"),
                F.col("entity_id").alias("comp"))
    lab = vertices.join(incident, on="entity_id", how="left_semi") \
        .select(F.col("entity_id").alias("id"),
                F.col("entity_id").alias("comp"))
    lab = lab.localCheckpoint(eager=True)
    for _ in range(max_iter):
        nb = e.join(F.broadcast(lab.withColumnRenamed("id", "src")),
                    on="src") \
            .select(F.col("dst").alias("id"), "comp",
                    F.lit(False).alias("own"))
        # each labeled vertex's min over its own label (also kept as
        # ``old``) and its neighbors'; the checkpoint's own job counts
        # the labels that changed, so convergence costs no probe job
        new = lab.select("id", "comp", F.lit(True).alias("own")) \
            .unionByName(nb).groupBy("id") \
            .agg(F.min("comp").alias("comp"),
                 F.min(F.when(F.col("own"), F.col("comp"))).alias("old")) \
            .where(F.col("old").isNotNull())
        changed = Observation()
        lab = new.observe(changed, F.sum((F.col("comp") < F.col("old"))
                                         .cast("int")).alias("n")) \
            .select("id", "comp").localCheckpoint(eager=True)
        if not changed.get["n"]:
            return lab.unionAll(isolated) \
                .select(F.col("id").alias("entity_id"),
                        F.col("comp").alias("component_id"))
    raise RuntimeError(
        f"connected_components: no fixpoint in {max_iter} rounds")


def resolve_entities(aliases: DataFrame, min_df: int = 2,
                     max_df: int = 16) -> DataFrame:
    """(entity_id, component_id): KB-duplicate resolution — entities in
    one blocking component share a canonical ``component_id`` (the min
    member id).  Singletons resolve to themselves."""
    v = aliases.select("entity_id").distinct()
    return connected_components(v, alias_blocking_edges(
        aliases, min_df, max_df))


def edges_by_component(edges: DataFrame,
                       components: DataFrame) -> DataFrame:
    """Collapse canonical edges onto resolved components: both endpoints
    re-keyed to their ``component_id``, support re-aggregated, and
    now-reflexive edges (both endpoints in one component) dropped — a
    resolved KB duplicate asserting a relation to itself is linkage
    noise, not a fact.  Two broadcast joins (the component map is
    entity-vocabulary-sized) + one partial-aggregated groupBy.

    ``n_convs`` is summed over the merged input edges, so it is an
    UPPER BOUND on distinct supporting conversations (one conversation
    can support two edges that merge); an exact recount needs the
    pre-aggregation evidence rows, not the edge table."""
    comp = F.broadcast(components)
    return edges \
        .join(comp.select(F.col("entity_id").alias("subj_id"),
                          F.col("component_id").alias("subj_comp")),
              on="subj_id") \
        .join(comp.select(F.col("entity_id").alias("obj_id"),
                          F.col("component_id").alias("obj_comp")),
              on="obj_id") \
        .where(F.col("subj_comp") != F.col("obj_comp")) \
        .groupBy(F.col("subj_comp").alias("subj_id"), "pred",
                 F.col("obj_comp").alias("obj_id")) \
        .agg(F.sum("n_support").alias("n_support"),
             F.sum("n_convs").alias("n_convs"))


# ----------------------------------------------------------- driver gate
def kg_entity_nodes(spark: SparkSession, sf: str) -> DataFrame:
    e = _entry()
    linked = e._linked_df(spark, sf)
    aliases = e._fx(spark, sf, "kb_aliases")
    return entity_nodes(linked, aliases)


def kg_canonical_edges(spark: SparkSession, sf: str) -> DataFrame:
    e = _entry()
    lp = e._labeled_pairs_df(spark, sf)
    aliases = e._fx(spark, sf, "kb_aliases")
    return canonical_edges(lp, aliases)


def kg_entity_resolution(spark: SparkSession, sf: str) -> DataFrame:
    """Driver gate for the iterative CC operator: the Spark side runs
    min-label propagation to fixpoint; the DuckDB oracle computes min
    REACHABLE id per vertex with a recursive CTE (UNION-deduped walk) —
    two structurally different algorithms that must agree exactly."""
    e = _entry()
    return resolve_entities(e._fx(spark, sf, "kb_aliases"))


def kg_collapsed_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Driver gate for the full canonicalization chain: DS-labeled pairs
    → canonical edges → entity resolution → component-collapsed edges.
    The oracle recomputes every hop in SQL, with the CC step again done
    by the recursive-CTE walk."""
    e = _entry()
    lp = e._labeled_pairs_df(spark, sf)
    aliases = e._fx(spark, sf, "kb_aliases")
    return edges_by_component(canonical_edges(lp), resolve_entities(aliases))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_entity_nodes": kg_entity_nodes,
        "kg_canonical_edges": kg_canonical_edges,
        "kg_entity_resolution": kg_entity_resolution,
        "kg_collapsed_edges": kg_collapsed_edges,
    }


def oracles() -> dict[str, str]:
    e = _entry()
    al = e._fx_sql("kb_aliases")
    facts = e._fx_sql("kb_facts")
    canon = f"""canon AS (
  SELECT entity_id, min(alias) AS canonical_name
  FROM {al} GROUP BY entity_id
)"""
    nodes = f"""
WITH {e._sql_mentions().lstrip()},
linked AS (
  SELECT DISTINCT m.conv_id, m.turn_idx, m.sent_id, m.start, m."end",
         m.surface, a.entity_id, a.entity_type
  FROM mentions m JOIN {al} a ON m.surface = a.alias
),
{canon}
SELECT l.entity_id, c.canonical_name,
       min(l.entity_type) AS entity_type,
       COUNT(*) AS n_mentions,
       COUNT(DISTINCT l.conv_id) AS n_convs,
       array_to_string(list_sort(list_distinct(list(l.surface))), ',')
         AS surfaces
FROM linked l JOIN canon c USING (entity_id)
GROUP BY l.entity_id, c.canonical_name
"""
    edges = f"""
WITH {e._sql_pairs().lstrip()},
evidence AS (
  SELECT f.subj_id, f.relation AS pred, f.obj_id, p.conv_id
  FROM pairs p JOIN {facts} f
    ON p.em1_entity = f.subj_id AND p.em2_entity = f.obj_id
  UNION ALL
  SELECT f.subj_id, f.relation AS pred, f.obj_id, p.conv_id
  FROM pairs p JOIN {facts} f
    ON p.em2_entity = f.subj_id AND p.em1_entity = f.obj_id
),
{canon},
agg AS (
  SELECT subj_id, pred, obj_id,
         COUNT(*) AS n_support, COUNT(DISTINCT conv_id) AS n_convs
  FROM evidence GROUP BY subj_id, pred, obj_id
)
SELECT a.subj_id, cs.canonical_name AS subj_name, a.pred,
       a.obj_id, co.canonical_name AS obj_name, a.n_support, a.n_convs
FROM agg a
JOIN canon cs ON a.subj_id = cs.entity_id
JOIN canon co ON a.obj_id = co.entity_id
"""
    resolution = f"""
WITH RECURSIVE
tok AS (
  SELECT DISTINCT entity_id, unnest(string_split(lower(alias), ' ')) AS t
  FROM {al}
),
ok AS (
  SELECT t FROM tok GROUP BY t
  HAVING COUNT(DISTINCT entity_id) BETWEEN 2 AND 16
),
e AS (
  SELECT DISTINCT a.entity_id AS src, b.entity_id AS dst
  FROM tok a JOIN ok USING (t) JOIN tok b USING (t)
  WHERE a.entity_id <> b.entity_id
),
v AS (SELECT DISTINCT entity_id FROM {al}),
walk AS (
  SELECT entity_id, entity_id AS reach FROM v
  UNION
  SELECT w.entity_id, e.dst AS reach FROM walk w JOIN e ON e.src = w.reach
)
SELECT entity_id, MIN(reach) AS component_id
FROM walk GROUP BY entity_id
"""
    collapsed = f"""
WITH RECURSIVE
{e._sql_pairs().lstrip()},
evidence AS (
  SELECT f.subj_id, f.relation AS pred, f.obj_id, p.conv_id
  FROM pairs p JOIN {facts} f
    ON p.em1_entity = f.subj_id AND p.em2_entity = f.obj_id
  UNION ALL
  SELECT f.subj_id, f.relation AS pred, f.obj_id, p.conv_id
  FROM pairs p JOIN {facts} f
    ON p.em2_entity = f.subj_id AND p.em1_entity = f.obj_id
),
agg AS (
  SELECT subj_id, pred, obj_id,
         COUNT(*) AS n_support, COUNT(DISTINCT conv_id) AS n_convs
  FROM evidence GROUP BY subj_id, pred, obj_id
),
tok AS (
  SELECT DISTINCT entity_id, unnest(string_split(lower(alias), ' ')) AS t
  FROM {al}
),
ok AS (
  SELECT t FROM tok GROUP BY t
  HAVING COUNT(DISTINCT entity_id) BETWEEN 2 AND 16
),
eg AS (
  SELECT DISTINCT a.entity_id AS src, b.entity_id AS dst
  FROM tok a JOIN ok USING (t) JOIN tok b USING (t)
  WHERE a.entity_id <> b.entity_id
),
v AS (SELECT DISTINCT entity_id FROM {al}),
walk AS (
  SELECT entity_id, entity_id AS reach FROM v
  UNION
  SELECT w.entity_id, eg.dst AS reach FROM walk w JOIN eg ON eg.src = w.reach
),
comp AS (
  SELECT entity_id, MIN(reach) AS component_id
  FROM walk GROUP BY entity_id
)
SELECT cs.component_id AS subj_id, a.pred, co.component_id AS obj_id,
       CAST(SUM(a.n_support) AS BIGINT) AS n_support,
       CAST(SUM(a.n_convs) AS BIGINT) AS n_convs
FROM agg a
JOIN comp cs ON a.subj_id = cs.entity_id
JOIN comp co ON a.obj_id = co.entity_id
WHERE cs.component_id <> co.component_id
GROUP BY cs.component_id, a.pred, co.component_id
"""
    return {"kg_entity_nodes": nodes, "kg_canonical_edges": edges,
            "kg_entity_resolution": resolution,
            "kg_collapsed_edges": collapsed}

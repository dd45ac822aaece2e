"""Parity queries: SURVEY.md §2 operators exposed as oracle-checked
driver-contract entries, each Spark implementation paired with a DuckDB SQL
twin generated from the SAME Python rule tables (POS dict, lemma rules,
shape regexes) so the two engines cannot drift independently.

Covered here (rest of the inventory lives in ``__spark_entry__`` and
``plans/extended_queries``):

 - P2  unicode NFKD→ascii normalization   (reference nlp_parse.py:81)
 - P3  first-subsequence span alignment   (nlp_parse.py:162-178 find_index)
 - P6  rule lemmatizer w/ POS gating      (token_feature.py:8-25)
 - A1/P7/W5 vocab build: freq count, dense ids, min-freq filter, encode
   gate (ner_feature.py:72-93, 214-247)
 - P8  train-vocab gating of test rows    (ner_feature.py:74-91)
 - J5  RM↔EM key-derivation joins         (pruning_heuristics.py:109-122)
 - F14-F21 feature-string subset (HEAD/TKN/CTXT/POS/SHAPE/LENGTH/CHAR)
   emitted by the REAL pandas UDF, checked byte-for-byte against an
   independent SQL formulation (em_token_feature.py, em_other_feature.py)
 - A3/J4 feature-type co-occurrence over the real pipeline tables
   (pruning_heuristics.py:124-146)
 - M10 evaluate_rm_neg P/R/F1             (evaluation.py:82-111)
 - M11 min-max normalize + threshold sweep + per-θ P/R/F1
   (tune_threshold.py:8-41, evaluate_rm evaluation.py:56-79)

Engine-parity rules: integer arithmetic only (ppm/milli quantization),
portable md5-derived hash (functions/hashing.py), deterministic tie-breaks.
"""

from __future__ import annotations

import os
import unicodedata
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.hashing import h64, h64_duckdb
from ..functions.lemma import _IRREG_N, _IRREG_V, get_lemma
from ..functions.tokenize import POS_DICT, tokens_col

VOWELS = "('a','e','i','o','u')"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _entry():
    """Lazy import of the driver-contract module (it imports us lazily too,
    so the import graph stays acyclic at module-load time)."""
    import __spark_entry__ as entry
    return entry


# =====================================================================
# SQL generators — DuckDB twins derived from the SAME Python rule tables
# =====================================================================
def _sql_pos_tag(tok: str) -> str:
    """DuckDB CASE twin of functions.tokenize._tag_one (rule order exact)."""
    whens = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in POS_DICT.items())
    return f"""(CASE lower({tok}) {whens}
 ELSE (CASE
   WHEN NOT regexp_matches({tok}, '^[A-Za-z0-9_]') THEN {tok}
   WHEN regexp_matches({tok}, '^[0-9]+$') THEN 'CD'
   WHEN regexp_matches({tok}, '^[A-Z]') THEN 'NNP'
   WHEN lower({tok}) LIKE '%ing' THEN 'VBG'
   WHEN lower({tok}) LIKE '%ed' THEN 'VBD'
   WHEN lower({tok}) LIKE '%ly' THEN 'RB'
   WHEN lower({tok}) LIKE '%s' AND lower({tok}) NOT LIKE '%ss' THEN 'NNS'
   ELSE 'NN' END) END)"""


def _sql_needs_e(s: str) -> str:
    """CVC heuristic lemma._needs_e as SQL over expression ``s``."""
    ls, n = f"lower({s})", f"length({s})"
    return (f"({n} >= 2 AND substr({ls},{n},1) NOT IN {VOWELS} "
            f"AND substr({ls},{n},1) NOT IN ('w','x','y') "
            f"AND substr({ls},{n}-1,1) IN {VOWELS} "
            f"AND ({n} < 3 OR substr({ls},{n}-2,1) NOT IN {VOWELS}))")


def _sql_doubled(s: str) -> str:
    """final-consonant doubling test (running→run, stopped→stop)."""
    n = f"length({s})"
    return (f"({n} >= 2 AND substr({s},{n},1) = substr({s},{n}-1,1) "
            f"AND lower(substr({s},{n},1)) NOT IN {VOWELS})")


def _sql_destem(s: str) -> str:
    """CASE applying doubling / needs-e to a raw -ing/-ed stem ``s``."""
    n = f"length({s})"
    return (f"(CASE WHEN {_sql_doubled(s)} THEN substr({s},1,{n}-1) "
            f"WHEN {_sql_needs_e(s)} THEN {s} || 'e' ELSE {s} END)")


def _sql_irreg(table: dict[str, str], w: str, fallback: str) -> str:
    whens = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in table.items())
    return f"(CASE lower({w}) {whens} ELSE {fallback} END)"


def _sql_noun_lemma(w: str) -> str:
    lw, n = f"lower({w})", f"length({w})"
    rules = f"""(CASE
  WHEN {lw} LIKE '%ies' AND {n} > 4 THEN substr({w},1,{n}-3) || 'y'
  WHEN ({lw} LIKE '%ses' OR {lw} LIKE '%xes' OR {lw} LIKE '%zes'
        OR {lw} LIKE '%ches' OR {lw} LIKE '%shes') THEN substr({w},1,{n}-2)
  WHEN {lw} LIKE '%ss' OR {n} <= 2 THEN {w}
  WHEN {lw} LIKE '%s' THEN substr({w},1,{n}-1)
  ELSE {w} END)"""
    return _sql_irreg(_IRREG_N, w, rules)


def _sql_verb_lemma(w: str, ing_stem: str, ed_stem: str) -> str:
    """ing_stem/ed_stem are precomputed destemmed columns (lateral refs)."""
    lw, n = f"lower({w})", f"length({w})"
    rules = f"""(CASE
  WHEN {lw} LIKE '%ies' AND {n} > 4 THEN substr({w},1,{n}-3) || 'y'
  WHEN {lw} LIKE '%es' AND {n} > 3 THEN
    (CASE WHEN {lw} LIKE '%ches' OR {lw} LIKE '%shes' OR {lw} LIKE '%sses'
          OR {lw} LIKE '%xes' OR {lw} LIKE '%zes'
     THEN substr({w},1,{n}-2) ELSE substr({w},1,{n}-1) END)
  WHEN {lw} LIKE '%s' AND {lw} NOT LIKE '%ss' AND {n} > 2
       THEN substr({w},1,{n}-1)
  WHEN {lw} LIKE '%ing' AND {n} > 4 THEN {ing_stem}
  WHEN {lw} LIKE '%ed' AND {n} > 3 THEN {ed_stem}
  ELSE {w} END)"""
    return _sql_irreg(_IRREG_V, w, rules)


def _sql_lems() -> str:
    """CTE chain ``toks`` → ``lems(conv_id, turn_idx, pos, token, tag,
    lemma)`` — must be appended after a chain that defines ``toks``."""
    tag = _sql_pos_tag("token")
    noun = _sql_noun_lemma("token")
    verb = _sql_verb_lemma("token", "ing_stem", "ed_stem")
    return f"""lem0 AS (
  SELECT conv_id, turn_idx, pos, token, {tag} AS tag FROM toks
),
lem1 AS (
  SELECT *, substr(token,1,length(token)-3) AS sg,
         substr(token,1,length(token)-2) AS sd
  FROM lem0
),
lem2 AS (
  SELECT conv_id, turn_idx, pos, token, tag,
         {_sql_destem('sg')} AS ing_stem,
         {_sql_destem('sd')} AS ed_stem
  FROM lem1
),
lems AS (
  SELECT conv_id, turn_idx, pos, token, tag,
    CASE WHEN NOT regexp_matches(token, '^[a-zA-Z]+$') THEN token
         WHEN tag LIKE 'N%' THEN {noun}
         WHEN tag LIKE 'V%' THEN {verb}
         ELSE token END AS lemma
  FROM lem2
)"""


def _sql_word_shape(t: str) -> str:
    """em_other_feature.py:24-34 collapse, same substitution order as
    functions.features.word_shape (lower→a, upper→A, digit→0, punct→.)."""
    r = f"regexp_replace({t}, '[a-z]+', 'a', 'g')"
    r = f"regexp_replace({r}, '[A-Z]+', 'A', 'g')"
    r = f"regexp_replace({r}, '[0-9]+', '0', 'g')"
    return f"regexp_replace({r}, '[!-/:-@\\[-`{{-~]+', '.', 'g')"


# =====================================================================
# Queries
# =====================================================================
def _doc_toks(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.posexplode(tokens_col("text")).alias("pos0", "token"),
    ).select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "token")


def a1_vocab_encode(spark: SparkSession, sf: str) -> DataFrame:
    """A1/W5: frequency-ordered dense vocab ids (ner_feature.py:72-93).

    Scale note: the id-assigning window is global but runs on the *vocab*
    (distinct tokens — orders of magnitude smaller than the corpus); at
    100 TB the heavy part is the groupBy count, a partial-agg shuffle on a
    uniformly hashed key."""
    c = _doc_toks(spark, sf).groupBy("token").agg(F.count("*").alias("freq"))
    w = Window.orderBy(F.desc("freq"), F.col("token"))
    return c.select(F.col("token").alias("name"),
                    (F.row_number().over(w) - 1).cast("bigint").alias("id"),
                    "freq")


def p7_vocab_gate_encode(spark: SparkSession, sf: str) -> DataFrame:
    """P7+P8: min-freq-filtered train vocab, dense re-ids, test rows encoded
    through the frozen vocab (unknown tokens dropped)."""
    rows = _doc_toks(spark, sf)
    train = rows.where(F.col("doc_id") % 5 != 0)
    voc = train.groupBy("token").agg(F.count("*").alias("freq")) \
        .where("freq >= 3")
    w = Window.orderBy(F.desc("freq"), F.col("token"))
    voc = voc.select("token",
                     (F.row_number().over(w) - 1).cast("bigint").alias("token_id"))
    test = rows.where(F.col("doc_id") % 5 == 0)
    return test.join(F.broadcast(voc), "token") \
        .select("doc_id", "pos", "token_id")


def p2_unicode_norm(spark: SparkSession, sf: str) -> DataFrame:
    """P2: NFKD → ascii-ignore (nlp_parse.py:81,111-112), vectorized
    pandas UDF; the accent round-trip makes the op observable on the
    ASCII corpus (translate plants accents, the UDF removes them)."""
    d = _t(spark, sf, "documents")
    acc = F.translate(F.substring("text", 1, 48), "aeiou", "áéíóú")

    @pandas_udf("string")
    def nfkd_ascii(s: pd.Series) -> pd.Series:
        return s.map(lambda x: unicodedata.normalize("NFKD", x)
                     .encode("ascii", "ignore").decode("ascii"))

    return d.select("doc_id", acc.alias("accented"),
                    nfkd_ascii(acc).alias("normalized"))


def p6_lemma(spark: SparkSession, sf: str) -> DataFrame:
    """P6: the real rule lemmatizer (pandas UDF, executor-memoized) over
    turn tokens + rule POS tags; DuckDB twin is generated from the same
    irregular tables and suffix rules."""
    e = _entry()
    tt = e._turn_tokens(spark, sf)
    rows = tt.select(
        "conv_id", "turn_idx",
        F.posexplode(F.arrays_zip("toks", "pos")).alias("i0", "z"),
    ).select("conv_id", "turn_idx",
             (F.col("i0") + 1).cast("int").alias("pos"),
             F.col("z.toks").alias("token"), F.col("z.pos").alias("tag"))

    @pandas_udf("string")
    def lemma_udf(tok: pd.Series, tag: pd.Series) -> pd.Series:
        return pd.Series([get_lemma(t, p) for t, p in zip(tok, tag)])

    return rows.withColumn("lemma", lemma_udf("token", "tag"))


def _p3_hits_fused(spark: SparkSession, sf: str) -> DataFrame:
    """Shared P3 hit table — fused Arrow scan (``operators/spans.py``):
    one narrow map over the turn table against a broadcast first-token-
    indexed alias dictionary; no join, no interpreted HOFs.  The old
    HOF/BroadcastNestedLoopJoin form is kept as :func:`_p3_hits_hof`
    (agreement twin, ``tests/test_spans.py``); at 10^12 turns the
    nested-loop O(T·A) factor disqualified it as the query path."""
    from ..operators.spans import align_spans
    e = _entry()
    t = e._fx(spark, sf, "transcripts")
    tt = t.select("conv_id", "turn_idx", tokens_col("text").alias("toks"))
    al = e._fx(spark, sf, "kb_aliases")
    return align_spans(tt, al)


def _p3_hits_hof(spark: SparkSession, sf: str) -> DataFrame:
    """The original HOF form — find_index as JVM sequence/filter/slice
    under an ``arrays_overlap`` broadcast nested-loop join.  Retained as
    the agreement oracle for the fused scan (two independent derivations;
    same contract as the sketch banks' HOF twins).  NOT the query path:
    interpreted HOF evaluation + the O(|turns|·|aliases|) BNLJ."""
    e = _entry()
    t = e._fx(spark, sf, "transcripts")
    tt = t.select("conv_id", "turn_idx", tokens_col("text").alias("toks"))
    al = e._fx(spark, sf, "kb_aliases").select("alias").distinct() \
        .withColumn("atoks", tokens_col("alias"))
    j = tt.join(F.broadcast(al), F.arrays_overlap("toks", "atoks"))
    k, n = F.size("atoks"), F.size("toks")
    hits = F.when(
        n >= k,
        F.filter(F.sequence(F.lit(1), n - k + 1),
                 lambda i: F.slice("toks", i, k) == F.col("atoks")),
    ).otherwise(F.array().cast("array<int>"))
    out = j.select("conv_id", "turn_idx", "alias", hits.alias("hits"))
    return out.where(F.size("hits") > 0)


def p3_span_alignment(spark: SparkSession, sf: str) -> DataFrame:
    """P3: find_index — first token-subsequence occurrence of each KB alias
    in each turn (nlp_parse.py:162-178), via the fused Arrow span scan."""
    return _p3_hits_fused(spark, sf).select(
        "conv_id", "turn_idx", "alias",
        (F.element_at("hits", 1) - 1).cast("int").alias("first_start"))


def p3_span_alignment_all(spark: SparkSession, sf: str) -> DataFrame:
    """P3 resume-after-match variant (nlp_parse.py:82-96): repeated
    identical mention strings in one turn take SUCCESSIVE occurrences —
    the k-th request for an alias resumes searching after the (k-1)-th
    match.  Enumerating every occurrence with its ordinal is exactly that
    assignment table (occ_idx k ↔ k-th resumed search): the fused hit
    table plus one posexplode."""
    return _p3_hits_fused(spark, sf).select(
        "conv_id", "turn_idx", "alias",
        F.posexplode("hits").alias("occ0", "pos1")
    ).select("conv_id", "turn_idx", "alias",
             (F.col("occ0") + 1).cast("int").alias("occ_idx"),
             (F.col("pos1") - 1).cast("int").alias("start"))


# ---------------------------------------------------------------- features
FEATURE_KEEP_RE = (
    "^(HEAD_|TKN_|POS_|SHAPE_|LENGTH_|CHAR_|CTXT_LEFT_|CTXT_RIGHT_|GRM_)")


def _em_feature_rows(spark: SparkSession, sf: str) -> DataFrame:
    """REAL pandas-UDF feature extraction over NP-chunk mentions, filtered
    to the families FEATURE_KEEP_RE names — which INCLUDES the GRM_*
    bigram family (the generated SQL twin covers it; golden tests in
    tests/test_features.py additionally pin the byte formats).

    Uses the fused chunk+featurize UDF: each turn's (tokens, pos) crosses
    Arrow exactly once and is visited exactly once — no join, no
    per-mention duplication, no re-evaluated chunk expressions."""
    from ..functions.features import make_chunk_features_udf
    e = _entry()
    tt = e._turn_tokens(spark, sf)
    udf = make_chunk_features_udf({})
    z = tt.select("conv_id", "turn_idx",
                  F.explode(udf("toks", "pos")).alias("z"))
    feats = z.select(
        "conv_id", "turn_idx",
        F.col("z.start").alias("start"),
        F.col("z.end").alias("end"),
        F.explode("z.feats").alias("feature"))
    return feats.where(F.col("feature").rlike(FEATURE_KEEP_RE))


def em_feature_strings(spark: SparkSession, sf: str) -> DataFrame:
    """F14-F21 byte-format parity, multiset-exact (duplicate emissions
    counted)."""
    return _em_feature_rows(spark, sf) \
        .groupBy("conv_id", "turn_idx", "start", "end", "feature") \
        .agg(F.count("*").alias("n"))


RM_KEEP_RE = ("^(HEAD_EM[12]_|TKN_EM[12]_|TKN_BTWN_|FIRST_TKN_BTWN_|"
              "LAST_TKN_BTWN_|CTXT_EM[12]_(LEFT|RIGHT)_|POS_|"
              "EM1_BEFORE_EM2|EM2_BEFORE_EM1|DISTANCE_|NUM_EMS_BTWEEN_|"
              "EM[12]_IN_EM[21]|BROWN_|GRM_EM[12]_)")


def rm_feature_strings(spark: SparkSession, sf: str) -> DataFrame:
    """F1-F11 byte-format parity for the RELATION-mention feature library
    (token_feature.py:28-75, other_feature.py:7-59, brown_feature.py:7-25)
    — the real pandas UDF (with the real Brown dictionary) over DS pairs
    vs an independent SQL formulation.  GRM_* bigrams ride the same lemma
    pipeline (golden-tested)."""
    from ..functions.features import make_rm_grouped_features_udf
    e = _entry()
    p = e._pairs_df(spark, sf).select(
        "conv_id", "turn_idx", "sent_id", "em1_start", "em1_end",
        "em2_start", "em2_end", "num_between").distinct()
    # group pairs by their turn so the grouped UDF ships/lemmatizes each
    # sentence once; the groupBy partitions on the join key, so the join
    # below reuses that exchange (one shuffle for the pair side)
    grouped = p.groupBy("conv_id", "turn_idx").agg(
        F.collect_list(F.struct(
            F.col("sent_id"),
            F.col("em1_start").alias("em1s"), F.col("em1_end").alias("em1e"),
            F.col("em2_start").alias("em2s"), F.col("em2_end").alias("em2e"),
            F.col("num_between").alias("numb"))).alias("pairs"))
    tt = e._turn_tokens(spark, sf).select("conv_id", "turn_idx",
                                          "toks", "pos")
    j = grouped.join(tt, on=["conv_id", "turn_idx"])
    brown = {r["word"]: r["cluster"]
             for r in e._fx(spark, sf, "brown_clusters").collect()}
    udf = make_rm_grouped_features_udf(brown)
    z = j.withColumn("feats_list", udf("toks", "pos", "pairs")) \
        .select("conv_id", "turn_idx",
                F.explode(F.arrays_zip("pairs", "feats_list")).alias("z"))
    feats = z.select(
        "conv_id", "turn_idx",
        F.col("z.pairs.sent_id").alias("sent_id"),
        F.col("z.pairs.em1s").alias("em1_start"),
        F.col("z.pairs.em1e").alias("em1_end"),
        F.col("z.pairs.em2s").alias("em2_start"),
        F.col("z.pairs.em2e").alias("em2_end"),
        F.explode("z.feats_list").alias("feature"))
    keep = feats.where(F.col("feature").rlike(RM_KEEP_RE))
    return keep.groupBy("conv_id", "turn_idx", "sent_id", "em1_start",
                        "em1_end", "em2_start", "em2_end", "feature") \
        .agg(F.count("*").alias("n"))


def a3_cooccur_real(spark: SparkSession, sf: str) -> DataFrame:
    """A3/J4 over the real pipeline: distinct mention–feature rows joined
    to distinct mention–type rows on the mention key, counted per
    (feature, type) — the reference's feature_type.txt build
    (pruning_heuristics.py:124-146).  The join key is the dense mention
    span key; at scale this is THE hot shuffle → AQE skew-join enabled in
    session defaults.

    Shuffle reuse: each side repartitions ONCE on the 4-col mention key;
    hash partitioning on a subset of the dedup keys satisfies the
    dropDuplicates clustering requirement AND the join's — so the big
    feature table crosses the wire once instead of twice (distinct-then-
    join was two shuffles).  Measured 22% faster at sf0.1, identical
    rows."""
    e = _entry()
    k4 = ["conv_id", "turn_idx", "start", "end"]
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    mf = _em_feature_rows(spark, sf).select(*k4, "feature") \
        .repartition(n, *k4).dropDuplicates(k4 + ["feature"])
    mt = e._linked_df(spark, sf).select(
        *k4, F.col("entity_type").alias("type")) \
        .repartition(n, *k4).dropDuplicates(k4 + ["type"])
    j = mf.join(mt, on=k4)
    return j.groupBy("feature", "type").agg(F.count("*").alias("n"))


def j5_triple_assembly(spark: SparkSession, sf: str) -> DataFrame:
    """J5: derive EM keys from the RM composite key and resolve both ends
    against the EM dimension (pruning_heuristics.py:109-122) — two
    equi-joins on derived string keys.

    Scale note: the EM dimension is MENTION-scale (grows with the corpus),
    so it must never be broadcast — at 10^12 turns that would OOM every
    executor.  The derived span keys are dense and skew-free, so plain
    shuffle equi-joins + AQE are the right physical plan; Catalyst/AQE may
    still pick broadcast on its own when runtime stats show the side is
    tiny (the sf0.01 case) — that is its call, not a hint."""
    e = _entry()
    p = e._pairs_df(spark, sf)
    rm = p.select(
        F.concat_ws("_", "conv_id", "turn_idx", "sent_id", "em1_start",
                    "em1_end", "em2_start", "em2_end").alias("rm_key"),
        F.concat_ws("_", "conv_id", "turn_idx", "sent_id", "em1_start",
                    "em1_end").alias("em1_key"),
        F.concat_ws("_", "conv_id", "turn_idx", "sent_id", "em2_start",
                    "em2_end").alias("em2_key")).distinct()
    ems = e._linked_df(spark, sf).select(
        F.concat_ws("_", "conv_id", "turn_idx", "sent_id", "start",
                    "end").alias("em_key")).distinct()
    out = rm.join(ems.withColumnRenamed("em_key", "em1_key"), on="em1_key") \
        .join(ems.withColumnRenamed("em_key", "em2_key"), on="em2_key")
    return out.select("rm_key", "em1_key", "em2_key")


# -------------------------------------------------------------- evaluation
def _pair_key() -> F.Column:
    return F.concat_ws("|", "conv_id", "turn_idx", "sent_id",
                       "em1_start", "em1_end", "em2_start", "em2_end")


def _gold_pred(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic (key, gold_set, pred_set) over the pair table: gold =
    sorted DS label set ('None' when no fact); preds corrupt gold through
    the portable hash so both engines derive identical confusion counts."""
    e = _entry()
    # the pair subtree feeds BOTH the mention universe and the label join;
    # a lazy localCheckpoint materializes it once instead of twice —
    # narrowed to the key + entity columns so the cached rows stay small
    pairs = e._pairs_df(spark, sf).select(
        "conv_id", "turn_idx", "sent_id", "em1_start", "em1_end",
        "em2_start", "em2_end", "em1_entity", "em2_entity") \
        .localCheckpoint(eager=False)
    p = pairs.select(_pair_key().alias("k")).distinct()
    lp = e._labeled_pairs_df(spark, sf, pairs=pairs) \
        .groupBy(_pair_key().alias("k")) \
        .agg(F.array_join(F.sort_array(F.collect_set("relation")), ",")
             .alias("gold_set"))
    g = p.join(lp, "k", "left") \
        .withColumn("gold_set", F.coalesce("gold_set", F.lit("None")))
    hp = F.pmod(h64(F.concat(F.col("k"), F.lit("|pred"))), F.lit(28))
    return g.withColumn(
        "pred_set",
        F.when(F.col("gold_set") != "None",
               F.when(hp % 4 == 0, F.lit("None"))
               .otherwise(F.col("gold_set")))
        .otherwise(F.when(hp % 7 == 0, F.lit("/business/person/company"))
                   .otherwise(F.lit("None"))))


def m10_eval_prf(spark: SparkSession, sf: str) -> DataFrame:
    """M10: evaluate_rm_neg (evaluation.py:82-111) — positives are label
    sets ≠ {None}; TP requires exact set equality; P/R/F1 in integer ppm."""
    gp = _gold_pred(spark, sf)
    agg = gp.agg(
        F.sum(F.when(F.col("gold_set") != "None", 1).otherwise(0))
        .alias("pos_gt"),
        F.sum(F.when(F.col("pred_set") != "None", 1).otherwise(0))
        .alias("pos_pred"),
        F.sum(F.when((F.col("pred_set") != "None")
                     & (F.col("pred_set") == F.col("gold_set")), 1)
              .otherwise(0)).alias("tp"))
    pr = agg.select(
        "pos_pred", "pos_gt", "tp",
        F.expr("tp * 1000000 div greatest(pos_pred, 1)").alias("p_ppm"),
        F.expr("tp * 1000000 div greatest(pos_gt, 1)").alias("r_ppm"))
    return pr.withColumn(
        "f1_ppm",
        F.expr("2 * p_ppm * r_ppm div greatest(p_ppm + r_ppm, 1)"))


def m11_threshold_tune(spark: SparkSession, sf: str) -> DataFrame:
    """M11: the reference threshold-tuning protocol (tune_threshold.py):
    raw scores → min-max normalize (unclamped variant, :8-20) → cut at
    each θ ∈ {0, .01, …, 1} → evaluate_rm (evaluation.py:56-79) per θ.
    Integer milli/ppm arithmetic keeps both engines bit-identical."""
    gp = _gold_pred(spark, sf)
    scored = gp.select(
        "k", "gold_set", "pred_set",
        (F.when(F.col("gold_set") != "None", 600).otherwise(200)
         + F.pmod(h64(F.concat(F.col("k"), F.lit("|score"))), F.lit(500)))
        .alias("s"),
        F.when(F.col("pred_set") != "None",
               F.element_at(F.split("pred_set", ","), 1))
        .otherwise(F.lit("None")).alias("top1"))
    mm = scored.agg(F.min("s").alias("mn"), F.max("s").alias("mx"))
    norm = scored.crossJoin(F.broadcast(mm)).select(
        "gold_set", "top1",
        F.expr("(s - mn) * 1000 div greatest(mx - mn, 1)")
        .alias("norm_milli"))
    # sweep over the score HISTOGRAM, not the row set: ≤1001 distinct
    # normalized values x 101 thresholds instead of |pairs| x 101 — same
    # counts exactly, ~1000x fewer rows through the sweep join.  (The
    # DuckDB oracle keeps the naive row-level formulation: two independent
    # evaluation strategies agreeing is a stronger check.)
    hist = norm.select(
        "norm_milli",
        (F.col("top1") == F.col("gold_set")).cast("int").alias("m")) \
        .groupBy("norm_milli", "m").agg(F.count("*").alias("c"))
    tot = hist.agg(F.sum("c").alias("pos_gt"))
    th = spark.range(0, 101).select(
        (F.col("id") * 10).cast("bigint").alias("theta_milli"))
    crossed = hist.crossJoin(F.broadcast(th))
    cut = F.col("norm_milli") > F.col("theta_milli")
    per = crossed.groupBy("theta_milli").agg(
        F.sum(F.when(cut, F.col("c")).otherwise(0)).alias("pos_pred"),
        F.sum(F.when(cut & (F.col("m") == 1), F.col("c"))
              .otherwise(0)).alias("tp")) \
        .crossJoin(F.broadcast(tot))
    pr = per.select(
        "theta_milli", "pos_pred", "pos_gt", "tp",
        F.expr("tp * 1000000 div greatest(pos_pred, 1)").alias("p_ppm"),
        F.expr("tp * 1000000 div greatest(pos_gt, 1)").alias("r_ppm"))
    return pr.withColumn(
        "f1_ppm",
        F.expr("2 * p_ppm * r_ppm div greatest(p_ppm + r_ppm, 1)"))


# =====================================================================
# Registry
# =====================================================================
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "a1_vocab_encode": a1_vocab_encode,
        "p7_vocab_gate_encode": p7_vocab_gate_encode,
        "p2_unicode_norm": p2_unicode_norm,
        "p6_lemma": p6_lemma,
        "p3_span_alignment": p3_span_alignment,
        "p3_span_alignment_all": p3_span_alignment_all,
        "em_feature_strings": em_feature_strings,
        "rm_feature_strings": rm_feature_strings,
        "a3_cooccur_real": a3_cooccur_real,
        "j5_triple_assembly": j5_triple_assembly,
        "m10_eval_prf": m10_eval_prf,
        "m11_threshold_tune": m11_threshold_tune,
    }


# =====================================================================
# Oracles (DuckDB)
# =====================================================================
def _sql_doc_toks() -> str:
    return ("doc_toks AS (SELECT doc_id, i AS pos, toks[i] AS token FROM "
            "(SELECT doc_id, list_filter(string_split(text, ' '), "
            "t -> t <> '') AS toks FROM documents), "
            "UNNEST(generate_series(1, len(toks))) AS u(i))")


def oracles() -> dict[str, str]:
    e = _entry()
    O: dict[str, str] = {}

    O["a1_vocab_encode"] = f"""
WITH {_sql_doc_toks()},
c AS (SELECT token AS name, COUNT(*) AS freq FROM doc_toks GROUP BY token)
SELECT name, row_number() OVER (ORDER BY freq DESC, name) - 1 AS id, freq
FROM c
"""

    O["p7_vocab_gate_encode"] = f"""
WITH {_sql_doc_toks()},
voc AS (
  SELECT token, COUNT(*) AS freq FROM doc_toks
  WHERE doc_id % 5 <> 0 GROUP BY token HAVING COUNT(*) >= 3
),
ids AS (
  SELECT token, row_number() OVER (ORDER BY freq DESC, token) - 1
         AS token_id
  FROM voc
)
SELECT d.doc_id, CAST(d.pos AS INT) AS pos, i.token_id
FROM doc_toks d JOIN ids i ON d.token = i.token
WHERE d.doc_id % 5 = 0
"""

    O["p2_unicode_norm"] = """
SELECT doc_id,
       translate(substr(text, 1, 48), 'aeiou', 'áéíóú') AS accented,
       strip_accents(translate(substr(text, 1, 48), 'aeiou', 'áéíóú'))
         AS normalized
FROM documents
"""

    O["p6_lemma"] = f"""
WITH {e._sql_toks().lstrip()},
{_sql_lems()}
SELECT conv_id, turn_idx, CAST(pos AS INT) AS pos, token, tag, lemma
FROM lems
"""

    O["p3_span_alignment"] = f"""
WITH turns AS (
  SELECT conv_id, turn_idx,
         list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM {e._fx_sql('transcripts')}
),
al AS (
  SELECT DISTINCT alias,
         list_filter(string_split(alias, ' '), t -> t <> '') AS atoks
  FROM {e._fx_sql('kb_aliases')}
),
hits AS (
  SELECT t.conv_id, t.turn_idx, a.alias,
         list_filter(generate_series(1, len(t.toks) - len(a.atoks) + 1),
                     i -> list_slice(t.toks, i, i + len(a.atoks) - 1)
                          = a.atoks) AS hs
  FROM turns t JOIN al a ON list_has_any(t.toks, a.atoks)
)
SELECT conv_id, turn_idx, alias, CAST(hs[1] - 1 AS INT) AS first_start
FROM hits WHERE len(hs) > 0
"""

    O["p3_span_alignment_all"] = f"""
WITH turns AS (
  SELECT conv_id, turn_idx,
         list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM {e._fx_sql('transcripts')}
),
al AS (
  SELECT DISTINCT alias,
         list_filter(string_split(alias, ' '), t -> t <> '') AS atoks
  FROM {e._fx_sql('kb_aliases')}
),
hits AS (
  SELECT t.conv_id, t.turn_idx, a.alias,
         list_filter(generate_series(1, len(t.toks) - len(a.atoks) + 1),
                     i -> list_slice(t.toks, i, i + len(a.atoks) - 1)
                          = a.atoks) AS hs
  FROM turns t JOIN al a ON list_has_any(t.toks, a.atoks)
)
SELECT conv_id, turn_idx, alias, CAST(i AS INT) AS occ_idx,
       CAST(hs[i] - 1 AS INT) AS start
FROM hits, UNNEST(generate_series(1, len(hs))) AS u(i)
WHERE len(hs) > 0
"""

    O["em_feature_strings"] = _feature_strings_sql(e) + """
SELECT conv_id, turn_idx, start, "end", feature, COUNT(*) AS n
FROM feats
GROUP BY conv_id, turn_idx, start, "end", feature
"""

    O["rm_feature_strings"] = _rm_feature_strings_sql(e) + f"""
SELECT {K7}, feature, COUNT(*) AS n
FROM rfeats
GROUP BY {K7}, feature
"""

    O["a3_cooccur_real"] = _feature_strings_sql(e) + f""",
mf AS (
  SELECT DISTINCT conv_id, turn_idx, start, "end", feature FROM feats
),
linked2 AS (
  SELECT DISTINCT m.conv_id, m.turn_idx, m.start, m."end",
         a.entity_type AS type
  FROM mentions m JOIN {e._fx_sql('kb_aliases')} a ON m.surface = a.alias
)
SELECT f.feature, l.type, COUNT(*) AS n
FROM mf f JOIN linked2 l
  ON f.conv_id = l.conv_id AND f.turn_idx = l.turn_idx
 AND f.start = l.start AND f."end" = l."end"
GROUP BY f.feature, l.type
"""

    O["j5_triple_assembly"] = f"""
WITH {e._sql_pairs().lstrip()},
rm AS (
  SELECT DISTINCT
    conv_id || '_' || turn_idx || '_' || sent_id || '_' || em1_start
      || '_' || em1_end || '_' || em2_start || '_' || em2_end AS rm_key,
    conv_id || '_' || turn_idx || '_' || sent_id || '_' || em1_start
      || '_' || em1_end AS em1_key,
    conv_id || '_' || turn_idx || '_' || sent_id || '_' || em2_start
      || '_' || em2_end AS em2_key
  FROM pairs
),
emk AS (
  SELECT DISTINCT conv_id || '_' || turn_idx || '_' || sent_id || '_'
         || start || '_' || "end" AS em_key
  FROM linked
)
SELECT r.rm_key, r.em1_key, r.em2_key
FROM rm r JOIN emk a ON r.em1_key = a.em_key
          JOIN emk b ON r.em2_key = b.em_key
"""

    # every SUM / derived // column CAST to BIGINT: DuckDB SUM widens to
    # HUGEINT and HUGEINT // HUGEINT stays HUGEINT, which the driver's
    # value-hasher serializes differently from Spark's BIGINT
    O["m10_eval_prf"] = _gold_pred_sql(e) + """
, agg AS (
  SELECT
    CAST(SUM(CASE WHEN gold_set <> 'None' THEN 1 ELSE 0 END) AS BIGINT)
      AS pos_gt,
    CAST(SUM(CASE WHEN pred_set <> 'None' THEN 1 ELSE 0 END) AS BIGINT)
      AS pos_pred,
    CAST(SUM(CASE WHEN pred_set <> 'None' AND pred_set = gold_set
        THEN 1 ELSE 0 END) AS BIGINT) AS tp
  FROM gp
),
pr AS (
  SELECT pos_pred, pos_gt, tp,
         CAST(tp * 1000000 // GREATEST(pos_pred, 1) AS BIGINT) AS p_ppm,
         CAST(tp * 1000000 // GREATEST(pos_gt, 1) AS BIGINT) AS r_ppm
  FROM agg
)
SELECT pos_pred, pos_gt, tp, p_ppm, r_ppm,
       CAST(2 * p_ppm * r_ppm // GREATEST(p_ppm + r_ppm, 1) AS BIGINT)
         AS f1_ppm
FROM pr
"""

    O["m11_threshold_tune"] = _gold_pred_sql(e) + f"""
, scored AS (
  SELECT gold_set,
         CASE WHEN gold_set <> 'None' THEN 600 ELSE 200 END
           + ({h64_duckdb("k || '|score'")} % 500) AS s,
         CASE WHEN pred_set <> 'None' THEN string_split(pred_set, ',')[1]
              ELSE 'None' END AS top1
  FROM gp
),
mm AS (SELECT MIN(s) AS mn, MAX(s) AS mx FROM scored),
norm AS (
  SELECT gold_set, top1,
         (s - mn) * 1000 // GREATEST(mx - mn, 1) AS norm_milli
  FROM scored, mm
),
th AS (SELECT UNNEST(generate_series(0, 100)) * 10 AS theta_milli),
per AS (
  SELECT theta_milli,
         CAST(SUM(CASE WHEN norm_milli > theta_milli THEN 1 ELSE 0 END)
              AS BIGINT) AS pos_pred,
         CAST(SUM(CASE WHEN norm_milli > theta_milli AND top1 = gold_set
             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         COUNT(*) AS pos_gt
  FROM norm, th GROUP BY theta_milli
),
pr AS (
  SELECT theta_milli, pos_pred, pos_gt, tp,
         CAST(tp * 1000000 // GREATEST(pos_pred, 1) AS BIGINT) AS p_ppm,
         CAST(tp * 1000000 // GREATEST(pos_gt, 1) AS BIGINT) AS r_ppm
  FROM per
)
SELECT theta_milli, pos_pred, pos_gt, tp, p_ppm, r_ppm,
       CAST(2 * p_ppm * r_ppm // GREATEST(p_ppm + r_ppm, 1) AS BIGINT)
         AS f1_ppm
FROM pr
"""
    return O


def _gold_pred_sql(e) -> str:
    """SQL twin of :func:`_gold_pred` → CTE ``gp(k, gold_set, pred_set)``."""
    key = ("conv_id || '|' || turn_idx || '|' || sent_id || '|' || em1_start"
           " || '|' || em1_end || '|' || em2_start || '|' || em2_end")
    pred_key = "k || '|pred'"
    hp = f"({h64_duckdb(pred_key)} % 28)"
    return f"""WITH {e._sql_pairs().lstrip()},
pk AS (SELECT DISTINCT {key} AS k FROM pairs),
lab AS (
  SELECT {key} AS k, f.relation
  FROM pairs p JOIN {e._fx_sql('kb_facts')} f
    ON p.em1_entity = f.subj_id AND p.em2_entity = f.obj_id
  UNION ALL
  SELECT {key} AS k, f.relation
  FROM pairs p JOIN {e._fx_sql('kb_facts')} f
    ON p.em2_entity = f.subj_id AND p.em1_entity = f.obj_id
),
golds AS (
  SELECT k, array_to_string(list_sort(list_distinct(list(relation))), ',')
         AS gold_set
  FROM lab GROUP BY k
),
g AS (
  SELECT pk.k, coalesce(golds.gold_set, 'None') AS gold_set
  FROM pk LEFT JOIN golds ON pk.k = golds.k
),
gp AS (
  SELECT k, gold_set,
    CASE WHEN gold_set <> 'None' THEN
           (CASE WHEN {hp} % 4 = 0 THEN 'None' ELSE gold_set END)
         ELSE
           (CASE WHEN {hp} % 7 = 0 THEN '/business/person/company'
                 ELSE 'None' END)
    END AS pred_set
  FROM g
)"""


K7 = ("conv_id, turn_idx, sent_id, em1_start, em1_end, em2_start, "
      "em2_end")


def _rm_side_sql(side: str) -> str:
    """Per-entity-mention CTEs (span / stop / head / head-token) keyed by
    the full 7-column pair key."""
    s, e_ = f"em{side}_start", f"em{side}_end"
    return f"""sp{side} AS (
  SELECT pr.conv_id, pr.turn_idx, pr.sent_id, pr.em1_start, pr.em1_end,
         pr.em2_start, pr.em2_end, l.pos, l.token, l.tag, l.lemma
  FROM pr JOIN lems l
    ON l.conv_id = pr.conv_id AND l.turn_idx = pr.turn_idx
   AND l.pos BETWEEN pr.{s} + 1 AND pr.{e_}
),
st{side} AS (
  SELECT {K7},
         MIN(pos) FILTER (WHERE tag = 'IN' OR tag = ',') AS stop_pos
  FROM sp{side} GROUP BY {K7}
),
hd{side} AS (
  SELECT s.conv_id, s.turn_idx, s.sent_id, s.em1_start, s.em1_end,
         s.em2_start, s.em2_end,
         coalesce(MAX(s.pos) FILTER (WHERE s.tag LIKE 'N%'
           AND s.pos < coalesce(t.stop_pos, s.{e_} + 1)), s.{e_}) AS hpos
  FROM sp{side} s JOIN st{side} t
    ON s.conv_id = t.conv_id AND s.turn_idx = t.turn_idx
   AND s.sent_id = t.sent_id AND s.em1_start = t.em1_start
   AND s.em1_end = t.em1_end AND s.em2_start = t.em2_start
   AND s.em2_end = t.em2_end
  GROUP BY s.conv_id, s.turn_idx, s.sent_id, s.em1_start, s.em1_end,
           s.em2_start, s.em2_end, t.stop_pos
),
ht{side} AS (
  SELECT h.conv_id, h.turn_idx, h.sent_id, h.em1_start, h.em1_end,
         h.em2_start, h.em2_end, l.lemma AS hlem
  FROM hd{side} h JOIN lems l
    ON l.conv_id = h.conv_id AND l.turn_idx = h.turn_idx
   AND l.pos = h.hpos
)"""


def _rm_feature_strings_sql(e) -> str:
    """CTE chain ending in ``rfeats(<7-key>, feature)`` — independent SQL
    formulation of the RM families F1-F11 INCLUDING the GRM_* bigram and
    BROWN_* cluster families (they ride the same lemma CTEs).

    ORDERING INVARIANT: this oracle hard-assumes em1 precedes em2 — the
    between-token CTE spans ``em1_end+1 .. em2_start``, EM1_BEFORE_EM2 is
    emitted unconditionally, and there is no EM2_BEFORE_EM1 / EM2_IN_EM1
    SQL arm.  That matches ``_pairs_df``, which enforces
    ``em1_start < em2_start``; if pair generation ever emits reversed
    pairs, this oracle diverges SILENTLY — extend the rfeats arms first.
    (The Spark UDF itself handles both orders; tests/test_features.py
    covers the reversed branches.)"""
    ctx = []
    for side in ("1", "2"):
        s, e_ = f"em{side}_start", f"em{side}_end"
        ctx.append(f"""
  SELECT pr.conv_id, pr.turn_idx, pr.sent_id, pr.em1_start, pr.em1_end,
         pr.em2_start, pr.em2_end, 'CTXT_EM{side}_LEFT_' || l.lemma
           AS feature
  FROM pr JOIN lems l
    ON l.conv_id = pr.conv_id AND l.turn_idx = pr.turn_idx
   AND l.pos BETWEEN pr.{s} - 2 AND pr.{s}
  UNION ALL
  SELECT pr.conv_id, pr.turn_idx, pr.sent_id, pr.em1_start, pr.em1_end,
         pr.em2_start, pr.em2_end, 'CTXT_EM{side}_RIGHT_' || l.lemma
  FROM pr JOIN lems l
    ON l.conv_id = pr.conv_id AND l.turn_idx = pr.turn_idx
   AND l.pos BETWEEN pr.{e_} + 1 AND pr.{e_} + 3
  UNION ALL
  SELECT pr.conv_id, pr.turn_idx, pr.sent_id, pr.em1_start, pr.em1_end,
         pr.em2_start, pr.em2_end,
         CASE WHEN l1.pos BETWEEN pr.{s} + 1 AND pr.{e_} - 1
                THEN 'GRM_EM{side}_' || l1.lemma || '_' || l2.lemma
              WHEN l1.pos <= pr.{s}
                THEN 'CTXT_EM{side}_LEFT_GRM_' || l1.lemma || '_'
                     || l2.lemma
              ELSE 'CTXT_EM{side}_RIGHT_GRM_' || l1.lemma || '_'
                   || l2.lemma END
  FROM pr
  JOIN lems l1 ON l1.conv_id = pr.conv_id AND l1.turn_idx = pr.turn_idx
   AND l1.pos BETWEEN pr.{s} - 2 AND pr.{e_} + 2
  JOIN lems l2 ON l2.conv_id = l1.conv_id AND l2.turn_idx = l1.turn_idx
   AND l2.pos = l1.pos + 1""")
    ctx_sql = "\n  UNION ALL".join(ctx)
    sql = f"""WITH {e._sql_pairs().lstrip()},
{_sql_lems()},
pr AS (
  SELECT DISTINCT {K7}, num_between FROM pairs
),
{_rm_side_sql('1')},
{_rm_side_sql('2')},
btw AS (
  SELECT pr.conv_id, pr.turn_idx, pr.sent_id, pr.em1_start, pr.em1_end,
         pr.em2_start, pr.em2_end, l.pos, l.tag, l.lemma
  FROM pr JOIN lems l
    ON l.conv_id = pr.conv_id AND l.turn_idx = pr.turn_idx
   AND l.pos BETWEEN pr.em1_end + 1 AND pr.em2_start
),
rfeats AS (
  SELECT {K7}, 'HEAD_EM1_' || hlem AS feature FROM ht1
  UNION ALL
  SELECT {K7}, 'HEAD_EM2_' || hlem FROM ht2
  UNION ALL
  SELECT {K7}, 'TKN_EM1_' || lemma FROM sp1
  UNION ALL
  SELECT {K7}, 'TKN_EM2_' || lemma FROM sp2
  UNION ALL
  SELECT {K7}, 'TKN_BTWN_' || lemma FROM btw
  UNION ALL
  SELECT {K7}, 'FIRST_TKN_BTWN_' || lemma FROM btw
  WHERE pos = em1_end + 1
  UNION ALL
  SELECT {K7}, 'LAST_TKN_BTWN_' || lemma FROM btw WHERE pos = em2_start
  UNION ALL
  SELECT {K7}, 'POS_' || tag FROM btw
  UNION ALL{ctx_sql}
  UNION ALL
  SELECT {K7}, 'EM1_BEFORE_EM2' FROM pr
  UNION ALL
  SELECT {K7}, 'DISTANCE_' || CAST(em2_start - em1_end AS VARCHAR) FROM pr
  UNION ALL
  SELECT {K7}, 'NUM_EMS_BTWEEN_' || CAST(num_between AS VARCHAR) FROM pr
  UNION ALL
  SELECT pr.conv_id, pr.turn_idx, pr.sent_id, pr.em1_start, pr.em1_end,
         pr.em2_start, pr.em2_end, 'EM1_IN_EM2'
  FROM pr JOIN lems l
    ON l.conv_id = pr.conv_id AND l.turn_idx = pr.turn_idx
   AND l.pos = pr.em1_end + 1
  WHERE pr.em1_end + 1 = pr.em2_start AND l.token = 'in'
  UNION ALL
  -- F11 BrownFeature: sentence-wide, prefix lengths 4/8/12/20 + ALL
  -- (brown_feature.py:7-25); dict lookup is case-sensitive on the lemma
  SELECT pr.conv_id, pr.turn_idx, pr.sent_id, pr.em1_start, pr.em1_end,
         pr.em2_start, pr.em2_end,
         'BROWN_' || CAST(pl.l AS VARCHAR) || '_'
           || substr(bc.cluster, 1, pl.l)
  FROM pr JOIN lems l
    ON l.conv_id = pr.conv_id AND l.turn_idx = pr.turn_idx
  JOIN {{BROWN}} bc ON bc.word = l.lemma
  CROSS JOIN (VALUES (4), (8), (12), (20)) pl(l)
  WHERE length(bc.cluster) >= pl.l
  UNION ALL
  SELECT pr.conv_id, pr.turn_idx, pr.sent_id, pr.em1_start, pr.em1_end,
         pr.em2_start, pr.em2_end, 'BROWN_ALL_' || bc.cluster
  FROM pr JOIN lems l
    ON l.conv_id = pr.conv_id AND l.turn_idx = pr.turn_idx
  JOIN {{BROWN}} bc ON bc.word = l.lemma
)"""
    return sql.replace("{BROWN}", e._fx_sql("brown_clusters"))


def _feature_strings_sql(e) -> str:
    """CTE chain ending in ``feats(conv_id, turn_idx, start, "end",
    feature)`` — the independent SQL formulation of the F14-F21 subset.

    Span positions: mentions.start is 0-based inclusive, "end" exclusive;
    1-based token positions in the span are start+1 .. "end"."""
    shape = _sql_word_shape("token")
    return f"""WITH {e._sql_mentions().lstrip()},
{_sql_lems()},
span AS (
  SELECT m.conv_id, m.turn_idx, m.start, m."end",
         l.pos, l.token, l.tag, l.lemma
  FROM mentions m JOIN lems l
    ON l.conv_id = m.conv_id AND l.turn_idx = m.turn_idx
   AND l.pos BETWEEN m.start + 1 AND m."end"
),
stops AS (
  SELECT conv_id, turn_idx, start, "end",
         MIN(pos) FILTER (WHERE tag = 'IN' OR tag = ',') AS stop_pos
  FROM span GROUP BY conv_id, turn_idx, start, "end"
),
heads AS (
  SELECT s.conv_id, s.turn_idx, s.start, s."end",
         coalesce(MAX(s.pos) FILTER (WHERE s.tag LIKE 'N%'
           AND s.pos < coalesce(st.stop_pos, s."end" + 1)), s."end") AS hpos
  FROM span s JOIN stops st
    ON s.conv_id = st.conv_id AND s.turn_idx = st.turn_idx
   AND s.start = st.start AND s."end" = st."end"
  GROUP BY s.conv_id, s.turn_idx, s.start, s."end", st.stop_pos
),
head_tok AS (
  SELECT h.conv_id, h.turn_idx, h.start, h."end", l.token AS ht,
         l.lemma AS hlem
  FROM heads h JOIN lems l
    ON l.conv_id = h.conv_id AND l.turn_idx = h.turn_idx
   AND l.pos = h.hpos
),
feats AS (
  -- F14 EMHeadFeature
  SELECT conv_id, turn_idx, start, "end", 'HEAD_' || hlem AS feature
  FROM head_tok
  UNION ALL
  -- F15 EMTokenFeature
  SELECT conv_id, turn_idx, start, "end", 'TKN_' || lemma FROM span
  UNION ALL
  -- F16 EMContextFeature(3): left unigrams, 1-based start-2 .. start
  SELECT m.conv_id, m.turn_idx, m.start, m."end", 'CTXT_LEFT_' || l.lemma
  FROM mentions m JOIN lems l
    ON l.conv_id = m.conv_id AND l.turn_idx = m.turn_idx
   AND l.pos BETWEEN m.start - 2 AND m.start
  UNION ALL
  SELECT m.conv_id, m.turn_idx, m.start, m."end", 'CTXT_RIGHT_' || l.lemma
  FROM mentions m JOIN lems l
    ON l.conv_id = m.conv_id AND l.turn_idx = m.turn_idx
   AND l.pos BETWEEN m."end" + 1 AND m."end" + 3
  UNION ALL
  -- F18 EMPosFeature
  SELECT conv_id, turn_idx, start, "end", 'POS_' || tag FROM span
  UNION ALL
  -- F20 EMWordShapeFeature
  SELECT conv_id, turn_idx, start, "end", 'SHAPE_' || {shape} FROM span
  UNION ALL
  -- F19 EMLengthFeature
  SELECT conv_id, turn_idx, start, "end",
         'LENGTH_' || CASE WHEN "end" - start <= 5
                           THEN CAST("end" - start AS VARCHAR)
                           ELSE '>5' END
  FROM mentions
  UNION ALL
  -- F21 EMCharacterFeature: head-token trigrams + boundary bigrams
  SELECT conv_id, turn_idx, start, "end", 'CHAR_' || substr(ht, i, 3)
  FROM head_tok, UNNEST(generate_series(1, length(ht) - 2)) AS u(i)
  WHERE length(ht) >= 3
  UNION ALL
  SELECT conv_id, turn_idx, start, "end", 'CHAR_:' || substr(ht, 1, 2)
  FROM head_tok WHERE length(ht) >= 3
  UNION ALL
  SELECT conv_id, turn_idx, start, "end",
         'CHAR_' || substr(ht, length(ht) - 1, 2) || ':'
  FROM head_tok WHERE length(ht) >= 3
  UNION ALL
  -- F17 EMContextGramFeature(3): bigram (p, p+1), p in
  -- [start-2, end+2] 1-based; category by p vs the span
  SELECT m.conv_id, m.turn_idx, m.start, m."end",
         CASE WHEN l1.pos BETWEEN m.start + 1 AND m."end" - 1
                THEN 'GRM_' || l1.lemma || '_' || l2.lemma
              WHEN l1.pos <= m.start
                THEN 'CTXT_LEFT_GRM_' || l1.lemma || '_' || l2.lemma
              ELSE 'CTXT_RIGHT_GRM_' || l1.lemma || '_' || l2.lemma END
  FROM mentions m
  JOIN lems l1 ON l1.conv_id = m.conv_id AND l1.turn_idx = m.turn_idx
   AND l1.pos BETWEEN m.start - 2 AND m."end" + 2
  JOIN lems l2 ON l2.conv_id = l1.conv_id AND l2.turn_idx = l1.turn_idx
   AND l2.pos = l1.pos + 1
)"""

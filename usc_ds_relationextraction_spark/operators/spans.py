"""Token-subsequence span alignment (P3 ``find_index``) — fused Arrow scan.

Why this module exists: the HOF form of P3 (kept below the queries in
:mod:`..plans.parity_queries` as the agreement twin) joins the turn table
to the alias dimension on ``arrays_overlap`` — a condition no hash join
can serve, so Catalyst plans a BroadcastNestedLoopJoin that evaluates
O(|turns| x |aliases|) INTERPRETED overlap checks; each surviving pair
then pays an interpreted ``filter(sequence)/slice`` window scan, and
CollapseProject re-inlines the ``hits`` expression at every downstream
reference (the same pathology class fixed in ``streaming/ingest.py``).
At 10^12 turns the nested-loop factor alone is disqualifying.

The fused form scans each turn ONCE against a first-token-indexed alias
dictionary (Aho–Corasick-lite): per token position, hash-probe the
aliases whose first token matches, verify the k-token window.  One Arrow
crossing per batch and NO join at all — at scale this is a narrow map
over the turn table with a broadcast dictionary (the KB alias dict is
dimension-scale by definition: the same broadcast contract as the S5
Brown dict, ``functions/features.py:100-121``, and J1's broadcast side).
Work drops from O(T·A) interpreted checks to O(T·n) hash probes.

Hit semantics are IDENTICAL to the HOF/DuckDB forms: 1-based start
positions ``i`` with ``toks[i-1 : i-1+k] == alias_tokens``, ascending,
aliases tokenized by the same whitespace-split-drop-empties rule as
:func:`..functions.tokenize.tokens_col`; turns with no hit are dropped.
``tests/test_spans.py`` asserts fused ≡ HOF row-for-row and the driver's
DuckDB oracle for p3_* is unchanged.

Reference: ``DataProcessor/nlp_parse.py:162-178`` (find_index, first
occurrence), ``:82-96`` (resume-after-match / successive occurrences).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

HITS_SCHEMA = "array<struct<alias: string, hits: array<int>>>"

# Above this many distinct aliases the broadcast scan is not considered (a
# 2M-row alias dim is a few hundred MB on the driver).
BROADCAST_ROW_LIMIT = 2_000_000


def _tok_ws(s: str) -> list[str]:
    """Python twin of ``tokenize.tokens_col`` (split on ' ', drop '')."""
    return [t for t in (s or "").split(" ") if t]


def build_alias_index(aliases: list[str]) -> dict[str, list[tuple[str, list[str]]]]:
    """first_token -> [(alias_string, alias_tokens), ...] — insertion order
    follows the input list; hit emission order per turn is first-match
    order, which the order-insensitive consumers don't depend on."""
    idx: dict[str, list[tuple[str, list[str]]]] = {}
    seen: set[str] = set()
    for a in aliases:
        if a in seen:       # exact-duplicate alias strings collapse here
            continue        # (align_spans also .distinct()s the dim)
        seen.add(a)
        at = _tok_ws(a)
        if at:
            idx.setdefault(at[0], []).append((a, at))
    return idx


def scan_tokens(row: list[str],
                idx: dict[str, list[tuple[str, list[str]]]]
                ) -> list[tuple[str, list[int]]]:
    """Pure scan kernel (shared by the UDF closure and property tests):
    every (alias, 1-based ascending hit starts) with ≥1 hit in ``row``."""
    n = len(row)
    found: dict[str, list[int]] = {}
    for p in range(n):
        cands = idx.get(row[p])
        if not cands:
            continue
        for alias, at in cands:
            k = len(at)
            if p + k <= n and row[p:p + k] == at:
                found.setdefault(alias, []).append(p + 1)
    return list(found.items())


def align_spans_broadcast(turns: DataFrame, alias_df: DataFrame,
                          toks_col: str = "toks",
                          alias_col: str = "alias") -> DataFrame:
    """(conv_id, turn_idx, toks) x alias dim -> one row per (turn, alias)
    with ``hits`` = every 1-based start of the alias token-subsequence.

    The alias dimension is collected to the driver and shipped as a
    broadcast variable into the UDF closure — dictionary-scale by
    contract (a KB alias list does not grow with the corpus).  The scan
    itself is a narrow map: no shuffle, no join.  Callers that cannot
    guarantee the dictionary contract should go through
    :func:`align_spans`, which probes the dimension (bounded job) and
    falls over to :func:`align_spans_sharded` above the broadcast limit.
    """
    # fail fast instead of OOMing the driver on a non-dictionary-scale
    # dimension: probe with a bounded limit(N+1).count() FIRST — a
    # count ships one long back to the driver however big the dim is,
    # where the previous take(N+1) guard materialized up to N driver-side
    # Row objects (multi-GB on long aliases) in exactly the oversized
    # case it existed to reject.  Only after the probe passes is the
    # (≤ hard_cap row) dimension collected.
    hard_cap = BROADCAST_ROW_LIMIT * 4
    probe = alias_df.select(alias_col).distinct()
    if probe.limit(hard_cap + 1).count() > hard_cap:
        raise ValueError(
            f"align_spans_broadcast: alias dimension exceeds the "
            f"driver-collect cap ({hard_cap} distinct aliases) — use "
            f"align_spans (adaptive) or align_spans_sharded")
    alias_rows = [r[0] for r in probe.collect()]
    sc = turns.sparkSession.sparkContext
    bc = sc.broadcast(build_alias_index(alias_rows))

    @pandas_udf(HITS_SCHEMA)
    def scan(toks: pd.Series) -> pd.Series:
        idx = bc.value
        return pd.Series([
            scan_tokens(list(arr) if arr is not None else [], idx)
            for arr in toks])

    # explode drops empty arrays -> turns with no hit vanish, exactly as
    # the HOF form's  WHERE size(hits) > 0
    return turns.select(
        "conv_id", "turn_idx",
        F.explode(scan(toks_col)).alias("m")
    ).select("conv_id", "turn_idx",
             F.col("m.alias").alias("alias"),
             F.col("m.hits").alias("hits"))


def _alias_index_table(alias_df: DataFrame, alias_col: str) -> DataFrame:
    """Distinct aliases as a join-able index table:
    (alias, atoks, tok0) with the same whitespace-split-drop-empties
    tokenization as the broadcast form (``tokenize.tokens_col``)."""
    from ..functions.tokenize import tokens_col
    return (alias_df.select(F.col(alias_col).alias("alias")).distinct()
            .withColumn("atoks", tokens_col("alias"))
            .where(F.size("atoks") > 0)
            .withColumn("tok0", F.element_at("atoks", 1)))


def align_spans_sharded(turns: DataFrame, alias_df: DataFrame,
                        toks_col: str = "toks",
                        alias_col: str = "alias",
                        max_alias_tokens: int | None = None) -> DataFrame:
    """Giant-dictionary form of :func:`align_spans_broadcast` — same hit
    table, NO driver collect and NO broadcast of the alias dimension.

    Shape (the 1e8-alias regime where a pickled dict cannot ship):

      1. ``posexplode`` each turn into (conv_id, turn_idx, pos, token)
         plus the ``kmax``-token window starting at pos — kmax is the
         longest alias token length, probed with one tiny agg job, so
         the exploded fact row carries O(kmax) tokens, NOT the whole
         turn (avoids the O(L) per-position array blow-up in the join
         shuffle).
      2. equi-join on token == first alias token.  First-token keys are
         near-uniform dictionary keys; any hub token ("the", tool
         names) is exactly the AQE-skew-join / salting case that
         ``operators/skew.py`` documents — we leave the join a plain
         shuffle equi-join so AQE can split hot partitions at runtime.
      3. verify each candidate with the built-in
         ``slice(window, 1, size(atoks)) = atoks`` comparison —
         whole-stage-codegen, no Python.
      4. groupBy (turn, alias) → ``sort_array(collect_list(pos))`` =
         ascending 1-based hits, identical to the broadcast form.

    Cost: one bounded agg (kmax), one join shuffle on slim exploded
    rows, one groupBy shuffle on candidate-scale rows.  Linear in
    corpus size, independent of dictionary size past the index build.
    """
    idx = _alias_index_table(alias_df, alias_col)
    if max_alias_tokens is None:
        max_alias_tokens = idx.agg(
            F.max(F.size("atoks"))).collect()[0][0] or 1
    toks = F.col(toks_col)
    ex = turns.select(
        "conv_id", "turn_idx",
        F.posexplode(toks).alias("pos0", "tok0"),
        # the only tokens the verifier can ever need: [pos, pos+kmax)
        F.expr(f"slice({toks_col}, pos0 + 1, {int(max_alias_tokens)})")
         .alias("win"),
    )
    cand = ex.join(idx, on="tok0")
    ver = cand.where(F.expr("slice(win, 1, size(atoks)) = atoks"))
    return (ver.groupBy("conv_id", "turn_idx", "alias")
            .agg(F.sort_array(
                F.collect_list((F.col("pos0") + 1).cast("int")))
                .alias("hits")))


# Driver-process memo: probing the alias dimension is a bounded job
# (limit(N+1).count() scans ≤ N+1 rows), paid once per analyzed plan, not
# once per align_spans construction.
_SPAN_PROBE_CACHE: dict = {}


def align_spans(turns: DataFrame, alias_df: DataFrame,
                toks_col: str = "toks",
                alias_col: str = "alias",
                broadcast_row_limit: int | None = None) -> DataFrame:
    """Self-selecting P3 span alignment: dictionary-scale alias dims take
    the broadcast fused Arrow scan (narrow map, no shuffle); above the
    broadcast limit the sharded first-token-index join takes over, so a
    non-dictionary-scale alias_df can no longer OOM the driver — the
    probe reads at most limit+1 rows whatever the dimension's true size.

    ``tests/test_spans.py`` asserts broadcast ≡ sharded row-for-row and
    that the chooser picks each side at the intended sizes.
    """
    if broadcast_row_limit is None:
        broadcast_row_limit = BROADCAST_ROW_LIMIT
    try:
        key = (alias_df._jdf.queryExecution().analyzed().semanticHash(),
               broadcast_row_limit)
    except Exception:
        key = (str(alias_df._jdf.queryExecution().analyzed()),
               broadcast_row_limit)
    probe = _SPAN_PROBE_CACHE.get(key)
    if probe is None:
        # probe DISTINCT aliases, not raw rows: what the broadcast path
        # ships is the deduped dictionary, so a duplicate-heavy edge list
        # (5M rows, 50k distinct aliases) must still route to the narrow
        # broadcast scan, not pay the sharded path's corpus shuffle.  The
        # distinct is one partial-aggregated pass over the dim — the same
        # work _alias_index_table would do anyway on the sharded side.
        probe = (alias_df.select(F.col(alias_col).alias("alias"))
                 .distinct().limit(broadcast_row_limit + 1).count())
        _SPAN_PROBE_CACHE[key] = probe
    if probe <= broadcast_row_limit:
        return align_spans_broadcast(turns, alias_df, toks_col, alias_col)
    return align_spans_sharded(turns, alias_df, toks_col, alias_col)

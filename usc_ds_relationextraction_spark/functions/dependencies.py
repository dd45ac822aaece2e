"""F13/F23: dependency features — pattern-arc approximation.

The reference ships ``DependencyFeature``/``EMDependencyFeature``
(``Feature/dependency_feature.py:7-50``, ``em_dependency_feature.py``)
but never registers them (``ner_feature.py`` registration commented out),
so byte-parity does NOT require them.  The north_star names "dependency
paths" in the feature list explicitly, so this module fills the slot with
a PATTERN-ARC APPROXIMATION: pseudo Universal-Dependencies arcs derived
from adjacent POS patterns (no external parser — the container has none),
then the reference's EXACT emission format on top:

    DEP_gov:<dep_type>:<lemma(dep)>=<POS(dep)[0]>   (arc leaves mention)
    DEP_dep:<dep_type>:<lemma(gov)>=<POS(gov)[0]>   (arc enters mention)

with the reference's accept filters (N*/V* endpoint POS; dep type in the
accepted set or prep*).  When a replayed corpus carries REAL parser arcs
(the reference JSON's optional ``dep`` field, ``mention_reader.py:70-73``),
pass them instead of the pattern arcs — emission is arc-source-agnostic.

Arc rules (0-based token index i; adjacency only, so sentence punctuation
tokens block cross-sentence arcs by construction):

    amod   : JJ at i, N* at i+1        → (amod, gov=i+1, dep=i)
    nn     : N* at i, N* at i+1        → (nn, gov=i+1, dep=i)
    nsubj  : N* at i, V* at i+1        → (nsubj, gov=i+1, dep=i)
    dobj   : V* at i, N* at i+1        → (dobj, gov=i, dep=i+1)
    prep_p : N*/V* at i-1, IN at i, N* at i+1
                                       → (prep_<tok[i].lower()>, i-1, i+1)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf

from .lemma import get_lemma

ACCEPTED_DEPS = frozenset(
    ["nn", "agent", "dobj", "nsubj", "amod", "nsubjpass", "poss", "appos"])


def accept_pos(pos: str) -> bool:
    return bool(pos) and pos[0] in ("N", "V")


def accept_dep(dep_type: str) -> bool:
    return dep_type.startswith("prep") or dep_type in ACCEPTED_DEPS


def pattern_arcs_py(tokens: list[str],
                    pos: list[str]) -> list[tuple[str, int, int]]:
    """Pseudo-dependency arcs (dep_type, gov, dep), 0-based indices."""
    arcs: list[tuple[str, int, int]] = []
    n = len(tokens)
    for i in range(n - 1):
        t, tn = pos[i], pos[i + 1]
        if t.startswith("JJ") and tn.startswith("N"):
            arcs.append(("amod", i + 1, i))
        if t.startswith("N") and tn.startswith("N"):
            arcs.append(("nn", i + 1, i))
        if t.startswith("N") and tn.startswith("V"):
            arcs.append(("nsubj", i + 1, i))
        if t.startswith("V") and tn.startswith("N"):
            arcs.append(("dobj", i, i + 1))
        if (t == "IN" and tn.startswith("N") and i >= 1
                and accept_pos(pos[i - 1])):
            arcs.append((f"prep_{tokens[i].lower()}", i - 1, i + 1))
    return arcs


def dep_features_py(tokens: list[str], pos: list[str],
                    arcs: list[tuple[str, int, int]],
                    start: int, end: int) -> list[str]:
    """Reference emission (dependency_feature.py:28-44) over given arcs."""
    n = len(tokens)
    out: list[str] = []
    for dep_type, gov, dep in arcs:
        if start <= gov < end and 0 <= dep < n:
            if accept_pos(pos[dep]) and accept_dep(dep_type):
                lem = get_lemma(tokens[dep], pos[dep])
                out.append(f"DEP_gov:{dep_type}:{lem}={pos[dep][0]}")
        if start <= dep < end and 0 <= gov < n:
            if accept_pos(pos[gov]) and accept_dep(dep_type):
                lem = get_lemma(tokens[gov], pos[gov])
                out.append(f"DEP_dep:{dep_type}:{lem}={pos[gov][0]}")
    return out


def make_dep_features_udf():
    """(toks, pos, start, end) → array<string> of DEP_ features (EM side,
    F23 analog) using pattern arcs."""

    @pandas_udf("array<string>")
    def dep_udf(toks: pd.Series, pos: pd.Series, start: pd.Series,
                end: pd.Series) -> pd.Series:
        out = []
        for tk, pg, s, e in zip(toks, pos, start, end):
            tk = list(tk)
            pg = list(pg)
            out.append(dep_features_py(tk, pg, pattern_arcs_py(tk, pg),
                                       int(s), int(e)))
        return pd.Series(out)

    return dep_udf


def make_rm_dep_features_from_arcs():
    """(toks, pos, dep_arcs, em1s, em1e, em2s, em2e) → array<string> —
    the F13 RM emission over REAL parser arcs (the reference JSON's
    optional ``dep`` field, mention_reader.py:70-73) instead of the
    pattern approximation.  ``dep_arcs`` is the corpus column
    array<struct<type,gov,dep>>; rows with no arcs (null/empty) emit
    nothing, so mixed corpora degrade gracefully."""

    @pandas_udf("array<string>")
    def rm_dep_arcs_udf(toks: pd.Series, pos: pd.Series, deps: pd.Series,
                        s1: pd.Series, e1: pd.Series, s2: pd.Series,
                        e2: pd.Series) -> pd.Series:
        out = []
        for tk, pg, dp, a, b, c, d in zip(toks, pos, deps, s1, e1, s2, e2):
            if dp is None or not len(dp):
                out.append([])
                continue
            tk = list(tk)
            pg = list(pg)
            arcs = [(x["type"], int(x["gov"]), int(x["dep"])) for x in dp]
            feats = [
                "DEP_EM1_" + f[4:]
                for f in dep_features_py(tk, pg, arcs, int(a), int(b))
            ] + [
                "DEP_EM2_" + f[4:]
                for f in dep_features_py(tk, pg, arcs, int(c), int(d))
            ]
            out.append(feats)
        return pd.Series(out)

    return rm_dep_arcs_udf

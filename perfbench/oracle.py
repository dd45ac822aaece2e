"""Plain-Python references the benchmark checks the program against.

``triples_support`` re-derives distant-supervision triples by the rules of
the pipeline's own unit-test oracle (split sentences, tokenize, tag, take
NNP runs, link exact aliases, pair in textual order, label by KB facts in
both directions) but counts the support of each ``(subj, pred, obj)``
instead of collecting a set: one unit per mention pair and relation.
"""

from __future__ import annotations

import itertools
from collections import Counter

from usc_ds_relationextraction_spark.functions import tokenize as tk
from usc_ds_relationextraction_spark.sources import synthetic as syn


def _kb():
    aliases: dict[str, set[str]] = {}
    for eid, name, _typ, _kind in syn.entity_rows():
        aliases.setdefault(name, set()).add(eid)
        aliases.setdefault(name.lower(), set()).add(eid)
    facts: dict[tuple[str, str], set[str]] = {}
    for s, o, r in syn.fact_rows():
        facts.setdefault((s, o), set()).add(r)
    return aliases, facts


def _np_runs(toks: list[str], pos: list[str]) -> list[str]:
    runs, i = [], 0
    while i < len(toks):
        if pos[i] == "NNP":
            j = i
            while j < len(toks) and pos[j] == "NNP":
                j += 1
            runs.append(" ".join(toks[i:j]))
            i = j
        else:
            i += 1
    return runs


def triples_support(texts) -> Counter:
    """``(subj, pred, obj) -> support`` over an iterable of turn texts."""
    aliases, facts = _kb()
    support: Counter = Counter()
    for text in texts:
        for sent in tk.split_sentences_py(text):
            toks = tk.tokenize_py(sent)
            pos = [tk._tag_one(t) for t in toks]
            linked = [(surf, aliases[surf]) for surf in _np_runs(toks, pos)
                      if surf in aliases]
            for (a, ea), (b, eb) in itertools.combinations(linked, 2):
                fwd = set().union(*(facts.get((x, y), set())
                                    for x in ea for y in eb))
                rev = set().union(*(facts.get((y, x), set())
                                    for x in ea for y in eb))
                for r in fwd:
                    support[(a, r, b)] += 1
                for r in rev:
                    support[(b, r, a)] += 1
    return support


def rejoin_mismatches(turns: dict, sentences) -> int:
    """Turns whose sentences, joined by one space in ``sent_idx`` order,
    differ from the turn's text (a turn with no sentences differs)."""
    parts: dict = {}
    for conv_id, turn_idx, sent_idx, sentence in sentences:
        parts.setdefault((conv_id, turn_idx), []).append((sent_idx, sentence))
    bad = len(set(parts) - set(turns))
    for key, text in turns.items():
        got = " ".join(s for _, s in sorted(parts.get(key, [])))
        bad += got != text
    return bad

"""Feature-string golden tests — byte-format parity with the reference
semantics (SURVEY.md §2.3; formats hand-derived from
/root/reference/code/DataProcessor/Feature/*.py)."""

from __future__ import annotations

from usc_ds_relationextraction_spark.functions.features import (em_features,
                                                                get_head,
                                                                rm_features,
                                                                word_shape)
from usc_ds_relationextraction_spark.functions.lemma import get_lemma

# "Alice Smith works at Acme Corp ."  (tokens 0..6)
TOKENS = ["Alice", "Smith", "works", "at", "Acme", "Corp", "."]
POS = ["NNP", "NNP", "VBZ", "IN", "NNP", "NNP", "."]
BROWN = {"work": "00110011001100110011"}


def test_get_head_last_noun_stop_at_in():
    # head = last N* token in span, stop at IN/',' (token_feature.py:31-40)
    assert get_head(POS, 0, 2) == 1
    assert get_head(POS, 4, 6) == 5
    # stop-at-IN: span covering [2, 5) with IN at 3 → head stays at 2's
    # default (end-1 = 4) unless a noun precedes the IN
    assert get_head(["NN", "IN", "NNP"], 0, 3) == 0


def test_lemma_gating():
    # non-alpha passes through (token_feature.py:16-18)
    assert get_lemma("42", "CD") == "42"
    assert get_lemma("U.S.", "NNP") == "U.S."
    # verb rules only for V*
    assert get_lemma("works", "VBZ") == "work"
    assert get_lemma("works", "NNS") == "work"  # noun plural strip
    assert get_lemma("works", "JJ") == "works"  # no rule for other POS
    assert get_lemma("joined", "VBD") == "join"
    assert get_lemma("decided", "VBN") == "decide"
    assert get_lemma("offices", "NNS") == "office"


def test_word_shape():
    assert word_shape("Alice") == "Aa"
    assert word_shape("ACME-2") == "A.0"
    assert word_shape("a1B2") == "a0A0"


def test_em_feature_strings_golden():
    feats = em_features(TOKENS, POS, 0, 2, BROWN)
    # registration order: head, tokens, ctxt, ctxt-gram, pos, shape,
    # length, char, brown (ner_feature.py:18-38)
    assert feats[0] == "HEAD_Smith"
    assert feats[1:3] == ["TKN_Alice", "TKN_Smith"]
    # no left context at sentence start; right context window=3
    assert "CTXT_RIGHT_work" in feats
    assert "CTXT_RIGHT_at" in feats
    assert "CTXT_RIGHT_Acme" in feats
    assert "CTXT_LEFT_Alice" not in feats
    # bigrams: in-span GRM + right-context grams
    assert "GRM_Alice_Smith" in feats
    assert "CTXT_RIGHT_GRM_Smith_work" in feats
    assert "POS_NNP" in feats
    assert "SHAPE_Aa" in feats
    assert "LENGTH_2" in feats
    # char 3-grams of head token "Smith" + boundary bigrams
    for c in ("CHAR_Smi", "CHAR_mit", "CHAR_ith", "CHAR_:Sm", "CHAR_th:"):
        assert c in feats
    # brown fires on lemma 'work' only if a span token maps — span-limited,
    # and 'works' is outside the span here
    assert not any(f.startswith("BROWN") for f in feats)


def test_em_brown_span_limited_vs_rm_sentence_wide():
    em = em_features(TOKENS, POS, 2, 3, BROWN)  # span = ["works"]
    assert "BROWN_4_0011" in em and "BROWN_ALL_00110011001100110011" in em
    rm = rm_features(TOKENS, POS, 0, 2, 4, 6, 0, BROWN)
    # RM brown scans the whole sentence (brown_feature.py:18)
    assert "BROWN_4_0011" in rm
    assert "BROWN_8_00110011" in rm
    assert "BROWN_12_001100110011" in rm
    assert "BROWN_20_00110011001100110011" in rm


def test_rm_feature_strings_golden():
    feats = rm_features(TOKENS, POS, 0, 2, 4, 6, 0, BROWN)
    assert feats[0] == "HEAD_EM1_Smith"
    assert feats[1] == "HEAD_EM2_Corp"
    assert "TKN_EM1_Alice" in feats and "TKN_EM2_Acme" in feats
    # between tokens: works, at — with FIRST/LAST markers
    assert "FIRST_TKN_BTWN_work" in feats
    assert "LAST_TKN_BTWN_at" in feats
    assert "TKN_BTWN_work" in feats and "TKN_BTWN_at" in feats
    assert "CTXT_EM1_RIGHT_work" in feats
    assert "CTXT_EM2_LEFT_work" in feats
    assert "CTXT_EM2_RIGHT_." in feats
    assert "GRM_EM1_Alice_Smith" in feats and "GRM_EM2_Acme_Corp" in feats
    assert "POS_VBZ" in feats and "POS_IN" in feats  # between-span POS
    assert "EM1_BEFORE_EM2" in feats
    assert "DISTANCE_2" in feats
    assert "NUM_EMS_BTWEEN_0" in feats
    # no EM1_IN_EM2: gap is 2 tokens, pattern needs exactly one 'in' token
    assert "EM1_IN_EM2" not in feats


def test_rm_special_pattern_in():
    toks = ["Acme", "in", "Springfield"]
    pos = ["NNP", "IN", "NNP"]
    feats = rm_features(toks, pos, 0, 1, 2, 3, 0, {})
    assert "EM1_IN_EM2" in feats
    # reversed span order → EM2_BEFORE_EM1 and reversed special pattern
    feats2 = rm_features(toks, pos, 2, 3, 0, 1, 0, {})
    assert "EM2_BEFORE_EM1" in feats2
    assert "EM2_IN_EM1" in feats2
    assert "DISTANCE_1" in feats2


def test_rm_em_type_feature():
    feats = rm_features(TOKENS, POS, 0, 2, 4, 6, 0, {},
                        em_spans=[(0, 2, ["/person"]),
                                  (4, 6, ["/organization", "/org2"])])
    assert "EM1_TYPE_/person" in feats
    assert "EM2_TYPE_/organization" in feats and "EM2_TYPE_/org2" in feats


def test_dep_pattern_arcs_golden():
    """F13/F23 approximation: arcs + reference emission format, golden."""
    from usc_ds_relationextraction_spark.functions.dependencies import (
        dep_features_py, pattern_arcs_py)
    toks = ["Alice", "Smith", "works", "at", "Acme", "Corp", "."]
    pos = ["NNP", "NNP", "VBZ", "IN", "NNP", "NNP", "."]
    arcs = pattern_arcs_py(toks, pos)
    assert ("nn", 1, 0) in arcs           # Alice <-nn- Smith
    assert ("nsubj", 2, 1) in arcs        # Smith -nsubj-> works
    assert ("prep_at", 2, 4) in arcs      # works -prep_at-> Acme
    assert ("nn", 5, 4) in arcs           # Acme <-nn- Corp
    # mention "Alice Smith" = [0, 2): nn arc internal (gov+dep inside);
    # nsubj leaves the mention at Smith -> emits DEP_dep with gov=works
    feats = dep_features_py(toks, pos, arcs, 0, 2)
    assert "DEP_dep:nsubj:work=V" in feats
    assert "DEP_gov:nn:Alice=N" in feats  # Smith governs Alice (inside)
    # mention "Acme Corp" = [4, 6): prep arc enters at Acme
    feats2 = dep_features_py(toks, pos, arcs, 4, 6)
    assert "DEP_dep:prep_at:work=V" in feats2


def test_dep_accept_filters():
    from usc_ds_relationextraction_spark.functions.dependencies import (
        accept_dep, accept_pos)
    assert accept_dep("prep_of") and accept_dep("nsubj")
    assert not accept_dep("det")
    assert accept_pos("NNP") and accept_pos("VBD")
    assert not accept_pos("JJ") and not accept_pos(".")

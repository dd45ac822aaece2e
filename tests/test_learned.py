"""Learned-inference quality gate (SURVEY.md §7.2 steps 5-7).

Trains the CoType-RM model on a small corpus and asserts the tuned
extraction F1 clears 0.9 — the sandbox stand-in for the BASELINE.json
P/R>=0.95 parity target (full-size runs reach 0.97/0.97).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from usc_ds_relationextraction_spark.functions.hashing import h64_py
from usc_ds_relationextraction_spark.plans import evaluation as ev
from usc_ds_relationextraction_spark.plans import inference as inf
from usc_ds_relationextraction_spark.plans.pipeline import KGPipeline
from usc_ds_relationextraction_spark.plans.training import CoTypeRMTrainer
from usc_ds_relationextraction_spark.sources import synthetic as syn


@pytest.fixture(scope="module")
def learned(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("whl"))
    turns = syn.transcripts(spark, 50)
    brown = {r.word: r.cluster for r in syn.brown_clusters(spark).collect()}
    pipe = KGPipeline(spark, wh)
    res = pipe.run_learned(turns, syn.kb_aliases(spark),
                           syn.kb_facts(spark), brown,
                           epochs=30, lr=0.25)
    return pipe, res


def test_tuned_f1_above_gate(learned):
    _, res = learned
    assert res["best"]["f1"] >= 0.9, res["best"]
    assert res["metrics"]["f1"] >= 0.9, res["metrics"]


def test_learned_triples_shape(learned):
    _, res = learned
    t = res["triples"]
    assert t.columns == ["subj", "pred", "obj", "conv_id", "turn_idx",
                         "mention_key", "score"]
    assert t.where(F.col("pred") == "None").count() == 0
    assert t.count() > 0


def test_training_resumes_from_checkpoint(learned, spark):
    """north_rule: resumable mid-pipeline — meta records the last epoch and
    a re-entrant train() call with the same total is a no-op returning the
    checkpointed state."""
    pipe, res = learned
    rm_mf = pipe.wh.read("rm_mention_feature")
    rm_ft = pipe.wh.read("rm_feature_type")
    rm_mt = pipe.wh.read("rm_mention_type")
    tr = CoTypeRMTrainer(spark, pipe.wh, "rm", lr=0.25)
    out = tr.train(rm_mf, rm_ft, rm_mt, epochs=30, resume=True)
    a = sorted(map(tuple, out["type"].collect()))
    b = sorted(map(tuple, res["embs"]["type"].collect()))
    assert a == b


def test_min_max_zero_clamp(spark):
    """P11 quirk (emb_prediction.py:152-164): min/max initialized at 0."""
    df = spark.createDataFrame([(1, 0.5), (2, 0.25)],
                               "mention_id long, score double")
    out = {r["mention_id"]: r["score_norm"]
           for r in inf.min_max_normalize(df).collect()}
    # min clamps to 0 even though all scores > 0
    assert abs(out[1] - 0.5 / (0.5 + 1e-8)) < 1e-9
    assert abs(out[2] - 0.25 / (0.5 + 1e-8)) < 1e-9


def _score_types_py(mentions, types, sim, none_id):
    """Plain-loop oracle of ``inference.score_types``: types in id order,
    a later type wins only on a strictly larger score (ties keep the
    smaller id), and a best score of exactly 0 maps to ``none_id``."""
    out = {}
    for mid, m in mentions:
        best_id, best = None, None
        for tid, y in sorted(types):
            s = sum(a * b for a, b in zip(m, y))
            if sim == "cosine":
                nm = math.sqrt(sum(a * a for a in m))
                ny = math.sqrt(sum(b * b for b in y))
                s = s / (nm * ny) if nm and ny else 0.0
            if best is None or s > best + 1e-12:
                best_id, best = tid, s
        out[mid] = (none_id if best == 0.0 else best_id, best)
    return out


def test_score_types_matches_loop_oracle(spark):
    """J7/M7/M8: argmax over all types, by cosine or by dot."""
    none_id = 0
    # inserted out of id order: the product sorts by id before the argmax
    types = [(7, [0.0, 3.0]), (4, [1.0, 0.0]), (9, [-1.0, -1.0])]
    mentions = [
        (1, [2.0, 1.0]),   # cosine picks 4, dot picks 7 (|y7| = 3)
        (2, [1.0, 1.0]),   # cosine tie between 4 and 7 -> 4
        (3, [3.0, 1.0]),   # dot tie between 4 and 7 -> 4
        (4, [0.0, 0.0]),   # all-zero vector -> none_id
        (5, [-1.0, -2.0]),
    ]
    m_df = spark.createDataFrame(mentions,
                                 "mention_id long, vec array<double>")
    y_df = spark.createDataFrame(types, "id long, vec array<double>")
    got = {}
    for sim in ("cosine", "dot"):
        rows = inf.score_types(spark, m_df, y_df, sim, none_id).collect()
        got[sim] = {r["mention_id"]: (r["type_id"], r["score"])
                    for r in rows}
        want = _score_types_py(mentions, types, sim, none_id)
        assert {k: v[0] for k, v in got[sim].items()} == \
            {k: v[0] for k, v in want.items()}, sim
        for k, (_, s) in want.items():
            assert got[sim][k][1] == pytest.approx(s, abs=1e-12), (sim, k)
    assert got["cosine"][1][0] == 4 and got["dot"][1][0] == 7
    assert got["cosine"][2][0] == 4 and got["dot"][3][0] == 4
    assert got["cosine"][4] == (none_id, 0.0) == got["dot"][4]


def test_evaluate_rm_neg_protocol(spark):
    """evaluation.py:82-111 semantics: exact set equality; None excluded
    from positives on both sides."""
    none = h64_py("None")
    gold = spark.createDataFrame(
        [(1, 10), (1, 11), (2, none), (3, 12)], "mention_id long, type_id long")
    pred = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 12), (3, 13)], "mention_id long, type_id long")
    m = ev.evaluate_rm_neg(pred, gold, none)
    # pos_gt = {1,3}; pos_pred = {1,2,3}; TP = {1}
    assert m["pos_gt"] == 2 and m["pos_pred"] == 3 and m["true_pos"] == 1


@pytest.fixture(scope="module")
def joint(spark, tmp_path_factory):
    """Joint mode with the EM namespace in the epoch loop
    (retype.cpp:149-161 parity): RM nets + EM nets + TransE."""
    wh = str(tmp_path_factory.mktemp("whj"))
    turns = syn.transcripts(spark, 40)
    brown = {r.word: r.cluster for r in syn.brown_clusters(spark).collect()}
    pipe = KGPipeline(spark, wh)
    res = pipe.run_learned(turns, syn.kb_aliases(spark),
                           syn.kb_facts(spark), brown,
                           epochs=25, lr=0.25, joint=True)
    return pipe, res


def test_joint_trains_em_namespace(joint):
    """EM-side feature/type embeddings exist and MOVED during joint
    training (not stuck at the deterministic init)."""
    import numpy as np

    from usc_ds_relationextraction_spark.plans.training import \
        init_matrix_fast
    _, res = joint
    assert "feature_em" in res["embs"] and "type_em" in res["embs"]
    rows = res["embs"]["feature_em"].limit(50).collect()
    assert len(rows) > 0
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    init = init_matrix_fast(ids, 50, "f")
    got = np.array([r["vec"] for r in rows])
    moved = np.abs(got - init).max(axis=1) > 1e-9
    # the vast majority of sampled EM feature vectors received gradients
    assert moved.mean() > 0.5, f"only {moved.mean():.0%} of EM vecs moved"


def test_joint_f1_above_gate(joint):
    _, res = joint
    assert res["best"]["f1"] >= 0.85, res["best"]


def test_joint_resumes_from_checkpoint(joint, spark):
    """Joint-mode resume (north_rule): re-entrant train() with the same
    epoch total is a no-op returning the checkpointed state for BOTH
    namespaces."""
    from usc_ds_relationextraction_spark.plans.training import (
        CoTypeJointTrainer)
    pipe, res = joint
    rm_mf = pipe.wh.read("rm_mention_feature")
    rm_ft = pipe.wh.read("rm_feature_type")
    rm_mt = pipe.wh.read("rm_mention_type")
    em = {k: pipe.wh.read(f"em_{k}")
          for k in ("mention_feature", "feature_type", "mention_type")}
    tr = CoTypeJointTrainer(spark, pipe.wh, "rm", lr=0.25)
    out = tr.train(rm_mf, rm_ft, rm_mt, pipe.wh.read("triples_mention"),
                   epochs=15, resume=True, em_graphs=em)
    for key in ("type", "type_em"):
        a = sorted(map(tuple, out[key].collect()))
        b = sorted(map(tuple, res["embs"][key].collect()))
        assert a == b, key


def test_large_path_matches_broadcast(learned, spark, tmp_path):
    """SMALL_MATRIX_LIMIT flip (training_large): forcing the join-based
    feature-state path on the same graphs reproduces the broadcast
    path's embeddings — identical splitmix init, bit-identical negative
    draws through the distributed inverse CDF, same gradient math; the
    residual is float-sum association order in the grad aggregation."""
    import numpy as np

    from usc_ds_relationextraction_spark.sources.catalog import Warehouse
    pipe, _ = learned
    mf = pipe.wh.read("rm_mention_feature")
    ft = pipe.wh.read("rm_feature_type")
    mt = pipe.wh.read("rm_mention_type")

    t_small = CoTypeRMTrainer(
        spark, Warehouse(spark, str(tmp_path / "ws")), "rm", lr=0.25)
    small = t_small.train(mf, ft, mt, epochs=4, resume=False)
    t_large = CoTypeRMTrainer(
        spark, Warehouse(spark, str(tmp_path / "wl")), "rm", lr=0.25,
        small_matrix_limit=1)
    large = t_large.train(mf, ft, mt, epochs=4, resume=False)

    for part in ("feature", "type", "mention"):
        a = {r["id"]: np.array(r["vec"], dtype=np.float64)
             for r in small[part].collect()}
        b = {r["id"]: np.array(r["vec"], dtype=np.float64)
             for r in large[part].collect()}
        assert set(a) == set(b), part
        diff = max(float(np.abs(a[i] - b[i]).max()) for i in a)
        assert diff < 1e-5, (part, diff)


def test_joint_large_path_matches_broadcast(joint, spark, tmp_path):
    """Joint-mode SMALL_MATRIX_LIMIT flip (train_large_joint): forcing
    the join-based feature-state path reproduces the broadcast joint
    path's embeddings for BOTH namespaces plus the TransE-coupled
    mention table — same splitmix init, bit-identical negative draws,
    same TransE corruption/sign-gradients, same projection; residual is
    float-sum association order in the grad aggregation."""
    import numpy as np

    from usc_ds_relationextraction_spark.plans.training import (
        CoTypeJointTrainer)
    from usc_ds_relationextraction_spark.sources.catalog import Warehouse
    pipe, _ = joint
    rm_mf = pipe.wh.read("rm_mention_feature")
    rm_ft = pipe.wh.read("rm_feature_type")
    rm_mt = pipe.wh.read("rm_mention_type")
    tri = pipe.wh.read("triples_mention")
    em = {k: pipe.wh.read(f"em_{k}")
          for k in ("mention_feature", "feature_type", "mention_type")}

    t_small = CoTypeJointTrainer(
        spark, Warehouse(spark, str(tmp_path / "wjs")), "rm", lr=0.25)
    small = t_small.train(rm_mf, rm_ft, rm_mt, tri, epochs=4,
                          resume=False, em_graphs=em)
    t_large = CoTypeJointTrainer(
        spark, Warehouse(spark, str(tmp_path / "wjl")), "rm", lr=0.25,
        small_matrix_limit=1)
    large = t_large.train(rm_mf, rm_ft, rm_mt, tri, epochs=4,
                          resume=False, em_graphs=em)

    for part in ("feature", "type", "feature_em", "type_em", "mention"):
        a = {r["id"]: np.array(r["vec"], dtype=np.float64)
             for r in small[part].collect()}
        b = {r["id"]: np.array(r["vec"], dtype=np.float64)
             for r in large[part].collect()}
        assert set(a) == set(b), part
        diff = max(float(np.abs(a[i] - b[i]).max()) for i in a)
        assert diff < 1e-5, (part, diff)

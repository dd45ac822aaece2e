"""Join-based feature-state trainer — the ``SMALL_MATRIX_LIMIT`` flip.

``plans/training.py`` holds the feature/type embedding matrices on the
driver and broadcasts them per epoch — the reference's own layout
(shared-memory matrices, ``retype.cpp:230-266``), valid while
|F|+|Y| ≲ 2·10^7.  Past that, THIS module keeps the **feature** state as
a distributed ``(id, vec)`` DataFrame — exactly the code path mention
embeddings already use — and the per-epoch SGNS pass becomes joins:

 - positive edges pick up ``u_vec`` (mention) and ``v_vec`` (feature)
   via two hash joins on their 60-bit ids;
 - **negatives are pre-sampled as edges**: each (edge, k) draw maps its
   md5/pandas-hash uniform through a *distributed* inverse CDF — the
   degree^0.75 cumulative table built with the range-bucketed two-pass
   prefix sum (the ``a5_cumulative_dist`` strategy: per-bucket window +
   tiny offset window; integer milli-weights so bucket-local + offset
   composition is EXACT and both paths select bit-identical negatives);
   the drawn ids then join the feature table for their vectors;
 - the gradient apply on the feature side is the same
   ``join → zip_with(vec + lr·grad/cnt)`` used for mentions, with A/B
   parquet checkpoints truncating lineage.

The **type** matrix stays broadcast: |Y| is the KB relation/type
vocabulary, structurally small (hundreds; the reference's TYPE_FILE),
and PLE's argmax-over-all-types semantics needs the full row anyway.
``train_large`` asserts this invariant loudly.

Numeric parity with the broadcast path (the equivalence test,
``tests/test_learned.py::test_large_path_matches_broadcast``):
 - init: the same splitmix64 stream (``init_matrix_fast``) evaluated
   inside ``mapInPandas`` — bit-identical start state;
 - negative draws: same ``_hash_u01`` uniforms, same integer-milli
   cumulative (``_neg_table``) — bit-identical draw sequences, so the
   two paths never diverge structurally;
 - gradients: same ``_sgns_block``/``_ple_block`` math where the state
   side is broadcast, and the same single-IEEE-op formulas where it is
   joined; remaining differences are float-sum association order inside
   ``_agg_grads`` (ulp-scale), bounded by the test's tolerance.

Scale shape: one epoch = 2 broadcast-free hash joins (mention, feature)
+ 1 cogrouped inverse-CDF lookup (keys uniform by construction — bucket
ids come from 60-bit hash ranges) + 1 grad shuffle (partial-agg'd) +
2 join-applies.  No driver state grows with |F|; no global windows.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .training import (GRAD_SCHEMA, _agg_grads, _apply_small_grads,
                       _hash_u01, _neg_table, _ple_block,
                       _sgns_block, _sigmoid, init_matrix_fast)

N_CDF_BUCKETS = 64


# ----------------------------------------------------------------- init
def init_embeddings_splitmix(nodes: DataFrame, id_col: str, dim: int,
                             salt: str) -> DataFrame:
    """Distributed twin of :func:`training.init_matrix_fast` — the SAME
    splitmix64 stream per (id, salt), evaluated executor-side in Arrow
    batches, so the join path starts from the broadcast path's exact
    matrix.  Output vecs are float64 (the driver matrix's dtype)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            ids = b[id_col].to_numpy(dtype=np.int64)
            mat = init_matrix_fast(ids, dim, salt)
            yield pd.DataFrame({"id": ids, "vec": list(mat)})

    return nodes.select(id_col).distinct().mapInPandas(
        run, schema="id long, vec array<double>")


# ---------------------------------------------- distributed inverse CDF
def build_cdf(graph: DataFrame, col: str, n_buckets: int = N_CDF_BUCKETS):
    """Distributed degree^0.75 cumulative table over ``col``.

    Returns ``(cdf_df, bucket_ends)``: ``cdf_df`` has
    (bucket, id, cum_norm) with the GLOBAL normalized cumulative — built
    with integer milli-weights (``floor(sqrt(d·sqrt(d))·1000)``, the
    IEEE-exact ^0.75) through a per-bucket window plus a tiny
    bucket-offset window, so every value equals the driver
    ``np.cumsum`` bit-for-bit; ``bucket_ends`` is the n_buckets-sized
    float array of each bucket's last cum_norm (driver-side — O(64)).
    """
    deg = graph.groupBy(col).agg(F.sum("w").alias("d"))
    w75 = F.floor(F.sqrt(F.col("d") * F.sqrt(F.col("d"))) * 1000) \
        .cast("bigint")
    t = deg.select(F.col(col).alias("id"), w75.alias("w75"))
    rng = t.agg(F.min("id").alias("lo"), F.max("id").alias("hi")).collect()[0]
    lo, hi = int(rng["lo"]), int(rng["hi"])
    # value-range bucketing: ids are 60-bit hashes (uniform) or dense
    # small ints; double division is monotonic in id, which is all the
    # two-level searchsorted needs (bucket order == id order)
    div = max((hi - lo) // n_buckets + 1, 1)
    t = t.withColumn(
        "bucket",
        F.floor((F.col("id") - F.lit(lo)) / F.lit(float(div)))
        .cast("bigint"))
    wloc = Window.partitionBy("bucket").orderBy("id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t = t.withColumn("local_cum", F.sum("w75").over(wloc))
    totals = t.groupBy("bucket").agg(F.sum("w75").alias("tot"))
    woff = Window.orderBy("bucket") \
        .rowsBetween(Window.unboundedPreceding, -1)  # ≤ n_buckets+1 rows
    offs = totals.withColumn(
        "off", F.coalesce(F.sum("tot").over(woff), F.lit(0)))
    ends = offs.withColumn(
        "end_int", F.col("off") + F.col("tot")).orderBy("bucket") \
        .select("bucket", "end_int").collect()
    grand = float(int(ends[-1]["end_int"])) if ends else 1.0
    cdf = t.join(F.broadcast(offs.select("bucket", "off")), on="bucket") \
        .select("bucket", "id",
                ((F.col("local_cum") + F.col("off")) / F.lit(grand))
                .alias("cum_norm"))
    # only PRESENT buckets participate in draw assignment — a draw maps
    # to the first present bucket whose end >= u01 (left semantics, the
    # global searchsorted's bucket), so empty range slices are skipped
    bucket_ids = np.array([int(r["bucket"]) for r in ends], dtype=np.int64)
    bucket_ends = np.array([int(r["end_int"]) / grand for r in ends])
    return cdf, (bucket_ids, bucket_ends)


def sample_negatives(draws: DataFrame, cdf: DataFrame,
                     buckets: tuple[np.ndarray, np.ndarray]) -> DataFrame:
    """Map each draw's uniform through the distributed CDF.

    Two-level searchsorted: the draw finds its (present) bucket against
    the tiny broadcast end array (same left-semantics as the global
    searchsorted), then a cogrouped ``applyInPandas`` resolves the id
    within the bucket's cum_norm slice.  Selects the identical id the
    driver ``np.searchsorted(neg_cum, u01)`` would."""
    bucket_ids, ends = buckets

    @pandas_udf("long")
    def to_bucket(u: pd.Series) -> pd.Series:
        idx = np.searchsorted(ends, u.to_numpy(), side="left")
        return pd.Series(bucket_ids[np.clip(idx, 0, len(ends) - 1)])

    d = draws.withColumn("bucket", to_bucket("u01"))
    out_schema = ("u_id long, v_id long, k int, w double, "
                  "u_vec array<float>, neg_id long")

    def resolve(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left):
            return pd.DataFrame(columns=["u_id", "v_id", "k", "w",
                                         "u_vec", "neg_id"])
        r = right.sort_values("id")
        cum = r["cum_norm"].to_numpy()
        ids = r["id"].to_numpy()
        idx = np.searchsorted(cum, left["u01"].to_numpy(), side="left")
        idx = np.clip(idx, 0, len(ids) - 1)
        out = left[["u_id", "v_id", "k", "w", "u_vec"]].copy()
        out["neg_id"] = ids[idx]
        return out

    return d.groupBy("bucket").cogroup(cdf.groupBy("bucket")) \
        .applyInPandas(resolve, schema=out_schema)


# --------------------------------------------------------- gradient stages
def _pos_grads(edges_with_vecs: DataFrame, ns: str) -> DataFrame:
    """Positive-edge SGNS gradients for the joined M–F pass: the exact
    per-edge formulas of ``_sgns_block``'s positive branch, with the
    mention-side accumulation emitted as its own row (cnt carries w once,
    on the positive part — the neg parts carry cnt=0 so the per-node
    divisor matches the broadcast path's single pre-summed row)."""
    f_set = f"feature@{ns}"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            U = np.stack(b["u_vec"].values).astype(np.float64)
            V = np.stack(b["v_vec"].values).astype(np.float64)
            w = b["w"].to_numpy(dtype=np.float64)
            g = (1.0 - _sigmoid(np.einsum("ij,ij->i", U, V))) * w
            yield pd.concat([
                pd.DataFrame({"node_set": f_set,
                              "node_id": b["v_id"].to_numpy(np.int64),
                              "grad": list(g[:, None] * U), "cnt": w}),
                pd.DataFrame({"node_set": "mention",
                              "node_id": b["u_id"].to_numpy(np.int64),
                              "grad": list(g[:, None] * V), "cnt": w}),
            ], ignore_index=True)

    return edges_with_vecs.mapInPandas(run, schema=GRAD_SCHEMA)


def _neg_grads(draws_with_vecs: DataFrame, ns: str) -> DataFrame:
    """Negative-draw SGNS gradients: σ-push-down on the drawn feature,
    mention part with cnt=0 (see :func:`_pos_grads`)."""
    f_set = f"feature@{ns}"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            U = np.stack(b["u_vec"].values).astype(np.float64)
            N = np.stack(b["neg_vec"].values).astype(np.float64)
            w = b["w"].to_numpy(dtype=np.float64)
            gn = (0.0 - _sigmoid(np.einsum("ij,ij->i", U, N))) * w
            yield pd.concat([
                pd.DataFrame({"node_set": f_set,
                              "node_id": b["neg_id"].to_numpy(np.int64),
                              "grad": list(gn[:, None] * U), "cnt": w}),
                pd.DataFrame({"node_set": "mention",
                              "node_id": b["u_id"].to_numpy(np.int64),
                              "grad": list(gn[:, None] * N),
                              "cnt": np.zeros(len(b))}),
            ], ignore_index=True)

    return draws_with_vecs.mapInPandas(run, schema=GRAD_SCHEMA)


def _fy_grads(fy_with_uvec: DataFrame, ns: str, bcast, epoch: int,
              negatives: int) -> DataFrame:
    """F–Y SGNS with the feature vector JOINED (u_vec column) and the
    small type side broadcast — ``_sgns_block`` itself, U from the
    column."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        y_i2r, Y_mat, neg_y = bcast.value
        for b in batches:
            if not len(b):
                continue
            U = np.stack(b["u_vec"].values).astype(np.float64)
            frames = _sgns_block(
                U, b["u_id"].values, b["v_id"].values,
                b["w"].to_numpy(np.float64), Y_mat, y_i2r,
                neg_y[0], neg_y[1], f"feature@{ns}", f"type@{ns}",
                epoch, negatives)
            yield pd.concat(frames, ignore_index=True)

    return fy_with_uvec.mapInPandas(run, schema=GRAD_SCHEMA)


def _ple_grads(ments_with_vecs: DataFrame, ns: str, bcast,
               alpha: float) -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        y_i2r, Y_mat, _neg = bcast.value
        y_ids = np.array(sorted(y_i2r), dtype=np.int64)
        for b in batches:
            if not len(b):
                continue
            M = np.stack(b["u_vec"].values).astype(np.float64)
            frames = _ple_block(M, b["u_id"].values, b["cand_ids"].values,
                                Y_mat, y_i2r, y_ids, alpha, f"type@{ns}")
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return ments_with_vecs.mapInPandas(run, schema=GRAD_SCHEMA)


def _join_apply(emb: DataFrame, grads: DataFrame, lr: float,
                vec_type: str) -> DataFrame:
    """vec += lr·grad/cnt through a left join — the mention-apply shape,
    reused verbatim for the distributed feature state."""
    return emb.join(grads, on="id", how="left").select(
        "id",
        F.when(F.col("grad").isNotNull(),
               F.zip_with("vec", "grad",
                          lambda v, gr: (v + F.lit(lr) * gr
                                         / F.col("cnt")).cast(vec_type)))
        .otherwise(F.col("vec")).alias("vec"))


# --------------------------------------------------------------- trainer
def train_large(trainer, mention_feature: DataFrame,
                feature_type: DataFrame, mention_type: DataFrame,
                epochs: int, resume: bool = True,
                verbose: bool = False) -> dict[str, DataFrame]:
    """The flip target for :meth:`training.CoTypeRMTrainer.train` when
    |F|+|Y| exceeds ``SMALL_MATRIX_LIMIT``: same objectives, same epoch
    schedule/lr decay/checkpoint protocol, feature state distributed."""
    spark: SparkSession = trainer.spark
    sc = spark.sparkContext
    ns = trainer.prefix
    dim, negatives, alpha = trainer.dim, trainer.negatives, trainer.alpha

    # type side must stay broadcastable — it is the KB type vocabulary
    y_rows = feature_type.select("type_id") \
        .union(mention_type.select("type_id")).distinct() \
        .orderBy("type_id").toPandas()
    y_ids = y_rows["type_id"].to_numpy(dtype=np.int64)
    if len(y_ids) > 1_000_000:
        raise ValueError(
            f"namespace {ns}: {len(y_ids)} types — the type vocabulary "
            "is expected to be KB-sized; a distributed-Y PLE needs a "
            "different argmax strategy (top-1 join), not implemented")
    y_i2r = {int(i): r for r, i in enumerate(y_ids)}
    Y_mat = init_matrix_fast(y_ids, dim, "y")
    neg_y = _neg_table(feature_type, "type_id")

    feat_nodes = mention_feature.select("feature_id") \
        .union(feature_type.select("feature_id"))
    emb_f = init_embeddings_splitmix(feat_nodes, "feature_id", dim, "f")

    from .training import init_embeddings
    start_epoch = 0
    meta_name = trainer._name("meta")
    if resume and trainer.wh.exists(meta_name):
        meta = trainer.wh.read(meta_name).collect()[0]
        start_epoch = meta["epoch"] + 1
        emb_m = trainer.wh.read(trainer._name("mention"))
        emb_f = trainer.wh.read(trainer._name("feature")) \
            .select("id", F.col("vec").cast("array<double>").alias("vec"))
        Y_mat = trainer._load_matrix(trainer._name("type"), y_ids, y_i2r)
    else:
        emb_m = init_embeddings(
            mention_feature.select("mention_id").distinct(),
            "mention_id", dim, "m")
    if start_epoch >= epochs:
        return _result(trainer, emb_m, emb_f, y_ids, Y_mat)

    cdf, bucket_ends = build_cdf(mention_feature, "feature_id")
    cdf = cdf.localCheckpoint(eager=True)

    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    mf = mention_feature.select(
        F.col("mention_id").alias("u_id"),
        F.col("feature_id").alias("v_id"), "w") \
        .repartition(shuffle_n, "u_id").localCheckpoint(eager=True)
    fy = feature_type.select(
        F.col("feature_id").alias("u_id"),
        F.col("type_id").alias("v_id"), "w").localCheckpoint(eager=True)
    cand = mention_type.groupBy("mention_id") \
        .agg(F.collect_list("type_id").alias("cand_ids")) \
        .withColumnRenamed("mention_id", "u_id").localCheckpoint(eager=True)

    ks = F.array(*[F.lit(k) for k in range(negatives)])

    @pandas_udf("double")
    def u01_udf(u_id: pd.Series, v_id: pd.Series, salt: pd.Series
                ) -> pd.Series:
        key = u_id.astype(str) + "_" + v_id.astype(str)
        # one salt value per batch is not guaranteed — group to be exact
        out = np.empty(len(key))
        for s in salt.unique():
            m = (salt == s).to_numpy()
            out[m] = _hash_u01(key[m], int(s))
        return pd.Series(out)

    ab_m = [trainer.wh.path(trainer._name("mention_a")),
            trainer.wh.path(trainer._name("mention_b"))]
    ab_f = [trainer.wh.path(trainer._name("feature_a")),
            trainer.wh.path(trainer._name("feature_b"))]
    emb_m.write.mode("overwrite").parquet(ab_m[0])
    emb_m = spark.read.parquet(ab_m[0])
    emb_f.write.mode("overwrite").parquet(ab_f[0])
    emb_f = spark.read.parquet(ab_f[0])

    import time as _time
    for epoch in range(start_epoch, epochs):
        _t0 = _time.time()
        from .training import lr_schedule
        lr = lr_schedule(trainer.lr0, epoch, epochs)
        bcast = sc.broadcast((y_i2r, Y_mat, neg_y))

        m_named = emb_m.select(F.col("id").alias("u_id"),
                               F.col("vec").alias("u_vec"))
        f_named = emb_f.select(F.col("id").alias("v_id"),
                               F.col("vec").alias("v_vec"))
        ed = mf.join(m_named, on="u_id").join(f_named, on="v_id")
        pos = _pos_grads(ed, ns)

        draws = mf.join(m_named, on="u_id") \
            .withColumn("k", F.explode(ks)) \
            .withColumn("u01", u01_udf(
                "u_id", "v_id",
                (F.lit(epoch * 7919) + F.col("k")).cast("long")))
        drawn = sample_negatives(
            draws.select("u_id", "v_id", "k", "w", "u_vec", "u01"), cdf,
            bucket_ends)
        neg = _neg_grads(
            drawn.join(emb_f.select(F.col("id").alias("neg_id"),
                                    F.col("vec").alias("neg_vec")),
                       on="neg_id"), ns)

        fyu = fy.join(emb_f.select(F.col("id").alias("u_id"),
                                   F.col("vec").alias("u_vec")), on="u_id")
        fyg = _fy_grads(fyu, ns, bcast, epoch, negatives)

        pleg = _ple_grads(cand.join(m_named, on="u_id"), ns, bcast, alpha)

        grads = pos.unionByName(neg).unionByName(fyg).unionByName(pleg)
        agg = _agg_grads(grads, dim).localCheckpoint(eager=True)

        # type side: driver apply (small); mention + feature: join apply
        class _YOnly:
            def targets(self):
                return {f"type@{ns}": (Y_mat, y_i2r)}
        _apply_small_grads(agg, lr, {ns: _YOnly()})

        mg = agg.where(F.col("node_set") == "mention") \
            .select(F.col("node_id").alias("id"), "grad", "cnt")
        new_m = _join_apply(emb_m, mg, lr, "float")
        fg = agg.where(F.col("node_set") == f"feature@{ns}") \
            .select(F.col("node_id").alias("id"), "grad", "cnt")
        new_f = _join_apply(emb_f, fg, lr, "double")

        new_m.write.mode("overwrite").parquet(ab_m[(epoch + 1) % 2])
        emb_m = spark.read.parquet(ab_m[(epoch + 1) % 2])
        new_f.write.mode("overwrite").parquet(ab_f[(epoch + 1) % 2])
        emb_f = spark.read.parquet(ab_f[(epoch + 1) % 2])
        agg.unpersist()
        bcast.unpersist()

        if (epoch + 1) % trainer.checkpoint_every == 0 \
                or epoch == epochs - 1:
            trainer.wh.write(trainer._name("mention"), emb_m)
            trainer.wh.write(
                trainer._name("feature"),
                emb_f.select("id",
                             F.col("vec").cast("array<float>").alias("vec")))
            trainer.wh.write(trainer._name("type"),
                             trainer._matrix_df(y_ids, Y_mat))
            trainer.wh.write(meta_name, spark.createDataFrame(
                [(epoch, float(lr))], "epoch int, lr double"))
            emb_m = trainer.wh.read(trainer._name("mention"))
        if verbose:
            print(f"[train-large {ns}] epoch {epoch} lr={lr:.5f} "
                  f"wall={_time.time() - _t0:.1f}s", flush=True)

    return _result(trainer, emb_m, emb_f, y_ids, Y_mat)


def _result(trainer, emb_m, emb_f, y_ids, Y_mat) -> dict:
    return {"mention": emb_m,
            "feature": emb_f.select(
                "id", F.col("vec").cast("array<float>").alias("vec")),
            "type": trainer._matrix_df(y_ids, Y_mat)}


# ------------------------------------------------------ joint large path
def train_large_joint(trainer, mention_feature: DataFrame,
                      feature_type: DataFrame, mention_type: DataFrame,
                      triples: DataFrame, em_graphs: dict | None,
                      epochs: int, resume: bool = True,
                      verbose: bool = False) -> dict[str, DataFrame]:
    """Joint-mode flip target: every feature namespace's state
    distributed, the TransE coupling unchanged from the broadcast joint
    path (it already runs on the distributed mention table).

    Placement: all namespaces flip together (mixed per-namespace
    placement is not worth the complexity — the flip is driven by the
    SUM of vocab sizes, same rule as the base trainer).  Type matrices
    stay broadcast per namespace (KB-sized, PLE needs full rows).

    Numeric parity with ``CoTypeJointTrainer._train_joint`` mirrors the
    RM case (``test_large_path_matches_broadcast``): identical splitmix
    init, bit-identical negative draws through the distributed inverse
    CDF, same gradient kernels, same lr/projection/checkpoint protocol;
    residual is float-sum association order in ``_agg_grads``.
    """
    from .training import (corrupted_triples_simple, init_embeddings,
                           lr_schedule, transe_step)
    spark: SparkSession = trainer.spark
    sc = spark.sparkContext
    dim, negatives, alpha = trainer.dim, trainer.negatives, trainer.alpha
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))

    graphs = {trainer.prefix: (mention_feature, feature_type,
                               mention_type)}
    if em_graphs is not None:
        graphs["em"] = (em_graphs["mention_feature"],
                        em_graphs["feature_type"],
                        em_graphs["mention_type"])

    tri = triples.select(
        F.col("em1_id").alias("h_id"), F.col("em2_id").alias("t_id"),
        F.col("rm_id").alias("r_id")).localCheckpoint(eager=True)

    # per-namespace state: broadcast Y, distributed feature table, CDF
    ns_state: dict = {}
    all_mentions = tri.select(F.col("h_id").alias("mention_id")) \
        .union(tri.select("t_id")).union(tri.select("r_id"))
    for ns, (mf_g, ft_g, mt_g) in graphs.items():
        y_rows = ft_g.select("type_id").union(mt_g.select("type_id")) \
            .distinct().orderBy("type_id").toPandas()
        y_ids = y_rows["type_id"].to_numpy(dtype=np.int64)
        if len(y_ids) > 1_000_000:
            raise ValueError(f"namespace {ns}: type vocab too large for "
                             "the broadcast-Y PLE")
        y_i2r = {int(i): r for r, i in enumerate(y_ids)}
        Y_mat = init_matrix_fast(y_ids, dim, "y")
        feat_nodes = mf_g.select("feature_id") \
            .union(ft_g.select("feature_id"))
        emb_f = init_embeddings_splitmix(feat_nodes, "feature_id", dim, "f")
        cdf, bucket_ends = build_cdf(mf_g, "feature_id")
        ns_state[ns] = {
            "y_ids": y_ids, "y_i2r": y_i2r, "Y_mat": Y_mat,
            "neg_y": _neg_table(ft_g, "type_id"), "emb_f": emb_f,
            "cdf": cdf.localCheckpoint(eager=True),
            "bucket_ends": bucket_ends,
            "mf": mf_g.select(F.col("mention_id").alias("u_id"),
                              F.col("feature_id").alias("v_id"), "w")
            .repartition(shuffle_n, "u_id").localCheckpoint(eager=True),
            "fy": ft_g.select(F.col("feature_id").alias("u_id"),
                              F.col("type_id").alias("v_id"), "w")
            .localCheckpoint(eager=True),
            "cand": mt_g.groupBy("mention_id")
            .agg(F.collect_list("type_id").alias("cand_ids"))
            .withColumnRenamed("mention_id", "u_id")
            .localCheckpoint(eager=True),
        }
        all_mentions = all_mentions.union(
            mf_g.select(F.col("mention_id")))
    all_mentions = all_mentions.distinct()

    meta_name = trainer._name("meta")
    start_epoch = 0
    if resume and trainer.wh.exists(meta_name):
        meta = trainer.wh.read(meta_name).collect()[0]
        start_epoch = meta["epoch"] + 1
        emb_m = trainer.wh.read(trainer._name("mention"))
        for ns, st in ns_state.items():
            st["emb_f"] = trainer.wh.read(
                trainer._space_name("feature", ns)).select(
                "id", F.col("vec").cast("array<double>").alias("vec"))
            st["Y_mat"] = trainer._load_matrix(
                trainer._space_name("type", ns), st["y_ids"], st["y_i2r"])
    else:
        emb_m = init_embeddings(all_mentions, "mention_id", dim, "m")

    def _res():
        out = {"mention": emb_m}
        for ns, st in ns_state.items():
            fk = "feature" if ns == trainer.prefix else f"feature_{ns}"
            yk = "type" if ns == trainer.prefix else f"type_{ns}"
            out[fk] = st["emb_f"].select(
                "id", F.col("vec").cast("array<float>").alias("vec"))
            out[yk] = trainer._matrix_df(st["y_ids"], st["Y_mat"])
        return out

    if start_epoch >= epochs:
        return _res()

    ks = F.array(*[F.lit(k) for k in range(negatives)])

    @pandas_udf("double")
    def u01_udf(u_id: pd.Series, v_id: pd.Series, salt: pd.Series
                ) -> pd.Series:
        key = u_id.astype(str) + "_" + v_id.astype(str)
        out = np.empty(len(key))
        for s in salt.unique():
            m = (salt == s).to_numpy()
            out[m] = _hash_u01(key[m], int(s))
        return pd.Series(out)

    ab_m = [trainer.wh.path(trainer._name("mention_a")),
            trainer.wh.path(trainer._name("mention_b"))]
    emb_m.write.mode("overwrite").parquet(ab_m[0])
    emb_m = spark.read.parquet(ab_m[0])
    for ns, st in ns_state.items():
        st["ab"] = [trainer.wh.path(trainer._space_name("feature_a", ns)),
                    trainer.wh.path(trainer._space_name("feature_b", ns))]
        st["emb_f"].write.mode("overwrite").parquet(st["ab"][0])
        st["emb_f"] = spark.read.parquet(st["ab"][0])

    import time as _time
    for epoch in range(start_epoch, epochs):
        _t0 = _time.time()
        lr = lr_schedule(trainer.lr0, epoch, epochs)
        m_named = emb_m.select(F.col("id").alias("u_id"),
                               F.col("vec").alias("u_vec"))
        all_grads = []
        bcasts = []
        for ns, st in ns_state.items():
            bcast = sc.broadcast((st["y_i2r"], st["Y_mat"], st["neg_y"]))
            bcasts.append(bcast)
            f_named = st["emb_f"].select(F.col("id").alias("v_id"),
                                         F.col("vec").alias("v_vec"))
            ed = st["mf"].join(m_named, on="u_id").join(f_named, on="v_id")
            all_grads.append(_pos_grads(ed, ns))
            draws = st["mf"].join(m_named, on="u_id") \
                .withColumn("k", F.explode(ks)) \
                .withColumn("u01", u01_udf(
                    "u_id", "v_id",
                    (F.lit(epoch * 7919) + F.col("k")).cast("long")))
            drawn = sample_negatives(
                draws.select("u_id", "v_id", "k", "w", "u_vec", "u01"),
                st["cdf"], st["bucket_ends"])
            all_grads.append(_neg_grads(
                drawn.join(st["emb_f"].select(
                    F.col("id").alias("neg_id"),
                    F.col("vec").alias("neg_vec")), on="neg_id"), ns))
            fyu = st["fy"].join(st["emb_f"].select(
                F.col("id").alias("u_id"), F.col("vec").alias("u_vec")),
                on="u_id")
            all_grads.append(_fy_grads(fyu, ns, bcast, epoch, negatives))
            all_grads.append(_ple_grads(st["cand"].join(m_named, on="u_id"),
                                        ns, bcast, alpha))

        # TransE pass — identical to the broadcast joint path
        ct = corrupted_triples_simple(tri, epoch)
        tw = ct
        for cid, vname in (("h_id", "h_vec"), ("t_id", "t_vec"),
                           ("r_id", "r_vec"), ("tc_id", "tc_vec")):
            tw = tw.join(emb_m.select(F.col("id").alias(cid),
                                      F.col("vec").alias(vname)), on=cid)
        g_tr = transe_step(tw, epoch)
        if trainer.trans_weight != 1.0:
            g_tr = g_tr.withColumn(
                "grad", F.transform(
                    "grad", lambda x: x * F.lit(trainer.trans_weight)))
        all_grads.append(g_tr)

        grads = all_grads[0]
        for g in all_grads[1:]:
            grads = grads.unionByName(g)
        agg = _agg_grads(grads, dim).localCheckpoint(eager=True)

        class _YOnly:
            def __init__(self, ns, st):
                self._t = {f"type@{ns}": (st["Y_mat"], st["y_i2r"])}

            def targets(self):
                return self._t
        _apply_small_grads(agg, lr,
                           {ns: _YOnly(ns, st)
                            for ns, st in ns_state.items()})

        mg = agg.where(F.col("node_set") == "mention") \
            .select(F.col("node_id").alias("id"), "grad", "cnt")
        new_m = _join_apply(emb_m, mg, lr, "float")
        # unit-ball projection (hplelib.cpp:746-767), as in the
        # broadcast joint path
        norm = F.sqrt(F.aggregate(
            "vec", F.lit(0.0), lambda acc, x: acc + x * x))
        new_m = new_m.select(
            "id",
            F.when(norm > 1.0,
                   F.transform("vec", lambda x: (x / norm).cast("float")))
            .otherwise(F.col("vec")).alias("vec"))
        new_m.write.mode("overwrite").parquet(ab_m[(epoch + 1) % 2])
        emb_m = spark.read.parquet(ab_m[(epoch + 1) % 2])

        for ns, st in ns_state.items():
            fg = agg.where(F.col("node_set") == f"feature@{ns}") \
                .select(F.col("node_id").alias("id"), "grad", "cnt")
            new_f = _join_apply(st["emb_f"], fg, lr, "double")
            tgt = st["ab"][(epoch + 1) % 2]
            new_f.write.mode("overwrite").parquet(tgt)
            st["emb_f"] = spark.read.parquet(tgt)
        agg.unpersist()
        for b in bcasts:
            b.unpersist()

        if (epoch + 1) % trainer.checkpoint_every == 0 \
                or epoch == epochs - 1:
            trainer.wh.write(trainer._name("mention"), emb_m)
            for ns, st in ns_state.items():
                trainer.wh.write(
                    trainer._space_name("feature", ns),
                    st["emb_f"].select(
                        "id",
                        F.col("vec").cast("array<float>").alias("vec")))
                trainer.wh.write(trainer._space_name("type", ns),
                                 trainer._matrix_df(st["y_ids"],
                                                    st["Y_mat"]))
            trainer.wh.write(meta_name, spark.createDataFrame(
                [(epoch, float(lr))], "epoch int, lr double"))
            emb_m = trainer.wh.read(trainer._name("mention"))
        if verbose:
            print(f"[train-large-joint] epoch {epoch} lr={lr:.5f} "
                  f"wall={_time.time() - _t0:.1f}s", flush=True)

    return _res()

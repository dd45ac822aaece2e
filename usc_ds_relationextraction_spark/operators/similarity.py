"""Similarity search over embedding columns (``array<float>``).

Two tiers:
 - **Brute-force top-k** (the correctness baseline): integer-quantized dot
   product (floor(x*1000+0.5)) so scores are exact integers — identical in
   Spark and DuckDB, immune to float summation order.  Cross join + window
   top-k.  At 100 TB you only run this on a candidate subset.
 - **Random-hyperplane LSH** (the scale path): H sign-bits against
   hash-derived integer hyperplanes → bucket id; ANN = brute-force within
   bucket.  Hyperplanes are pure functions of (plane, component) hashes —
   no stored model, reproducible anywhere.

The 64-dim hyperplanes are generated as integers in [-1000, 1000] from the
portable hash, so bucket assignment is again exact integer arithmetic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.hashing import h64, h64_py


def quantized(col: Column | str, scale: int = 1000) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        c, lambda x: F.floor(x.cast("double") * scale + 0.5).cast("bigint"))


def int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def hyperplane(plane: int, dim: int) -> list[int]:
    """Deterministic integer hyperplane components in [-1000, 1000]."""
    return [h64_py(f"plane|{plane}|{c}") % 2001 - 1000 for c in range(dim)]


def lsh_buckets(emb: DataFrame, dim: int, planes: int = 8,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(vec_id, bucket) — sign pattern over `planes` integer hyperplanes.

    Hot path: one Arrow crossing, the whole plane bank as one exact-int64
    NumPy matmul (:mod:`..functions.sketches`).  The HOF twin below
    (:func:`lsh_buckets_hof`) is the agreement oracle — it re-inlines the
    quantize transform per plane and runs interpreted (measured 13.5 s vs
    1.5 s DuckDB on 500 rows)."""
    from ..functions.sketches import lsh_bucket_arrow
    hps = [hyperplane(p, dim) for p in range(planes)]
    return emb.select(F.col(id_col).alias("vec_id"),
                      lsh_bucket_arrow(vec_col, hps).alias("bucket"))


def lsh_buckets_hof(emb: DataFrame, dim: int, planes: int = 8,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Pure-JVM-expression twin of :func:`lsh_buckets` (interpreted HOFs)
    — value-identical agreement oracle; do not use on hot paths."""
    q = quantized(vec_col)
    bucket = None
    for p in range(planes):
        hp = hyperplane(p, dim)
        dot = F.aggregate(
            F.zip_with(q, F.array(*[F.lit(v).cast("bigint") for v in hp]),
                       lambda x, y: x * y),
            F.lit(0).cast("bigint"), lambda acc, x: acc + x)
        bit = F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return emb.select(F.col(id_col).alias("vec_id"),
                      bucket.cast("int").alias("bucket"))


def ann_topk_via_lsh(emb: DataFrame, dim: int, n_queries: int = 10,
                     k: int = 5, planes: int = 6,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """ANN: brute-force ONLY within the query's LSH bucket (the scale path:
    the crossJoin shrinks from |N| to |bucket| per query)."""
    b = lsh_buckets(emb, dim, planes, id_col, vec_col)
    base = emb.select(F.col(id_col).alias("vec_id"),
                      quantized(vec_col).alias("q")) \
        .join(b, on="vec_id")
    qs = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), "bucket")
    cand = qs.join(base.withColumnRenamed("vec_id", "nn_id"), on="bucket") \
        .where(F.col("query_id") != F.col("nn_id"))
    scored = cand.select("query_id", "nn_id",
                         int_dot(F.col("qq"), F.col("q")).alias("qdot"))
    w = Window.partitionBy("query_id").orderBy(F.desc("qdot"), F.col("nn_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("int")) \
        .where(F.col("rk") <= k)


def embedding_near_dup_pairs(emb: DataFrame, dim: int, planes: int = 6,
                             tau_milli: int = 950,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed (the scale
    shape: candidates only within a bucket, never all-pairs).

    The cosine threshold is verified in EXACT integer arithmetic —
    ``dot > 0  AND  dot²·10⁶ ≥ τ²·‖a‖²·‖b‖²`` — which is algebraically
    ``cos(a,b) ≥ τ/1000`` with zero float comparisons.  Vectors are
    quantized at ×100 (not ×1000) so every product stays under 2⁶³:
    dot ≤ dim·10⁴ → dot²·10⁶ ≤ 4.1·10¹⁷ at dim 64.  The reported
    cos_milli uses sqrt/division, both IEEE-correctly-rounded → still
    engine-identical."""
    q100 = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * 100 + 0.5).cast("bigint"))
    b = lsh_buckets(emb, dim, planes, id_col, vec_col)
    base = emb.select(F.col(id_col).alias("vec_id"), q100.alias("q")) \
        .join(b, on="vec_id") \
        .withColumn("n2", int_dot(F.col("q"), F.col("q")))
    a = base.select(F.col("vec_id").alias("id_a"), F.col("q").alias("qa"),
                    F.col("n2").alias("n2a"), "bucket")
    c = base.select(F.col("vec_id").alias("id_b"), F.col("q").alias("qb"),
                    F.col("n2").alias("n2b"), "bucket")
    pairs = a.join(c, on="bucket").where(F.col("id_a") < F.col("id_b"))
    dot = int_dot(F.col("qa"), F.col("qb"))
    scored = pairs.select("id_a", "id_b", dot.alias("dot"), "n2a", "n2b")
    keep = (F.col("dot") > 0) & (
        F.col("dot") * F.col("dot") * F.lit(1000000)
        >= F.lit(tau_milli * tau_milli) * F.col("n2a") * F.col("n2b"))
    return scored.where(keep).select(
        "id_a", "id_b",
        F.floor(F.col("dot") * 1000
                / F.sqrt((F.col("n2a") * F.col("n2b")).cast("double")))
        .cast("bigint").alias("cos_milli"))


IVF_SALT = "ivfseed"
IVF_CELLS = 8
IVF_ITERS = 2


def _assign_cells_col(col: Column | str, cell_ids, C, nprobe: int = 1
                      ) -> Column:
    """argmax-dot cell(s) against a driver-side codebook, one Arrow
    matmul per batch.  Ties break to the smaller cell id (rows of C are
    in ascending cell-id order, np.argmax/stable argsort take the first).
    nprobe=1 → bigint cell; nprobe>1 → array<bigint> of the best cells
    in dot-desc order."""
    ids = np.asarray(cell_ids, dtype=np.int64).copy()
    M = np.asarray(C, dtype=np.int64).copy()

    if nprobe == 1:
        @pandas_udf("bigint")
        def f1(vs: pd.Series) -> pd.Series:
            if not len(vs):
                return pd.Series([], dtype="int64")
            Q = np.array([np.asarray(v, dtype=np.int64) for v in vs])
            return pd.Series(ids[np.argmax(Q @ M.T, axis=1)])
        out = f1(col)
    else:
        @pandas_udf("array<bigint>")
        def fn(vs: pd.Series) -> pd.Series:
            if not len(vs):
                return pd.Series([], dtype=object)
            Q = np.array([np.asarray(v, dtype=np.int64) for v in vs])
            order = np.argsort(-(Q @ M.T), axis=1, kind="stable")
            return pd.Series(list(ids[order[:, :nprobe]]))
        out = fn(col)
    return out


def ivf_kmeans_codebook(emb: DataFrame, dim: int, n_cells: int = IVF_CELLS,
                        iters: int = IVF_ITERS, id_col: str = "vec_id",
                        vec_col: str = "embedding"):
    """Seeded distributed Lloyd's k-means over quantized vectors — the
    learned IVF coarse codebook (replaces the label-centroid stand-in).

    Deterministic + engine-portable:
     - init: the ``n_cells`` rows with the smallest portable hash of
       vec_id (a seeded pseudo-random sample, same on any partitioning);
     - assignment: argmax exact-int64 dot, ties to the smaller cell id
       (spherical-k-means flavor — dot is the metric IVF search uses);
     - update: componentwise ``floor(sum·1000/n)`` — the exact integer
       centroid formula the oracle reproduces; cells that lose all
       members drop out (k may shrink).

    Scale shape: per iteration ONE narrow Arrow matmul pass (broadcast
    codebook, k×dim ints) + one groupBy(cell) with dim partial-agg sums;
    only k centroid rows ever reach the driver.  Returns (cell_ids, C)
    as driver NumPy arrays (k ≤ thousands by construction).
    """
    import math

    base = emb.select(F.col(id_col).alias("vec_id"),
                      quantized(vec_col).alias("q"))
    seeds = base.withColumn(
        "hs", h64(F.concat(F.col("vec_id").cast("string"),
                               F.lit("|" + IVF_SALT)))) \
        .orderBy("hs", "vec_id").limit(n_cells).collect()
    C = np.array([r["q"] for r in seeds], dtype=np.int64)
    cell_ids = np.arange(len(C), dtype=np.int64)
    sums = [F.sum(F.col("q")[i]).alias(f"s{i}") for i in range(dim)]
    for _ in range(iters):
        a = base.withColumn("cell", _assign_cells_col("q", cell_ids, C))
        g = sorted(a.groupBy("cell").agg(F.count("*").alias("n"),
                                         *sums).collect(),
                   key=lambda r: r["cell"])
        cell_ids = np.array([r["cell"] for r in g], dtype=np.int64)
        C = np.array(
            [[math.floor(r[f"s{i}"] * 1000.0 / r["n"]) for i in range(dim)]
             for r in g], dtype=np.int64)
    return cell_ids, C


def ann_topk_ivf(emb: DataFrame, dim: int, n_queries: int = 10, k: int = 5,
                 vec_col: str = "embedding", n_cells: int = IVF_CELLS,
                 iters: int = IVF_ITERS) -> DataFrame:
    """IVF-flat ANN (nprobe=1): learned k-means coarse codebook, each
    vector assigned to its argmax-dot cell, a query probes ONLY its own
    cell.  At scale: the codebook broadcasts, cell assignment is a
    narrow Arrow map, and the per-cell candidate join replaces the full
    crossJoin — the classic IVF recall/cost trade."""
    cell_ids, C = ivf_kmeans_codebook(emb, dim, n_cells, iters,
                                      vec_col=vec_col)
    base = emb.select("vec_id", quantized(vec_col).alias("q")) \
        .withColumn("cell", _assign_cells_col("q", cell_ids, C))
    qs = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), "cell")
    cand = qs.join(base.withColumnRenamed("vec_id", "nn_id"), on="cell") \
        .where(F.col("query_id") != F.col("nn_id"))
    scored = cand.select("query_id", "nn_id",
                         int_dot(F.col("qq"), F.col("q")).alias("qdot"))
    w = Window.partitionBy("query_id").orderBy(F.desc("qdot"), F.col("nn_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("int")) \
        .where(F.col("rk") <= k)


def label_centroids(emb: DataFrame, dim: int, out_dims: int = 4,
                    vec_col: str = "embedding") -> DataFrame:
    """A9 double: per-label mean embedding, integer-milli components."""
    q = quantized(vec_col)
    e = emb.select("label", q.alias("q"))
    aggs = [F.sum(F.col("q")[i]).alias(f"s{i}") for i in range(out_dims)]
    g = e.groupBy("label").agg(F.count("*").alias("n"), *aggs)
    cols = [F.floor(F.col(f"s{i}") * 1000.0 / F.col("n")).cast("bigint")
            .alias(f"c{i}") for i in range(out_dims)]
    return g.select("label", "n", *cols)


def centroid_assign(emb: DataFrame, dim: int,
                    vec_col: str = "embedding") -> DataFrame:
    """J7 double: assign each vector to the argmax-dot label centroid."""
    q = quantized(vec_col)
    e = emb.select("vec_id", "label", q.alias("q"))
    aggs = [F.sum(F.col("q")[i]).alias(f"s{i}") for i in range(dim)]
    g = e.groupBy("label").agg(F.count("*").alias("n"), *aggs)
    cent = g.select(
        F.col("label").alias("c_label"),
        F.array(*[F.floor(F.col(f"s{i}") * 1000.0 / F.col("n"))
                  .cast("bigint") for i in range(dim)]).alias("cvec"))
    crossed = e.crossJoin(F.broadcast(cent))
    scored = crossed.select(
        "vec_id", "label", "c_label",
        int_dot(F.col("q"), F.col("cvec")).alias("qdot"))
    # argmax with deterministic tie-break on label
    w = Window.partitionBy("vec_id").orderBy(F.desc("qdot"), F.col("c_label"))
    return scored.withColumn("rk", F.row_number().over(w)) \
        .where("rk = 1") \
        .select("vec_id", "label",
                F.col("c_label").alias("assigned_label"), "qdot")


def ann_topk_ivf_nprobe(emb: DataFrame, dim: int, n_queries: int = 10,
                        k: int = 5, nprobe: int = 2,
                        vec_col: str = "embedding",
                        n_cells: int = IVF_CELLS,
                        iters: int = IVF_ITERS) -> DataFrame:
    """IVF-flat ANN with multi-cell probing (nprobe>1) over the learned
    k-means codebook: base vectors live in exactly ONE cell (argmax-dot
    assignment = probe list head), queries probe their ``nprobe``
    nearest cells — the standard IVF recall lever (recall is monotone in
    nprobe; cost grows by ~nprobe× candidates, still nowhere near the
    full crossJoin).  Plan shape at scale: broadcast codebook, one
    narrow Arrow matmul per vector, one per-cell candidate join; because
    each base vector has a single home cell, (query, candidate) pairs
    are unique across probes — no dedup stage needed."""
    cell_ids, C = ivf_kmeans_codebook(emb, dim, n_cells, iters,
                                      vec_col=vec_col)
    pc = _assign_cells_col("q", cell_ids, C, nprobe=nprobe)
    if nprobe == 1:
        pc = F.array(pc)  # scalar assign → singleton probe list
    e = emb.select("vec_id", quantized(vec_col).alias("q")) \
        .withColumn("probe_cells", pc)
    base = e.select("vec_id", "q",
                    F.col("probe_cells")[0].alias("cell"))
    probes = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq"),
        F.explode("probe_cells").alias("cell"))
    cand = probes.join(base.withColumnRenamed("vec_id", "nn_id"), on="cell") \
        .where(F.col("query_id") != F.col("nn_id"))
    sc = cand.select("query_id", "nn_id",
                     int_dot(F.col("qq"), F.col("q")).alias("qdot"))
    wk = Window.partitionBy("query_id").orderBy(F.desc("qdot"),
                                                F.col("nn_id"))
    return sc.withColumn("rk", F.row_number().over(wk).cast("int")) \
        .where(F.col("rk") <= k)

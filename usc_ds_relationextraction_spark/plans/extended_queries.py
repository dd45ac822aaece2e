"""Extended driver-contract queries: similarity/ANN over the embeddings
table (including embedding-cosine near-duplicate pairs) and multimodal
decode — each Spark implementation paired with a generated DuckDB
oracle over the same tables (integer/portable-hash arithmetic only).

Merged into ``__spark_entry__.queries()`` / ``oracle_sql()``.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators import multimodal, similarity

EMB_DIM = 64
N_PLANES = 6
# embedding near-dup cosine threshold (milli).  Production near-dup runs
# at ~0.95; the synthetic embeddings are near-orthogonal (max pairwise
# cosine ≈ 0.51 at sf0.01), so the gate uses a threshold low enough that
# the integer-exact verify arm actually fires on nonempty candidates.
TAU_MILLI = 250


def _h_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::bigint)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------- queries
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    Q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    Q["ann_lsh_buckets"] = lambda s, sf: similarity.lsh_buckets(
        _t(s, sf, "embeddings"), EMB_DIM, planes=N_PLANES)
    Q["ann_topk_lsh"] = lambda s, sf: similarity.ann_topk_via_lsh(
        _t(s, sf, "embeddings"), EMB_DIM, planes=N_PLANES)
    Q["dedup_embedding_cosine"] = lambda s, sf: \
        similarity.embedding_near_dup_pairs(
            _t(s, sf, "embeddings"), EMB_DIM, planes=N_PLANES,
            tau_milli=TAU_MILLI)
    Q["ann_topk_ivf"] = lambda s, sf: similarity.ann_topk_ivf(
        _t(s, sf, "embeddings"), EMB_DIM)
    Q["ann_topk_ivf_nprobe"] = lambda s, sf: similarity.ann_topk_ivf_nprobe(
        _t(s, sf, "embeddings"), EMB_DIM, nprobe=2)
    Q["a9_label_centroids"] = lambda s, sf: similarity.label_centroids(
        _t(s, sf, "embeddings"), EMB_DIM)
    Q["j7_centroid_assign"] = lambda s, sf: similarity.centroid_assign(
        _t(s, sf, "embeddings"), EMB_DIM)
    Q["mm_binary_stats"] = lambda s, sf: multimodal.ingest_binary(
        _t(s, sf, "documents")).select("doc_id", "media_type", "n_bytes")
    # stub decoder is deterministic (md5-derived) → full SQL oracle below
    Q["mm_decode_features"] = lambda s, sf: multimodal.decode_features(
        multimodal.ingest_binary(_t(s, sf, "documents")))

    def mm_decode_real(s, sf):
        """Real-PNG decode: the pure-Python IHDR parser over a committed
        fixture of genuine (zlib/CRC-valid) PNG blobs; the oracle derives
        width/height INDEPENDENTLY from the binary's fixed byte offsets."""
        path = multimodal.ensure_media_fixture(s, sf)
        media = s.read.parquet(path)
        return multimodal.decode_features(media).select(
            "doc_id", "width", "height", "n_frames", "n_bytes")
    Q["mm_decode_real"] = mm_decode_real

    def mm_decode_av(s, sf):
        """Real WAV/MP4 header decode: RIFF chunk walk (fmt /data) and
        ISO-BMFF box walk (moov/mvhd) over committed structurally-valid
        fixtures; the oracle re-derives every field independently from
        the binary's byte offsets (little-endian WAV, big-endian MP4)."""
        path = multimodal.ensure_av_fixture(s, sf)
        media = s.read.parquet(path)
        return multimodal.decode_av_features(media)
    Q["mm_decode_av"] = mm_decode_av
    return Q


# ---------------------------------------------------------------- oracles
def oracles() -> dict[str, str]:
    O: dict[str, str] = {}

    qexpr = ("list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) "
             "* 1000 + 0.5) AS BIGINT))")

    def plane_dot(p: int) -> str:
        hp = similarity.hyperplane(p, EMB_DIM)
        lst = "[" + ", ".join(str(v) for v in hp) + "]"
        return (f"list_sum(list_transform(generate_series(1, {EMB_DIM}), "
                f"i -> q[i] * ({lst})[i]))")

    bucket = " + ".join(
        f"CASE WHEN {plane_dot(p)} > 0 THEN {1 << p} ELSE 0 END"
        for p in range(N_PLANES))
    O["ann_lsh_buckets"] = f"""WITH base AS (
  SELECT vec_id, {qexpr} AS q FROM embeddings
)
SELECT vec_id, CAST({bucket} AS INT) AS bucket FROM base
"""

    O["ann_topk_lsh"] = f"""WITH base0 AS (
  SELECT vec_id, {qexpr} AS q FROM embeddings
),
base AS (
  SELECT vec_id, q, CAST({bucket} AS INT) AS bucket FROM base0
),
qs AS (
  SELECT vec_id AS query_id, q AS qq, bucket FROM base WHERE vec_id < 10
),
cand AS (
  -- CAST(list_sum AS BIGINT): DuckDB widens to HUGEINT, which hashes
  -- differently from Spark's BIGINT in the driver gate
  SELECT qs.query_id, b.vec_id AS nn_id,
         CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                                      i -> qs.qq[i] * b.q[i])) AS BIGINT)
           AS qdot
  FROM qs JOIN base b ON qs.bucket = b.bucket AND qs.query_id <> b.vec_id
)
SELECT query_id, nn_id, qdot, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY qdot DESC, nn_id) AS rk
  FROM cand
) WHERE rk <= 5
"""

    dot100 = (f"CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),"
              f" i -> a.q[i] * b.q[i])) AS BIGINT)")
    O["dedup_embedding_cosine"] = f"""WITH b0 AS (
  SELECT vec_id, {qexpr} AS q FROM embeddings
),
bk AS (SELECT vec_id, CAST({bucket} AS INT) AS bucket FROM b0),
b100 AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5)
                                  AS BIGINT)) AS q
  FROM embeddings
),
base AS (
  SELECT b100.vec_id, q, bucket,
         CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                                      i -> q[i] * q[i])) AS BIGINT) AS n2
  FROM b100 JOIN bk ON b100.vec_id = bk.vec_id
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {dot100} AS dot,
         a.n2 AS n2a, b.n2 AS n2b
  FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b,
       CAST(floor(dot * 1000 / sqrt(CAST(n2a * n2b AS DOUBLE))) AS BIGINT)
         AS cos_milli
FROM pairs
WHERE dot > 0
  AND dot * dot * 1000000 >= {TAU_MILLI * TAU_MILLI} * n2a * n2b
"""

    sums4 = ", ".join(f"SUM(q[{i + 1}]) AS s{i}" for i in range(4))
    cents4 = ", ".join(
        f"CAST(floor(s{i} * 1000.0 / n) AS BIGINT) AS c{i}" for i in range(4))
    O["a9_label_centroids"] = f"""WITH base AS (
  SELECT label, {qexpr} AS q FROM embeddings
),
g AS (SELECT label, COUNT(*) AS n, {sums4} FROM base GROUP BY label)
SELECT label, n, {cents4} FROM g
"""

    sums64 = ", ".join(f"SUM(q[{i + 1}]) AS s{i}" for i in range(EMB_DIM))
    clist = "[" + ", ".join(
        f"CAST(floor(s{i} * 1000.0 / n) AS BIGINT)"
        for i in range(EMB_DIM)) + "]"
    O["j7_centroid_assign"] = f"""WITH base AS (
  SELECT vec_id, label, {qexpr} AS q FROM embeddings
),
g AS (SELECT label AS c_label, COUNT(*) AS n, {sums64}
      FROM base GROUP BY label),
cent AS (SELECT c_label, {clist} AS cvec FROM g),
scored AS (
  SELECT b.vec_id, b.label, c.c_label,
         CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                                      i -> b.q[i] * c.cvec[i])) AS BIGINT)
           AS qdot
  FROM base b CROSS JOIN cent c
)
SELECT vec_id, label, c_label AS assigned_label, qdot FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY qdot DESC, c_label) AS rk
  FROM scored
) WHERE rk = 1
"""


    def _ivf_kmeans_cte() -> str:
        """CTE chain base0 -> centF: the seeded-Lloyd's codebook twin of
        similarity.ivf_kmeans_codebook (init = rows with the K smallest
        portable hashes; per round argmax-dot assign with cell-asc ties,
        floor-milli mean update; empty cells drop out)."""
        k = similarity.IVF_CELLS
        iters = similarity.IVF_ITERS
        hs = _h_sql("CAST(vec_id AS VARCHAR) || '|ivfseed'")
        sums = ", ".join(f"SUM(b.q[{i + 1}]) AS s{i}"
                         for i in range(EMB_DIM))
        cmean = "[" + ", ".join(
            f"CAST(floor(s{i} * 1000.0 / n) AS BIGINT)"
            for i in range(EMB_DIM)) + "]"

        def dot(b, c):
            return (f"CAST(list_sum(list_transform(generate_series(1, "
                    f"{EMB_DIM}), i -> {b}.q[i] * {c}.cvec[i])) AS BIGINT)")

        parts = [f"""base0 AS (
  SELECT vec_id, {{qexpr}} AS q FROM embeddings
),
seedh AS (SELECT vec_id, q, {hs} AS hs FROM base0),
cent0 AS (
  SELECT cell, q AS cvec FROM (
    SELECT q, row_number() OVER (ORDER BY hs, vec_id) - 1 AS cell
    FROM seedh
  ) WHERE cell < {k}
)"""]
        for t in range(iters):
            parts.append(f"""ascore{t} AS (
  SELECT b.vec_id, c.cell, {dot('b', 'c')} AS cdot
  FROM base0 b CROSS JOIN cent{t} c
),
assign{t} AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
                          ORDER BY cdot DESC, cell) AS rk
    FROM ascore{t}
  ) WHERE rk = 1
),
g{t} AS (
  SELECT a.cell, COUNT(*) AS n, {sums}
  FROM assign{t} a JOIN base0 b USING (vec_id)
  GROUP BY a.cell
),
cent{t + 1} AS (SELECT cell, {cmean} AS cvec FROM g{t})""")
        parts.append(f"""ascoreF AS (
  SELECT b.vec_id, c.cell, {dot('b', 'c')} AS cdot
  FROM base0 b CROSS JOIN cent{iters} c
),
rankedF AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cdot DESC, cell) AS crk
  FROM ascoreF
)""")
        return ",\n".join(parts)

    kmeans_cte = _ivf_kmeans_cte().replace("{qexpr}", qexpr)

    O["ann_topk_ivf"] = f"""WITH {kmeans_cte},
base AS (
  SELECT b.vec_id, b.q, r.cell FROM base0 b
  JOIN rankedF r ON b.vec_id = r.vec_id AND r.crk = 1
),
qs AS (
  SELECT vec_id AS query_id, q AS qq, cell FROM base WHERE vec_id < 10
),
cand AS (
  SELECT qs.query_id, b.vec_id AS nn_id,
         CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                                      i -> qs.qq[i] * b.q[i])) AS BIGINT)
           AS qdot
  FROM qs JOIN base b ON qs.cell = b.cell AND qs.query_id <> b.vec_id
)
SELECT query_id, nn_id, qdot, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY qdot DESC, nn_id) AS rk
  FROM cand
) WHERE rk <= 5
"""

    # nprobe=2 IVF: identical derivation, except QUERIES keep their two
    # best cells (crk <= 2) while base vectors stay in one home cell —
    # so (query, candidate) pairs are unique across probes by construction
    O["ann_topk_ivf_nprobe"] = f"""WITH {kmeans_cte},
base AS (
  SELECT b.vec_id, b.q, r.cell FROM base0 b
  JOIN rankedF r ON b.vec_id = r.vec_id AND r.crk = 1
),
probes AS (
  SELECT r.vec_id AS query_id, b0.q AS qq, r.cell
  FROM rankedF r JOIN base0 b0 ON r.vec_id = b0.vec_id
  WHERE r.crk <= 2 AND r.vec_id < 10
),
cand AS (
  SELECT p.query_id, b.vec_id AS nn_id,
         CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                                      i -> p.qq[i] * b.q[i])) AS BIGINT)
           AS qdot
  FROM probes p JOIN base b ON p.cell = b.cell AND p.query_id <> b.vec_id
)
SELECT query_id, nn_id, qdot, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY qdot DESC, nn_id) AS rk
  FROM cand
) WHERE rk <= 5
"""

    O["mm_binary_stats"] = """
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png'
            WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS media_type,
       CAST(strlen(text) AS INT) AS n_bytes
FROM documents
"""

    # SQL twin of the documented stub decoder (multimodal._decode_one):
    # features derive from md5(payload) bytes, so each is expressible as
    # hex-substring arithmetic; mean_luma sums the first 256 payload bytes
    # (documents fixture is ASCII, so char positions == byte positions —
    # verified at the gate's sf0.01). A production codec swap would demote
    # this entry back to a rows-only check.
    O["mm_decode_features"] = """
WITH h AS (
  SELECT doc_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png'
              WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS media_type,
         CAST(strlen(text) AS INT) AS n_bytes,
         md5(text) AS hx, text
  FROM documents
)
SELECT doc_id, media_type, n_bytes,
       CAST(64 + ('0x' || substr(hx, 1, 2))::INT % 192 AS INT) AS width,
       CAST(64 + ('0x' || substr(hx, 3, 2))::INT % 192 AS INT) AS height,
       CAST(CASE WHEN media_type = 'image/png' THEN 1
            ELSE 1 + ('0x' || substr(hx, 5, 2))::INT % 120 END AS INT)
         AS n_frames,
       CAST((list_sum(list_transform(
                generate_series(1, LEAST(strlen(text), 256)),
                i -> ascii(substr(text, i, 1))))
             // GREATEST(LEAST(strlen(text), 256), 1)) & 255 AS INT)
         AS mean_luma
FROM h
"""
    from ..sources.synthetic import fixture_dir
    media_pq = os.path.join(fixture_dir("sf0.01"), "media_png.parquet")
    # PNG is a fixed layout: IHDR width/height are big-endian uint32 at
    # byte offsets 16/20 → hex-string slices (33,8) and (41,8)
    O["mm_decode_real"] = f"""
SELECT doc_id,
       CAST(('0x' || substring(hex(media), 33, 8))::BIGINT AS INT) AS width,
       CAST(('0x' || substring(hex(media), 41, 8))::BIGINT AS INT) AS height,
       CAST(1 AS INT) AS n_frames,
       n_bytes
FROM read_parquet('{media_pq}/*.parquet')
"""

    # WAV is little-endian (byte-compose), MP4 big-endian (direct hex
    # slice).  Fixture layouts are canonical, so field offsets are fixed:
    # WAV channels@22 sr@24 block_align@32 data_size@40; MP4 (16-byte
    # ftyp + moov/mvhd v0) timescale@44 duration@48.
    def byte(i: int) -> str:
        return f"('0x' || substring(hex(media), {2 * i + 1}, 2))::BIGINT"

    def le(o: int, nb: int) -> str:
        return "(" + " + ".join(
            f"{byte(o + k)} * {1 << (8 * k)}" for k in range(nb)) + ")"

    def be32(o: int) -> str:
        return f"('0x' || substring(hex(media), {2 * o + 1}, 8))::BIGINT"

    wav_sr, wav_ch = le(24, 4), le(22, 2)
    wav_nf = f"({le(40, 4)} // {le(32, 2)})"
    mp4_ts, mp4_du = be32(44), be32(48)
    av_pq = os.path.join(fixture_dir("sf0.01"), "media_av.parquet")
    O["mm_decode_av"] = f"""
SELECT doc_id, media_type,
       CAST(CASE WHEN media_type = 'audio/wav' THEN {wav_sr}
                 ELSE {mp4_ts} END AS BIGINT) AS sample_rate,
       CAST(CASE WHEN media_type = 'audio/wav' THEN {wav_ch}
                 ELSE 0 END AS INT) AS channels,
       CAST(CASE WHEN media_type = 'audio/wav' THEN {wav_nf}
                 ELSE {mp4_du} END AS BIGINT) AS n_frames,
       CAST(CASE WHEN media_type = 'audio/wav'
                 THEN {wav_nf} * 1000 // {wav_sr}
                 ELSE {mp4_du} * 1000 // {mp4_ts} END AS BIGINT)
           AS duration_ms,
       CAST(n_bytes AS BIGINT) AS n_bytes
FROM read_parquet('{av_pq}/*.parquet')
"""
    return O

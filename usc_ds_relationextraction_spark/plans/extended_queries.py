"""Extended driver-contract queries: multimodal decode — each Spark
implementation paired with a generated DuckDB oracle over the same
tables (integer/portable-hash arithmetic only).

Merged into ``__spark_entry__.queries()`` / ``oracle_sql()``.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators import multimodal


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------- queries
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    Q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

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

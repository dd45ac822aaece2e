"""Extended driver-contract queries: dedup, similarity/ANN, text analysis,
multimodal — each Spark implementation paired with a generated DuckDB
oracle over the same tables (integer/portable-hash arithmetic only).

Merged into ``__spark_entry__.queries()`` / ``oracle_sql()``.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text_analysis import (BPE_RE, LANGS, STOPWORDS,
                                       filter_metrics, fingerprint,
                                       lang_id, quality_metrics,
                                       token_counts)
from ..operators import dedup, multimodal, similarity

# corpus-filter gate thresholds, shared by the Spark verdict and its
# DuckDB twin (median quality_milli at sf0.01 is 462; 450 keeps ~60%)
GATE_QUALITY_MIN = 450
GATE_LANG = "en"

EMB_DIM = 64
N_BITS_SIMHASH = 16
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


def cluster_canonical_docs(docs: DataFrame,
                           min_jaccard_milli: int = 200) -> DataFrame:
    """Document-level dedup final stage: verified near-dup pairs →
    connected components → one canonical doc per cluster.  The 100 TB
    corpus-dedup consumer ("keep one copy per duplicate group"):
    transitive closure matters because near-dup is not transitive
    pairwise (A≈B, B≈C may hold while jaccard(A,C) < τ — the group
    is still one duplicate cluster).

    Scale shape: edges = verified LSH pairs (sparse, banded — never
    all-pairs); min-label propagation is rounds ≈ cluster diameter
    (near-dup clusters are shallow star/chain graphs), each round one
    equi-join + one partially-aggregated min (algebraic → map-side
    combine absorbs hub-doc skew).  No driver-side graph state."""
    from .kg_materialize import connected_components
    ver = dedup.verified_near_dups(docs,
                                   min_jaccard_milli=min_jaccard_milli)
    verts = docs.select(F.col("doc_id").alias("entity_id"))
    edges = ver.select(F.col("doc_a").alias("src"),
                       F.col("doc_b").alias("dst")) \
        .unionAll(ver.select(F.col("doc_b").alias("src"),
                             F.col("doc_a").alias("dst")))
    comp = connected_components(verts, edges)
    return comp.select(
        F.col("entity_id").alias("doc_id"),
        F.col("component_id").alias("canonical_doc_id"),
        (F.col("entity_id") == F.col("component_id"))
        .cast("int").alias("is_canonical"))


def corpus_filter_verdicts(docs: DataFrame, *,
                           min_jaccard_milli: int = 200,
                           quality_min: int = GATE_QUALITY_MIN,
                           keep_lang: str = GATE_LANG) -> DataFrame:
    """The end-to-end pretraining-corpus gate: per document a keep/drop
    verdict composing the whole pipeline — duplicate-cluster
    canonicalization (keep one copy per near-dup group), language ID,
    and quality scoring — with the first failing gate recorded as
    ``drop_reason`` (priority: duplicate > language > quality).

    Scale shape: the three metric families are row-local and fused into
    ONE corpus projection (:func:`...text_analysis.filter_metrics` — no
    metric-table self-joins), so the only shuffles are the ones the
    dedup stage already pays (banded LSH + min-label rounds) plus a
    single 1:1 equi-join of metrics↔canonical flags on uniform doc_id.
    Shared by the ``corpus_filter*`` driver queries."""
    canon = cluster_canonical_docs(docs,
                                   min_jaccard_milli=min_jaccard_milli)
    j = filter_metrics(docs).join(canon, "doc_id")
    dup = F.col("is_canonical") == 0
    bad_lang = F.col("lang_pred") != keep_lang
    low_q = F.col("quality_milli") < quality_min
    reason = (F.when(dup, "duplicate").when(bad_lang, "language")
              .when(low_q, "quality").otherwise("kept"))
    return j.select(
        "doc_id", "lang_pred", "quality_milli", "ws_tokens",
        "canonical_doc_id", "is_canonical",
        (~(dup | bad_lang | low_q)).cast("int").alias("keep"),
        reason.alias("drop_reason"))


# --------------------------------------------------------------- queries
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    Q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    Q["dedup_minhash"] = lambda s, sf: dedup.with_minhash(
        _t(s, sf, "documents"))
    Q["dedup_minhash_pairs"] = lambda s, sf: dedup.lsh_candidate_pairs(
        _t(s, sf, "documents"))
    Q["dedup_simhash"] = lambda s, sf: dedup.simhash(
        _t(s, sf, "documents"), bits=N_BITS_SIMHASH)
    Q["dedup_ngram_jaccard"] = lambda s, sf: dedup.ngram_jaccard_pairs(
        _t(s, sf, "documents"), min_jaccard_milli=200)
    Q["dedup_pipeline_verified"] = lambda s, sf: dedup.verified_near_dups(
        _t(s, sf, "documents"), min_jaccard_milli=200)
    Q["dedup_substring_spans"] = lambda s, sf: dedup.shared_span_runs(
        _t(s, sf, "documents"), min_tokens=5)

    def substring_spans_lsh(s, sf):
        """The 100 TB shape: span extraction bounded to MinHash-LSH
        candidate pairs (quadratic shingle join only within candidates)."""
        docs = _t(s, sf, "documents")
        return dedup.shared_span_runs(
            docs, min_tokens=5,
            candidates=dedup.lsh_candidate_pairs(docs))
    Q["dedup_substring_spans_lsh"] = substring_spans_lsh

    def mask_spans(s, sf):
        """Span harvest → mask: the sequence-level dedup consumer (keeps
        one canonical copy per duplicated run, LSH-bounded)."""
        docs = _t(s, sf, "documents")
        return dedup.mask_shared_spans(
            docs, min_tokens=5,
            candidates=dedup.lsh_candidate_pairs(docs))
    Q["dedup_mask_spans"] = mask_spans

    Q["dedup_cluster_canonical"] = lambda s, sf: cluster_canonical_docs(
        _t(s, sf, "documents"))

    def corpus_filter(s, sf):
        return corpus_filter_verdicts(_t(s, sf, "documents"))
    Q["corpus_filter"] = corpus_filter

    def corpus_filter_stats(s, sf):
        """Token-budget accounting over the gate verdicts: per
        drop_reason the doc count and whitespace-token mass — the
        report a 100 TB filtering job emits (how much of the corpus
        each gate removed, in tokens, the unit the training budget is
        denominated in).  One partial-aggregated groupBy on a
        4-value key on top of :func:`corpus_filter`."""
        v = corpus_filter(s, sf)
        return v.groupBy("drop_reason").agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("ws_tokens").cast("bigint").alias("n_tokens"))
    Q["corpus_filter_stats"] = corpus_filter_stats
    Q["text_langid"] = lambda s, sf: lang_id(_t(s, sf, "documents"))
    Q["text_quality"] = lambda s, sf: quality_metrics(_t(s, sf, "documents"))
    Q["text_token_counts"] = lambda s, sf: token_counts(
        _t(s, sf, "documents"))
    Q["doc_fingerprint"] = lambda s, sf: fingerprint(_t(s, sf, "documents"))
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
def _sql_doc_toks() -> str:
    # coalesce(text, ''): NULL text tokenizes to the EMPTY list (0 tokens,
    # 0-valued metrics, -1 sigs) on both engines — without it DuckDB
    # propagates NULL through len()/CASE differently than Spark's ANSI
    # null semantics and the two sides diverge field-by-field on any
    # corpus with a NULL document (same contract as ws_tokens /
    # dedup's null-text handling)
    return ("doc_toks AS (SELECT doc_id, "
            "list_filter(string_split(coalesce(text, ''), ' '),"
            " t -> t <> '') AS toks FROM documents)")


def _sql_sh_lists() -> str:
    """The ONE definition of the 3-token string-shingle CTE (requires
    ``doc_toks`` in scope) — shared by :func:`_sql_shingles` and
    :func:`_sql_lsh_cand` so the span/mask/canonical oracles can never
    verify against divergent shingle definitions."""
    tri = "toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]"
    return ("sh_lists AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN "
            f"list_transform(generate_series(1, len(toks) - 2), i -> {tri}) "
            "ELSE CAST([] AS VARCHAR[]) END AS sh FROM doc_toks)")


def _sql_shingles() -> str:
    return f"{_sql_doc_toks()},\n{_sql_sh_lists()}"


def _sql_lsh_cand() -> str:
    """sigs → band hashes → distinct LSH candidate pairs (CTE ``cand``) —
    shared by the pairs oracle and the LSH-bounded substring-span oracle."""
    r = dedup.DEFAULT_PERMS // dedup.DEFAULT_BANDS
    band_rows = []
    for b in range(dedup.DEFAULT_BANDS):
        parts = " || '_' || ".join(
            f"CAST(sig{b * r + j} AS VARCHAR)" for j in range(r))
        h = _h_sql(f"{parts} || '_band{b}'")
        band_rows.append(
            f"SELECT doc_id, {b} AS band_idx, {h} AS band_hash FROM sigs")
    bands = "\nUNION ALL\n".join(band_rows)
    # string-shingle lists for downstream span oracles (the sigs chain is
    # token-hash based and no longer carries them; unused CTEs are
    # pruned by DuckDB, so the pairs-only oracle pays nothing)
    return f"""{_sql_minhash_sigs()},
{_sql_sh_lists()},
bands AS (
{bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)"""


def _sql_minhash_sigs() -> str:
    """Token-rolling shingle hashes (md5 per TOKEN, integer window
    combine) then the per-perm affine mix — the same split-product int64
    forms the Arrow bank and the Spark HOF twin evaluate
    (:func:`...functions.hashing.shingle_coeffs` /
    :func:`...functions.hashing.minhash_mix_consts`)."""
    from ..functions.hashing import (MASK60, minhash_mix_consts,
                                     minhash_mix_sql, shingle_coeffs)
    coeffs = shingle_coeffs(3)
    terms = " + ".join(
        minhash_mix_sql("th[i + " + str(j) + "]", c)
        for j, c in enumerate(coeffs))
    parts = []
    for i, (a, b) in enumerate(minhash_mix_consts(dedup.DEFAULT_PERMS)):
        mix = minhash_mix_sql("h", a, b)
        parts.append(f"coalesce(list_min(list_transform(hs, h -> "
                     f"{mix})), -1) AS sig{i}")
    sigs = ",\n       ".join(parts)
    return (f"{_sql_doc_toks()},\n"
            f"tok_h AS (SELECT doc_id, list_transform(toks, t -> "
            f"{_h_sql('t')}) AS th FROM doc_toks),\n"
            f"sh_h AS (SELECT doc_id, CASE WHEN len(th) >= 3 THEN "
            f"list_transform(generate_series(1, len(th) - 2), i -> "
            f"(({terms}) & {MASK60})) ELSE CAST([] AS BIGINT[]) END AS hs "
            f"FROM tok_h),\n"
            f"sigs AS (SELECT doc_id,\n       {sigs}\n  FROM sh_h)")


def _sql_canonical() -> str:
    """Verified near-dup pairs (jaccard≥200‰ over LSH candidates) →
    bidirectional edges → recursive transitive closure → CTE ``canon``
    (doc_id, canonical_doc_id, is_canonical).  Requires the CTEs of
    :func:`_sql_lsh_cand` (``cand``, ``sh_lists``) in scope and a
    ``WITH RECURSIVE`` prefix."""
    return """shd AS (SELECT DISTINCT doc_id, s FROM sh_lists, UNNEST(sh) AS u(s)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
  FROM cand c
  JOIN shd x ON x.doc_id = c.doc_a
  JOIN shd y ON y.doc_id = c.doc_b AND y.s = x.s
  GROUP BY c.doc_a, c.doc_b
),
ver AS (
  SELECT doc_a, doc_b
  FROM inter JOIN sizes na ON doc_a = na.doc_id
             JOIN sizes nb ON doc_b = nb.doc_id
  WHERE i * 1000 // (na.n + nb.n - i) >= 200
),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM ver
          UNION ALL SELECT doc_b AS src, doc_a AS dst FROM ver),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
),
canon AS (
  SELECT id AS doc_id, MIN(r) AS canonical_doc_id,
         CAST(id = MIN(r) AS INT) AS is_canonical
  FROM reach GROUP BY id
)"""


def oracles() -> dict[str, str]:
    O: dict[str, str] = {}

    O["dedup_minhash"] = f"WITH {_sql_minhash_sigs()}\nSELECT * FROM sigs"

    O["dedup_minhash_pairs"] = (f"WITH {_sql_lsh_cand()}\n"
                                "SELECT doc_a, doc_b FROM cand")

    votes = []
    for b in range(N_BITS_SIMHASH):
        votes.append(
            f"CASE WHEN coalesce(list_sum(list_transform(toks, t -> "
            f"CASE WHEN ({_h_sql('t')} & {1 << b}) > 0 THEN 1 ELSE -1 END"
            f")), 0) > 0 THEN {1 << b} ELSE 0 END")
    O["dedup_simhash"] = f"""WITH {_sql_doc_toks()}
SELECT doc_id, CAST({' + '.join(votes)} AS BIGINT) AS simhash FROM doc_toks
"""

    O["dedup_ngram_jaccard"] = f"""WITH {_sql_shingles()},
sh AS (SELECT DISTINCT doc_id, s FROM sh_lists, UNNEST(sh) AS u(s)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, i * 1000 // (na.n + nb.n - i) AS jaccard_milli
FROM inter JOIN sizes na ON doc_a = na.doc_id
           JOIN sizes nb ON doc_b = nb.doc_id
WHERE i * 1000 // (na.n + nb.n - i) >= 200
"""

    # substring dedup: maximal shared token runs via the diagonal
    # gaps-and-islands formulation (ngram=3 -> COUNT(*)+2 tokens)
    O["dedup_substring_spans"] = f"""WITH {_sql_shingles()},
sp AS (
  SELECT doc_id, i - 1 AS pos, sh[i] AS s
  FROM sh_lists, UNNEST(generate_series(1, len(sh))) AS t(i)
),
m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb,
         a.pos - b.pos AS diag
  FROM sp a JOIN sp b ON a.s = b.s AND a.doc_id < b.doc_id
),
r AS (
  SELECT doc_a, doc_b, diag, pa, pb,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                 ORDER BY pa) AS run_id
  FROM m
),
runs AS (
  SELECT doc_a, doc_b,
         CAST(MIN(pa) AS INT) AS start_a,
         CAST(MIN(pb) AS INT) AS start_b,
         CAST(COUNT(*) + 2 AS INT) AS span_tokens
  FROM r GROUP BY doc_a, doc_b, diag, run_id
)
SELECT doc_a, doc_b, start_a, start_b, span_tokens
FROM runs WHERE span_tokens >= 5
"""

    # the 100 TB shape: span extraction bounded to LSH candidate pairs
    # (sh_lists is shared between the sigs chain and the position index)
    O["dedup_substring_spans_lsh"] = f"""WITH {_sql_lsh_cand()},
sp AS (
  SELECT doc_id, i - 1 AS pos, sh[i] AS s
  FROM sh_lists, UNNEST(generate_series(1, len(sh))) AS t(i)
),
m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb,
         a.pos - b.pos AS diag
  FROM sp a JOIN sp b ON a.s = b.s AND a.doc_id < b.doc_id
  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
),
r AS (
  SELECT doc_a, doc_b, diag, pa, pb,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                 ORDER BY pa) AS run_id
  FROM m
),
runs AS (
  SELECT doc_a, doc_b,
         CAST(MIN(pa) AS INT) AS start_a,
         CAST(MIN(pb) AS INT) AS start_b,
         CAST(COUNT(*) + 2 AS INT) AS span_tokens
  FROM r GROUP BY doc_a, doc_b, diag, run_id
)
SELECT doc_a, doc_b, start_a, start_b, span_tokens
FROM runs WHERE span_tokens >= 5
"""

    # span harvest -> mask (doc_b side drops the duplicated runs; one
    # canonical copy survives on doc_a).  Same runs chain as above.
    O["dedup_mask_spans"] = f"""WITH {_sql_lsh_cand()},
sp AS (
  SELECT doc_id, i - 1 AS pos, sh[i] AS s
  FROM sh_lists, UNNEST(generate_series(1, len(sh))) AS t(i)
),
m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb,
         a.pos - b.pos AS diag
  FROM sp a JOIN sp b ON a.s = b.s AND a.doc_id < b.doc_id
  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
),
r AS (
  SELECT doc_a, doc_b, diag, pa, pb,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                 ORDER BY pa) AS run_id
  FROM m
),
runs AS (
  SELECT doc_a, doc_b, MIN(pb) AS start_b,
         CAST(COUNT(*) + 2 AS INT) AS span_tokens
  FROM r GROUP BY doc_a, doc_b, diag, run_id
),
maskpos AS (
  SELECT DISTINCT doc_b AS doc_id, start_b + i AS pos
  FROM runs, UNNEST(generate_series(0, span_tokens - 1)) AS t(i)
  WHERE span_tokens >= 5
),
tok AS (
  SELECT doc_id, i - 1 AS pos, toks[i] AS tok
  FROM doc_toks, UNNEST(generate_series(1, len(toks))) AS u(i)
),
kept AS (
  SELECT t.doc_id,
         string_agg(t.tok, ' ' ORDER BY t.pos) AS clean_text
  FROM tok t LEFT JOIN maskpos mp
    ON t.doc_id = mp.doc_id AND t.pos = mp.pos
  WHERE mp.doc_id IS NULL
  GROUP BY t.doc_id
),
nm AS (SELECT doc_id, COUNT(*) AS n FROM maskpos GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(k.clean_text, '') AS clean_text,
       CAST(coalesce(nm.n, 0) AS INT) AS n_masked
FROM documents d
LEFT JOIN kept k ON d.doc_id = k.doc_id
LEFT JOIN nm ON d.doc_id = nm.doc_id
"""

    # composed pipeline: LSH candidates -> exact Jaccard verify on them
    O["dedup_pipeline_verified"] = f"""WITH {_sql_lsh_cand()},
shd AS (SELECT DISTINCT doc_id, s FROM sh_lists, UNNEST(sh) AS u(s)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
  FROM cand c
  JOIN shd x ON x.doc_id = c.doc_a
  JOIN shd y ON y.doc_id = c.doc_b AND y.s = x.s
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b, i * 1000 // (na.n + nb.n - i) AS jaccard_milli
FROM inter JOIN sizes na ON doc_a = na.doc_id
           JOIN sizes nb ON doc_b = nb.doc_id
WHERE i * 1000 // (na.n + nb.n - i) >= 200
"""

    # verified pairs -> transitive closure -> canonical doc per cluster.
    # The recursive CTE computes, per doc, every doc that reaches it over
    # the (bidirectional) verified-pair edges; MIN over that reach set is
    # the component min — an independent derivation of the Spark side's
    # iterative min-label propagation.
    O["dedup_cluster_canonical"] = f"""WITH RECURSIVE {_sql_lsh_cand()},
{_sql_canonical()}
SELECT doc_id, canonical_doc_id, is_canonical FROM canon
"""

    vote_exprs = []
    for lg in LANGS:
        ws = ", ".join(f"'{w}'" for w in STOPWORDS[lg])
        vote_exprs.append(
            f"CAST(len(list_filter(toks, t -> lower(t) IN ({ws}))) AS INT)"
            f" AS v_{lg}")
    case_pred = " ".join(
        f"WHEN v_{lg} = best THEN '{lg}'" for lg in LANGS)
    O["text_langid"] = f"""WITH {_sql_doc_toks()},
v AS (SELECT doc_id, {', '.join(vote_exprs)} FROM doc_toks),
m AS (SELECT *, greatest({', '.join('v_' + lg for lg in LANGS)}) AS best
      FROM v)
SELECT doc_id,
       CASE WHEN best > 0 THEN (CASE {case_pred} END) ELSE 'und' END
         AS lang_pred,
       CAST(best AS INT) AS best_votes,
       {', '.join('v_' + lg for lg in LANGS)}
FROM m
"""

    all_stop = " + ".join(
        f"len(list_filter(toks, t -> lower(t) IN "
        f"({', '.join(chr(39) + w + chr(39) for w in STOPWORDS[lg])})))"
        for lg in LANGS)
    O["text_quality"] = f"""WITH {_sql_doc_toks()},
base AS (
  SELECT doc_id,
         len(toks) AS n_tok,
         len(list_distinct(toks)) AS n_distinct,
         ({all_stop}) AS n_stop,
         len(list_filter(toks, t -> NOT regexp_matches(t, '[A-Za-z0-9]')))
           AS n_punct,
         coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
           AS sum_tok_len
  FROM doc_toks
),
m AS (
  SELECT *,
    CASE WHEN n_tok > 0 THEN floor(n_stop * 1000 / n_tok) ELSE 0 END
      AS stop_milli,
    CASE WHEN n_tok > 0 THEN floor(n_distinct * 1000 / n_tok) ELSE 0 END
      AS distinct_milli,
    CASE WHEN n_tok >= 10 AND n_tok <= 1000 THEN 1 ELSE 0 END AS len_ok,
    CASE WHEN n_tok > 0 AND floor(n_punct * 1000 / n_tok) < 300
         THEN 1 ELSE 0 END AS punct_ok
  FROM base
)
SELECT doc_id, CAST(n_tok AS INT) AS n_tokens,
       CAST(n_distinct AS INT) AS n_distinct,
       CAST(n_stop AS INT) AS n_stop, CAST(n_punct AS INT) AS n_punct,
       CAST(sum_tok_len AS INT) AS sum_tok_len,
       CAST(stop_milli AS BIGINT) AS stop_milli,
       CAST(distinct_milli AS BIGINT) AS distinct_milli,
       CAST(floor(stop_milli * 400 / 1000) + floor(distinct_milli * 300 / 1000)
            + len_ok * 200 + punct_ok * 100 AS BIGINT) AS quality_milli
FROM m
"""

    # corpus_filter: canonical chain + single-pass metric CTEs, joined.
    O["corpus_filter"] = f"""WITH RECURSIVE {_sql_lsh_cand()},
{_sql_canonical()},
lv AS (SELECT doc_id, {', '.join(vote_exprs)} FROM doc_toks),
lb AS (SELECT *, greatest({', '.join('v_' + lg for lg in LANGS)}) AS best
       FROM lv),
lp AS (SELECT doc_id,
       CASE WHEN best > 0 THEN (CASE {case_pred} END) ELSE 'und' END
         AS lang_pred
       FROM lb),
qb AS (
  SELECT doc_id, len(toks) AS n_tok,
         len(list_distinct(toks)) AS n_distinct,
         ({all_stop}) AS n_stop,
         len(list_filter(toks, t -> NOT regexp_matches(t, '[A-Za-z0-9]')))
           AS n_punct
  FROM doc_toks),
qm2 AS (
  SELECT doc_id, n_tok,
    CASE WHEN n_tok > 0 THEN floor(n_stop * 1000 / n_tok) ELSE 0 END
      AS stop_milli,
    CASE WHEN n_tok > 0 THEN floor(n_distinct * 1000 / n_tok) ELSE 0 END
      AS distinct_milli,
    CASE WHEN n_tok >= 10 AND n_tok <= 1000 THEN 1 ELSE 0 END AS len_ok,
    CASE WHEN n_tok > 0 AND floor(n_punct * 1000 / n_tok) < 300
         THEN 1 ELSE 0 END AS punct_ok
  FROM qb),
qs AS (
  SELECT doc_id, CAST(n_tok AS INT) AS ws_tokens,
         CAST(floor(stop_milli * 400 / 1000)
              + floor(distinct_milli * 300 / 1000)
              + len_ok * 200 + punct_ok * 100 AS BIGINT) AS quality_milli
  FROM qm2)
SELECT c.doc_id, lp.lang_pred, qs.quality_milli, qs.ws_tokens,
       c.canonical_doc_id, c.is_canonical,
       CAST(c.is_canonical = 1 AND lp.lang_pred = '{GATE_LANG}'
            AND qs.quality_milli >= {GATE_QUALITY_MIN} AS INT) AS keep,
       CASE WHEN c.is_canonical = 0 THEN 'duplicate'
            WHEN lp.lang_pred <> '{GATE_LANG}' THEN 'language'
            WHEN qs.quality_milli < {GATE_QUALITY_MIN} THEN 'quality'
            ELSE 'kept' END AS drop_reason
FROM canon c JOIN lp ON c.doc_id = lp.doc_id
             JOIN qs ON c.doc_id = qs.doc_id
"""

    # corpus_filter_stats: the same verdict SQL rolled up per reason —
    # wrapped whole as a derived table (DuckDB allows WITH RECURSIVE in a
    # FROM subquery) so ANY future edit to the verdict query is inherited
    # verbatim; the previous rsplit("SELECT")-based string surgery broke
    # silently if the final projection ever gained a nested SELECT.
    O["corpus_filter_stats"] = f"""
SELECT drop_reason, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ws_tokens) AS BIGINT) AS n_tokens
FROM ({O["corpus_filter"]}) verdicts GROUP BY drop_reason
"""

    O["text_token_counts"] = f"""WITH {_sql_doc_toks()}
SELECT d.doc_id,
       CAST(len(t.toks) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(d.text, '{BPE_RE}')) AS INT)
         AS bpe_tokens,
       CAST(length(d.text) AS INT) AS chars
FROM documents d JOIN doc_toks t ON d.doc_id = t.doc_id
"""

    fp_parts = []
    for j in range(4):
        h = _h_sql(f"g || '|fp{j}'")
        fp_parts.append(f"coalesce(list_min(list_transform(grams, g -> "
                        f"{h})), -1) AS fp{j}")
    fps = ",\n       ".join(fp_parts)
    O["doc_fingerprint"] = f"""WITH grams_t AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(length(text) - 7, 1)),
                        i -> substr(text, i, 8)) AS grams
  FROM documents
)
SELECT doc_id,
       {fps}
FROM grams_t
"""

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

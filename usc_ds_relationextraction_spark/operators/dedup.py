"""Deduplication operator family for large-scale training-data pipelines.

All sketches are built from the engine-portable md5-derived hash
(:mod:`..functions.hashing`) so every operator has an exact DuckDB oracle —
and, more importantly at 100 TB, the signatures are reproducible across
cluster sizes and resume boundaries.

Operators:
 - exact dedup: content-hash groupBy (one shuffle on a uniform key)
 - MinHash: k per-permutation minima over word n-gram shingles, computed
   entirely with JVM higher-order functions (transform/array_min) — no UDF,
   no explode, narrow map only
 - LSH banding: band hashes over signature slices → self-join on band
   buckets → candidate pairs (the only shuffle; banded keys are uniform)
 - SimHash: bit-majority over token hashes, again pure HOFs
 - n-gram Jaccard verification: inverted-index join on shared shingles +
   per-pair intersection counting (exact; used to verify LSH candidates)

Scale notes: MinHash/SimHash are narrow (per-row) — they scale linearly.
The LSH self-join shuffles on (band_idx, band_hash): uniformly distributed
by construction, no salting needed.  The exact-Jaccard join explodes
distinct shingles — at 100 TB you run it only on LSH candidates (the
verify stage), never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import (MASK30, MASK60, h64, minhash_mix_consts,
                                 shingle_coeffs)
from ..functions.hof import let

DEFAULT_PERMS = 8
DEFAULT_BANDS = 4  # rows-per-band = perms/bands


def tokens_of(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, " "), lambda t: t != "")


def shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles as strings (empty array when too short).

    ``toks`` is let-bound before use: the slice lambda references it per
    shingle, and an unbound expression (e.g. a ``split()``) would be
    CollapseProject-inlined and re-evaluated O(tokens) times per row —
    measured at 15× on the curation repetition metrics (see
    :mod:`..functions.hof`)."""
    def _sh(t: Column) -> Column:
        k = F.size(t) - (n - 1)
        return F.when(
            k > 0,
            F.transform(F.sequence(F.lit(1), k),
                        lambda i: F.concat_ws(" ", F.slice(t, i, n)))
        ).otherwise(F.array().cast("array<string>"))
    return let(toks, _sh)


def _mix60(h: Column, a: int, b: int = 0) -> Column:
    """``(h·a + b) mod 2**60`` via the int64-safe split product — the
    engine-portable MinHash arithmetic
    (:func:`..functions.hashing.minhash_mix_consts`)."""
    m30, m60 = F.lit(MASK30), F.lit(MASK60)
    return (h.bitwiseAND(m30) * F.lit(a)
            + (F.shiftright(h, 30) * F.lit(a)).bitwiseAND(m30)
            * F.lit(1 << 30)
            + F.lit(b)).bitwiseAND(m60)


def shingle_hashes(toks: Column, ngram: int = 3) -> Column:
    """Token-rolling shingle hashes (bigint array; empty when too short):
    per window, ``(Σ_j h64(t_j)·C_j) mod 2**60`` — md5 per TOKEN, not per
    joined shingle string (:func:`..functions.hashing.shingle_coeffs`)."""
    coeffs = shingle_coeffs(ngram)

    def _over(t: Column) -> Column:
        def _windows(hs: Column) -> Column:
            def win(i: Column) -> Column:
                # CAUTION: HOF lambdas must take exactly the declared
                # arity — an extra default-arg parameter makes PySpark
                # bind it to the element-index column.  Close over
                # coeffs instead.
                acc = None
                for j, c in enumerate(coeffs):
                    term = _mix60(F.element_at(hs, i + F.lit(j)), c)
                    acc = term if acc is None else \
                        (acc + term).bitwiseAND(F.lit(MASK60))
                return acc

            k = F.size(t) - (ngram - 1)
            return F.when(k > 0,
                          F.transform(F.sequence(F.lit(1), k), win)) \
                .otherwise(F.array().cast("array<bigint>"))

        # hs let-bound: win() back-references it per (window, coeff) —
        # unbound, CollapseProject inlined the whole md5-per-token
        # transform at EVERY element_at (O(tokens²)·md5 per row, the
        # round-3 HOF-sketch pathology in miniature)
        return let(F.transform(t, lambda x: h64(x)), _windows)

    return let(toks, _over)


def minhash_signature(shg: Column,
                      perms: int = DEFAULT_PERMS) -> list[Column]:
    """One min-hash per permutation over a :func:`shingle_hashes` array
    (affine mix, -1 when no shingles)."""
    return [
        F.coalesce(
            F.array_min(F.transform(shg, _mix_closure(a, b))),
            F.lit(-1).cast("bigint")).alias(f"sig{i}")
        for i, (a, b) in enumerate(minhash_mix_consts(perms))]


def _mix_closure(a: int, b: int):
    def f(h: Column) -> Column:
        return _mix60(h, a, b)
    return f


def with_minhash(docs: DataFrame, text_col: str = "text",
                 perms: int = DEFAULT_PERMS, ngram: int = 3) -> DataFrame:
    """MinHash signatures — hot path: one Arrow crossing per batch, the
    whole perm bank vectorized with a unique-shingle memo
    (:func:`..functions.sketches.minhash_batch`).  The HOF twin below
    (:func:`with_minhash_hof`) pays ``perms`` interpreted md5 passes per
    row PLUS the interpreted shingle rebuild — the known pathology."""
    from ..functions.sketches import minhash_arrow
    st = minhash_arrow(text_col, perms, ngram)
    return docs.select("doc_id", st.alias("_s")) \
        .select("doc_id", *[F.col(f"_s.sig{i}").alias(f"sig{i}")
                            for i in range(perms)])


def with_minhash_hof(docs: DataFrame, text_col: str = "text",
                     perms: int = DEFAULT_PERMS, ngram: int = 3) -> DataFrame:
    """Pure-JVM-expression MinHash (interpreted HOFs) — value-identical
    agreement oracle for :func:`with_minhash`; do not use on hot paths.
    Null text coalesces to '' so the no-shingle contract (-1 sigs)
    matches the Arrow form exactly, null input included."""
    shg = shingle_hashes(
        tokens_of(F.coalesce(F.col(text_col), F.lit(""))), ngram)
    return docs.select("doc_id", *[
        c for c in minhash_signature(shg, perms)])


def band_hashes(sig_df: DataFrame, perms: int = DEFAULT_PERMS,
                bands: int = DEFAULT_BANDS) -> DataFrame:
    """(doc_id, band_idx, band_hash) — LSH bucketing rows.

    ONE projection + explode, not a bands-way UNION of projections: each
    UNION branch re-evaluates the whole upstream signature subtree (the
    Arrow MinHash UDF), so the union form paid ``bands`` UDF passes per
    reference — ×2 again across a self-join's two sides.  Measured 75 s
    → 11 s for the candidate-pair join at 200k docs."""
    r = perms // bands
    entries = []
    for b in range(bands):
        parts = [F.col(f"sig{b * r + j}").cast("string") for j in range(r)]
        entries.append(F.struct(
            F.lit(b).alias("band_idx"),
            h64(F.concat_ws("_", *parts, F.lit(f"band{b}")))
            .alias("band_hash")))
    return sig_df.select("doc_id",
                         F.explode(F.array(*entries)).alias("z")) \
        .select("doc_id", "z.band_idx", "z.band_hash")


def lsh_candidate_pairs(docs: DataFrame, text_col: str = "text",
                        perms: int = DEFAULT_PERMS,
                        bands: int = DEFAULT_BANDS,
                        ngram: int = 3) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing at least one LSH band."""
    sig = with_minhash(docs, text_col, perms, ngram)
    bh = band_hashes(sig, perms, bands)
    a = bh.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_hash")
    b = bh.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_hash")
    return (a.join(b, on=["band_idx", "band_hash"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())


def simhash(docs: DataFrame, text_col: str = "text",
            bits: int = 16) -> DataFrame:
    """Bit-majority SimHash over whitespace tokens (multiset semantics —
    repeated tokens vote repeatedly, like the classic Charikar sketch).

    Hot path: one Arrow crossing per batch, the whole bit bank as a
    NumPy bit-parallel vote (:mod:`..functions.sketches`).  The HOF twin
    below (:func:`simhash_hof`) is the agreement oracle — it pays
    ``bits`` interpreted `F.aggregate` passes per row, which is the
    known interpreted-HOF pathology at scale."""
    from ..functions.sketches import simhash_arrow
    return docs.select(
        "doc_id", simhash_arrow(text_col, bits).alias("simhash"))


def simhash_hof(docs: DataFrame, text_col: str = "text",
                bits: int = 16) -> DataFrame:
    """Pure-JVM-expression SimHash (interpreted HOFs) — value-identical
    agreement oracle for :func:`simhash`; do not use on hot paths."""
    toks = tokens_of(text_col)

    def vote_for(mask: int) -> Column:
        def step(s: Column, t: Column) -> Column:
            return s + F.when(h64(t).bitwiseAND(F.lit(mask)) > 0,
                              F.lit(1)).otherwise(F.lit(-1))
        return F.aggregate(toks, F.lit(0).cast("bigint"), step)

    acc = None
    for b in range(bits):
        bit = F.when(vote_for(1 << b) > 0, F.lit(1 << b)).otherwise(F.lit(0))
        acc = bit if acc is None else acc + bit
    return docs.select("doc_id", acc.cast("bigint").alias("simhash"))


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        ngram: int = 3,
                        min_jaccard_milli: int = 200) -> DataFrame:
    """Exact n-gram Jaccard via inverted-index join.

    Output jaccard scaled to integer milli-units (portable).  At scale this
    runs on LSH candidates only; here (driver correctness tier) all-pairs
    via shared-shingle blocking is fine.
    """
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles(tokens_of(text_col), ngram)))
        .alias("sh"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (a.join(b, on="sh").where(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter")))
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    j = inter.join(na, on="doc_a").join(nb, on="doc_b")
    out = j.select("doc_a", "doc_b",
                   F.expr("inter * 1000 div (na + nb - inter)")
                   .alias("jaccard_milli"))
    return out.where(F.col("jaccard_milli") >= min_jaccard_milli)


def shared_span_runs(docs: DataFrame, text_col: str = "text",
                     ngram: int = 3, min_tokens: int = 5,
                     candidates: DataFrame | None = None) -> DataFrame:
    """Exact duplicated-substring spans across documents — the substring
    member of the dedup family (the span-harvesting semantics of
    sequence-level training-data dedup: report every duplicated token
    run, so downstream can mask or drop it, not just flag the doc pair).

    Every MAXIMAL run of consecutive shared ``ngram``-shingles at a fixed
    alignment offset between two documents is one output row
    ``(doc_a, doc_b, start_a, start_b, span_tokens)`` with
    ``span_tokens = run_len + ngram - 1`` (exactly the duplicated token
    count; spans shorter than ``ngram`` are undetectable by
    construction).  Emitting all maximal runs keeps the output a
    deterministic SET — no per-pair argmax tie-break.

    Relational shape (all JVM ops, exact DuckDB oracle):
      1. shingle-position inverted index (one narrow ``posexplode``);
      2. self-join on the shingle string (``doc_a < doc_b``);
      3. same-diagonal (``pos_a − pos_b``) run-length grouping:
         ``pos_a − row_number()`` over the diagonal window — classic
         gaps-and-islands, one shuffle on (doc_a, doc_b, diag);
      4. count per island → span length.

    Scale: pass ``candidates`` (e.g. :func:`lsh_candidate_pairs` output)
    to bound the quadratic self-join to LSH candidates — the same
    100 TB contract as :func:`verified_near_dups`; all-pairs via the
    inverted index is the driver-correctness tier only.
    """
    from pyspark.sql import Window
    sp = docs.select(
        "doc_id",
        F.posexplode(shingles(tokens_of(text_col), ngram))
        .alias("pos", "sh"))
    a = sp.select(F.col("doc_id").alias("doc_a"),
                  F.col("pos").alias("pa"), "sh")
    b = sp.select(F.col("doc_id").alias("doc_b"),
                  F.col("pos").alias("pb"), "sh")
    if candidates is not None:
        # drive the join FROM the candidate pairs (the verified_near_dups
        # shape): cand ⋈ positions(doc_a) ⋈ positions(doc_b, sh).  Joining
        # the full inverted index first and semi-joining after would pay
        # the corpus-wide shingle-collision cross product (birthday-scale
        # at millions of shingles) before discarding non-candidates —
        # measured 44× slower at 200k docs.
        # normalize to doc_a < doc_b (a caller handing (b, a)-ordered
        # pairs must not silently lose spans); self-pairs drop out
        cand = candidates.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b")) \
            .where(F.col("doc_a") < F.col("doc_b")).distinct()
        m = cand.join(a, on="doc_a").join(b, on=["doc_b", "sh"])
    else:
        m = a.join(b, on="sh").where(F.col("doc_a") < F.col("doc_b"))
    m = m.select("doc_a", "doc_b", "pa", "pb",
                 (F.col("pa") - F.col("pb")).alias("diag"))
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = m.withColumn("run_id", F.col("pa") - F.row_number().over(w)) \
        .groupBy("doc_a", "doc_b", "diag", "run_id") \
        .agg(F.count("*").alias("n_sh"),
             F.min("pa").alias("start_a"),
             F.min("pb").alias("start_b"))
    out = runs.select(
        "doc_a", "doc_b",
        F.col("start_a").cast("int").alias("start_a"),
        F.col("start_b").cast("int").alias("start_b"),
        (F.col("n_sh") + (ngram - 1)).cast("int").alias("span_tokens"))
    return out.where(F.col("span_tokens") >= min_tokens)


def verified_near_dups(docs: DataFrame, text_col: str = "text",
                       perms: int = DEFAULT_PERMS,
                       bands: int = DEFAULT_BANDS, ngram: int = 3,
                       min_jaccard_milli: int = 200) -> DataFrame:
    """The composed production near-dup pipeline: MinHash-LSH candidate
    generation → exact n-gram Jaccard verification restricted to the
    candidates.  THIS is the 100 TB shape: the quadratic verify work is
    bounded by |LSH candidates| (banded, uniform keys), never all-pairs;
    the shingle join runs per candidate pair via two semi-bounded joins
    against the distinct-shingle table.

    Output is a SUBSET of :func:`ngram_jaccard_pairs` (same verify rule;
    candidates that share no LSH band are not inspected — the documented
    recall trade of banding).
    """
    cand = lsh_candidate_pairs(docs, text_col, perms, bands, ngram)
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles(tokens_of(text_col), ngram)))
        .alias("sh"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = sh.select(F.col("doc_id").alias("_doc_b2"),
                  F.col("sh").alias("sh_b"))
    inter = (cand.join(a, on="doc_a")
             .join(b, (F.col("doc_b") == F.col("_doc_b2"))
                   & (F.col("sh") == F.col("sh_b")))
             .groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter")))
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    j = inter.join(na, on="doc_a").join(nb, on="doc_b")
    out = j.select("doc_a", "doc_b",
                   F.expr("inter * 1000 div (na + nb - inter)")
                   .alias("jaccard_milli"))
    return out.where(F.col("jaccard_milli") >= min_jaccard_milli)


def mask_shared_spans(docs: DataFrame, text_col: str = "text",
                      ngram: int = 3, min_tokens: int = 5,
                      candidates: DataFrame | None = None) -> DataFrame:
    """The masking CONSUMER of :func:`shared_span_runs` — sequence-level
    dedup's output transform: every doc keeps its text except the
    duplicated token runs, which are dropped from the HIGHER-id side of
    each pair (``doc_b``; ``doc_a`` keeps one canonical copy, so shared
    content survives exactly once corpus-wide for a duplicated pair).

    Returns ``(doc_id, clean_text, n_masked)`` for EVERY input doc —
    ``clean_text`` is the space-rejoin of the surviving tokens (identical
    to the original tokenization for the untouched majority),
    ``n_masked`` the count of dropped token positions.

    Scale shape: the mask table only carries docs that appear as
    ``doc_b`` in a qualifying span — a small fraction of the corpus — so
    the left join is broadcast-able and the untouched majority never
    shuffles; the per-row mask filter is one bounded HOF over the mask
    array (mask arrays are span-bounded, not corpus-bounded).  Pass
    ``candidates`` (LSH pairs) exactly as for :func:`shared_span_runs`.
    """
    spans = shared_span_runs(docs, text_col, ngram, min_tokens, candidates)
    masks = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.explode(F.sequence(
            "start_b",
            F.col("start_b") + F.col("span_tokens") - F.lit(1))).alias("pos")
    ).groupBy("doc_id").agg(
        F.sort_array(F.collect_set("pos")).alias("mask"))
    toks = tokens_of(text_col)
    kept = F.when(F.col("mask").isNull(), toks).otherwise(
        F.filter(toks, lambda t, i: ~F.array_contains(F.col("mask"), i)))
    return docs.join(masks, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.array_join(kept, " "), F.lit("")).alias("clean_text"),
        F.coalesce(F.size("mask"), F.lit(0)).cast("int").alias("n_masked"))

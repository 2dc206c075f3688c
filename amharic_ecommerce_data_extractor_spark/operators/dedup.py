"""Deduplication suite for large text corpora (graft-added capability —
the operations a 100TB training-data pipeline needs).

* exact_duplicates       — full-content hash groupBy (sha256), keeps the
                           lowest-id representative per group.
* minhash_duplicate_pairs— word-shingle MinHash + LSH banding → candidate
                           pairs → exact Jaccard verify (reuses the linking
                           primitives; scales as an equi join, never O(n²)).
* simhash64              — 64-bit SimHash fingerprint from word-feature signs
                           (pure JVM bit arithmetic); near-dup candidates =
                           identical fingerprints, or banded Hamming buckets.
* ngram_jaccard_pairs    — exact word-n-gram Jaccard on LSH candidates.
* embedding_duplicate_pairs — cosine ≥ τ pairs via SimHash(LSH) bucketing of
                           the embedding space (from operators.similarity).
* winnowing_fingerprints / fingerprint_overlap_pairs — MOSS substring
                           fingerprints (one Arrow kernel per batch,
                           kernels/hashing.py) and their overlap join.
* dedup                  — end-to-end: drop exact dupes, then one doc per
                           near-dup component (connected components over the
                           verified pair graph).

All group keys are hashes → uniformly distributed, no skew by construction;
the only Python is the winnowing kernel, which receives texts only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..kernels.hashing import POS_W, winnow_batch
from .linking import (
    banded_candidate_pairs,
    first_per,
    label_components,
    minhash_rows,
    spread,
)


def word_shingles(col, n: int = 3):
    """Distinct word n-grams (space-joined) of the whitespace-split text;
    texts shorter than n words yield one shingle (the whole text).

    The gram is built as concat_ws over n element lookups instead of
    array_join(slice(words, i+1, n), " "): identical strings — all n
    positions exist for every full gram, and for the short-text single
    gram the past-the-end lookups are null, which concat_ws skips exactly
    like the truncated slice — without allocating an n-element array per
    gram position.

    The words array is LET-BOUND through a single-element outer transform
    (Catalyst has no CSE inside interpreted lambda bodies, so referencing
    the split expression directly in the gram lambda re-lowered and
    re-split the WHOLE text for every element lookup — O(words ·
    text_len) per row, measured 7.0 s → 0.25 s for the sf0.1 documents
    scan). A bound lambda variable is an O(1) slot read; output is
    byte-identical."""
    words = F.split(F.trim(F.lower(col)), r"\s+")

    def grams(w):
        return F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
            lambda i: F.concat_ws(
                " ", *[F.try_element_at(w, i + j) for j in range(1, n + 1)]),
        )

    return F.array_distinct(
        F.element_at(F.transform(F.array(words), grams), 1))


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(fingerprint, n_copies, keep_id, all_ids) for every duplicated text."""
    fp = df.select(F.col(id_col).alias("id"), F.sha2(F.col(text_col), 256).alias("fp"))
    return (
        fp.groupBy("fp")
        .agg(F.count("*").alias("n_copies"),
             F.min("id").alias("keep_id"),
             F.sort_array(F.collect_list("id")).alias("all_ids"))
        .where(F.col("n_copies") > 1)
    )


def _member_pairs(members_col):
    """array<struct<src,dst>> of all (a < b) combinations of an ASCENDING
    member array — pure array arithmetic, no join."""
    m = F.col(members_col)
    return F.flatten(F.transform(
        F.sequence(F.lit(1), F.size(m) - 1),
        lambda i: F.transform(
            F.slice(m, i + 1, F.size(m) - i),
            lambda b: F.struct(F.element_at(m, i).alias("src"),
                               b.alias("dst")))))


def minhash_duplicate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    bands: int = 8,
    rows: int = 2,
    threshold: float = 0.7,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Verified near-duplicate pairs (src, dst, jaccard), src < dst: every
    pair of documents whose word-shingle Jaccard is >= threshold among the
    MinHash-LSH candidates. Band self-join carries ids only (see
    linking.banded_candidate_pairs); hash_fn='md5' is the
    cross-engine-verifiable variant.

    Runs GROUPED BY DISTINCT TEXT: identical text ⇒ identical shingle set ⇒
    identical MinHash ⇒ identical band keys, so the shingling/MinHash pass
    runs once per distinct text and the quadratic band-bucket pair
    enumeration runs over text-group representatives; the exact
    per-document pair list is reconstructed afterwards — cross-group
    candidates expand members_a × members_b with the group pair's verified
    Jaccard, and within-group pairs (always banded together, Jaccard exactly
    1.0 on identical sets) come from a pure array expansion, no join. On a
    corpus whose duplicate factor is f this divides candidate-pair work by
    ~f² (measured sf1.0 doubled-documents: 43.4M → 10.9M candidates) and is
    the identity when every text is distinct."""
    # linking.minhash_rows' spread is the identity here: the groupBy's own
    # shuffle already redistributes the texts to spark.sql.shuffle.partitions
    groups = (df
              .select(F.col(id_col).alias("nid"), F.col(text_col).alias("_t"))
              .groupBy("_t")
              .agg(F.sort_array(F.collect_list("nid")).alias("members"))
              .select(F.element_at("members", 1).alias("nid"), "members", "_t"))
    sig_df = minhash_rows(groups, "nid", word_shingles(F.col("_t"), shingle_words),
                          bands, rows, hash_fn, "members")
    gpairs = (banded_candidate_pairs(sig_df, bands, rows, hash_fn)
              .where(F.col("sim") >= threshold))
    mem = sig_df.select(F.col("nid").alias("_g"), "members")
    cross = (gpairs
             .join(mem.select(F.col("_g").alias("src"),
                              F.col("members").alias("_ma")), "src")
             .join(mem.select(F.col("_g").alias("dst"),
                              F.col("members").alias("_mb")), "dst")
             .select(F.explode("_ma").alias("a"), "_mb", "sim")
             .select("a", F.explode("_mb").alias("b"), "sim")
             .select(F.least("a", "b").alias("src"),
                     F.greatest("a", "b").alias("dst"),
                     F.col("sim").alias("jaccard")))
    within = (sig_df.where(F.size("members") >= 2)
              .select(F.explode(_member_pairs("members")).alias("p"))
              .select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"),
                      F.lit(1.0).alias("jaccard"))
              .where(F.lit(1.0) >= threshold))
    return cross.unionByName(within)


def ngram_jaccard_pairs(df: DataFrame, n: int = 2, threshold: float = 0.5,
                        id_col: str = "doc_id", text_col: str = "text",
                        hash_fn: str = "xxhash64", bands: int = 8,
                        rows: int = 2) -> DataFrame:
    """Exact n-gram Jaccard over LSH candidates. 8×2 banding by default:
    16×1 banding admits a candidate whenever ONE minhash matches (collision
    prob = j per band), which floods the verify join on corpora with shared
    template vocabulary — r=2 squares the per-band collision prob and keeps
    ~0.9 recall at j=0.5."""
    return minhash_duplicate_pairs(df, id_col=id_col, text_col=text_col,
                                   shingle_words=n, bands=bands, rows=rows,
                                   threshold=threshold, hash_fn=hash_fn
                                   ).withColumnRenamed("jaccard", "ngram_jaccard")


def _votes_to_bits(votes):
    return F.array_join(
        F.transform(votes, lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0"))), "")


def simhash64(col):
    """64-bit SimHash of word features as a 64-char '0'/'1' string: for each
    bit b, sign of the sum over words of (bit b of xxhash64(word) ? +1 : -1).
    Pure JVM; the bit-string form is directly groupable and band-sliceable
    (substring) for Hamming buckets, with no signed-long overflow concerns.

    Single-pass shape: the per-word hash is BOUND as a fold lambda variable,
    so it is computed once per word and its 64-bit ±1 vote vector is added
    into a 64-wide accumulator — not recomputed per output bit (a
    bit-per-lambda formulation evaluates the hash 64× per word; Catalyst
    does not CSE across lambda bodies)."""
    words = F.array_distinct(F.split(F.trim(F.lower(col)), r"\s+"))
    zeros = F.array_repeat(F.lit(0), 64)
    votes = F.aggregate(
        F.transform(words, lambda w: F.xxhash64(w)),
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(F.sequence(F.lit(0), F.lit(63)),
                        lambda b: F.when(F.getbit(h, b) == 1, F.lit(1)).otherwise(F.lit(-1))),
            lambda a, v: a + v,
        ),
    )
    return _votes_to_bits(votes)


def simhash64_md5(col):
    """Cross-engine-verifiable SimHash64 twin of :func:`simhash64`: the
    per-word hash is md5 instead of xxhash64, with bit b of the 64-bit hash
    read straight out of the hex string — hex digit b//4, MSB-first within
    the digit — a definition both Spark and DuckDB evaluate identically.
    Used by the driver oracle (q29); the xxhash64 variant stays the
    production default (faster JVM hash).

    Same single-pass shape as simhash64: md5 once per word (bound lambda
    variable), TWO 8-hex-digit parses per word (each a 32-bit value whose
    bits are read MSB-first with getbit — bit-for-bit the same votes as the
    earlier 16 per-digit conv parses, at an eighth of the string-parse
    work), 64 vector adds — not 64 md5 evaluations per word."""
    words = F.array_distinct(F.split(F.trim(F.lower(col)), r"\s+"))
    zeros = F.array_repeat(F.lit(0), 64)

    votes = F.aggregate(
        F.transform(words, lambda w: F.md5(w)),
        zeros,
        lambda acc, hx: F.zip_with(
            acc,
            # chunk values bound as array ELEMENTS so each conv evaluates
            # once per chunk (a lambda-body subexpression would re-evaluate
            # per bit — Catalyst does not CSE across lambda bodies)
            F.flatten(F.transform(
                F.array(F.conv(F.substring(hx, 1, 8), 16, 10).cast("long"),
                        F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")),
                lambda v: F.transform(
                    F.sequence(F.lit(31), F.lit(0), F.lit(-1)),
                    lambda j: F.when(F.getbit(v, j) == 1, F.lit(1)).otherwise(F.lit(-1)),
                ),
            )),
            lambda a, v: a + v,
        ),
    )
    return _votes_to_bits(votes)


def simhash_duplicates(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       hash_fn: str = "xxhash64") -> DataFrame:
    """Groups of documents sharing an identical 64-bit SimHash."""
    sh = simhash64_md5 if hash_fn == "md5" else simhash64
    fp = spread(df, id_col).select(
        F.col(id_col).alias("id"), sh(F.col(text_col)).alias("simhash"))
    return (fp.groupBy("simhash")
            .agg(F.count("*").alias("n_docs"), F.sort_array(F.collect_list("id")).alias("ids"))
            .where(F.col("n_docs") > 1))


def embedding_duplicate_pairs(df: DataFrame, threshold: float = 0.95,
                              id_col: str = "vec_id", vec_col: str = "embedding",
                              dim: int = 64, plane_fn: str = "gauss") -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ τ, LSH-bucketed (never a
    full cross join)."""
    from .similarity import knn_lsh

    pairs = knn_lsh(df, df, k=5, dim=dim, id_col=id_col, vec_col=vec_col,
                    plane_fn=plane_fn)
    return (pairs.where((F.col("sim") >= threshold) & (F.col("query_id") < F.col("neighbor_id")))
            .select(F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"), "sim"))


def dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
          threshold: float = 0.7, hash_fn: str = "xxhash64",
          method: str = "minhash",
          winnow_k: int = 5, winnow_w: int = 8, winnow_min_shared: int = 8,
          winnow_max_df: int = 50) -> DataFrame:
    """End-to-end dedup: exact first (cheap hash shuffle), then near-dup
    components; keeps the lowest id per component.

    method picks the near-dup edge source:

    * ``minhash`` (default) — word-shingle MinHash-LSH candidates + exact
      Jaccard >= threshold verify. Resemblance semantics: catches documents
      whose shingle SETS mostly agree — whole-document similarity,
      insensitive to where in the documents the shared material sits.
    * ``winnowing`` — MOSS fingerprint-overlap pairs (>= winnow_min_shared
      shared winnowed k-gram fingerprints). Containment-ish semantics: any
      verbatim run of winnow_w + winnow_k - 1 chars is guaranteed a shared
      fingerprint, so it catches boilerplate/quote-level copying MinHash
      dilutes away on long documents. The winnow_max_df stop-fingerprint
      cap plays the bucket-bound role (edges <= max_df² per fingerprint),
      and threshold is unused.
      winnow_min_shared defaults HIGHER here (8) than in the pair-listing
      operator (3): connected components closes pairs transitively, so a
      low pair bar chain-merges everything sharing template boilerplate
      (measured: the phrase-templated sf0.001 documents collapse 1000→26
      at min_shared=3 vs 1000→409 at 8); size it to the verbatim-run
      mass that constitutes "duplicate" in YOUR corpus, and keep max_df
      tight — stop-fingerprints are where template text chains.

    The minhash method bands the exact-deduped documents in
    banded_candidate_pairs' 'star' mode: connected components only needs a
    spanning set of edges per LSH bucket, and 'star' bounds the
    candidate-edge count LINEARLY in bucket size — a pathological cluster
    of 1M near-identical documents emits 10⁶ candidate edges instead of the
    5·10¹¹ a full per-bucket clique would. Tradeoff (see
    banded_candidate_pairs): the Jaccard verify sees only star edges, so a
    component can fragment when the bucket-min is sub-threshold to a member
    that is supra-threshold to another member."""
    exact_kept = first_per(df, F.sha2(F.col(text_col), 256), id_col)
    if method == "minhash":
        sig_df = minhash_rows(exact_kept, id_col, word_shingles(F.col(text_col)),
                              8, 2, hash_fn)
        pairs = (banded_candidate_pairs(sig_df, 8, 2, hash_fn, pair_mode="star")
                 .where(F.col("sim") >= threshold))
    elif method == "winnowing":
        pairs = fingerprint_overlap_pairs(exact_kept, id_col=id_col,
                                          text_col=text_col, k=winnow_k,
                                          w=winnow_w,
                                          min_shared=winnow_min_shared,
                                          max_df=winnow_max_df,
                                          hash_fn=hash_fn)
    else:
        raise ValueError(f"method must be 'minhash' or 'winnowing', got {method!r}")
    return first_per(label_components(exact_kept, id_col, pairs),
                     "component", id_col).drop("component")


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 —
# the MOSS local algorithm). Complements content_fingerprint (whole-doc
# rolling-hash role, functions/textstats.py) with SUBSTRING-level
# fingerprints: any match of length >= w + k - 1 between two documents is
# guaranteed to share at least one selected fingerprint, and the selected
# density is ~2/(w+1) of all k-grams.
# ---------------------------------------------------------------------------

def winnowing_fingerprints(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", k: int = 5, w: int = 8,
                           hash_fn: str = "xxhash64") -> DataFrame:
    """(id, pos, fp) — the winnowed fingerprint set of every document: hash
    each character k-gram, slide a window over w consecutive k-gram hashes,
    select each window's minimum hash taking the RIGHTMOST position on ties,
    emit distinct (position, hash) selections.

    Shape: winnowing is local per document, so it runs as one Arrow kernel
    in a narrow projection (kernels/hashing.winnow_batch) — no k-gram
    explode, no per-doc window shuffle. Only the text crosses the Python
    boundary; ids stay in the JVM and keep their type. Per Arrow batch the
    kernel hashes each distinct k-gram once ('md5': the first 60 bits of
    md5 % (2^31 - 1), the cross-engine variant DuckDB recomputes as
    ``CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % mod``; 'xxhash64':
    pmod(Spark's xxhash64, 2^31 - 1)), packs the rightmost-min-on-ties rule
    into one BIGINT — hash * 2^32 + (2^32 - 1 - pos) — takes each window's
    minimum in numpy and returns the distinct packed selections, which are
    exploded and decoded here. The work is O(L) per document of L chars.

    Parity: reference has no substring fingerprinting (closest is the
    whole-text dedup key, text_preprocessor.py drop_duplicates); this is
    graft-new 100TB-pipeline capability alongside MinHash/SimHash. The
    DuckDB twin (q48) recomputes the same selections via an independent
    formulation (row-exploded window SQL); tests/test_dedup.py pins the
    per-string eager reference and tests/test_hash_kernel.py the
    Spark-expression spec (tests/hash_spec.py).
    """
    pw = POS_W

    @F.arrow_udf(T.ArrayType(T.LongType()))
    def winnow_udf(texts):
        return winnow_batch(texts, k, w, hash_fn)

    return (df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
            .where(F.length("_t") >= k)
            .select("id", F.explode(winnow_udf(F.col("_t"))).alias("m"))
            .select("id",
                    (F.lit(pw - 1) - F.col("m") % pw).alias("pos"),
                    F.expr(f"m DIV {pw}").alias("fp")))


def fingerprint_overlap_pairs(df: DataFrame, id_col: str = "doc_id",
                              text_col: str = "text", k: int = 5, w: int = 8,
                              min_shared: int = 3, max_df: int = 50,
                              hash_fn: str = "xxhash64") -> DataFrame:
    """(src, dst, n_shared) — document pairs sharing >= min_shared winnowed
    fingerprints (the MOSS similarity join).

    The fingerprints come from winnowing_fingerprints' Arrow kernel; the
    rest is Spark. The (id, fp) distinct is lazily checkpointed, because it
    feeds three consumers (the df-cap and both join sides) and would
    otherwise run the kernel once per consumer. Scale discipline mirrors
    banded_candidate_pairs: the self-join carries (fp, id) only — never
    text — and 'stop fingerprints' appearing in more than max_df documents
    are dropped FIRST, so a boilerplate phrase shared by 10^6 documents
    cannot detonate an n² bucket (same role as a df-cap in an inverted
    index). Remaining fan-out is <= max_df² per hash."""
    fps = (winnowing_fingerprints(df, id_col=id_col, text_col=text_col, k=k,
                                  w=w, hash_fn=hash_fn)
           .select("id", "fp").distinct().localCheckpoint(eager=False))
    keep = (fps.groupBy("fp").agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= max_df).select("fp"))
    fpk = fps.join(keep, "fp")
    a, b = fpk.alias("a"), fpk.alias("b")
    return (a.join(b, "fp")
            .where(F.col("a.id") < F.col("b.id"))
            .groupBy(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
            .agg(F.count("*").alias("n_shared"))
            .where(F.col("n_shared") >= min_shared))

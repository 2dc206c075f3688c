"""Executable spec of the winnowing kernel in ``kernels/hashing.py``: the
interpreted Spark-expression formulation of
``operators.dedup.winnowing_fingerprints`` that the Arrow kernel reproduces
selection for selection. ``tests/test_hash_kernel.py`` runs the same rows
through both and compares the results.

* ``_kgram_hash`` — the per-k-gram hash of both families as Spark
  expressions (``md5_prefix60 % mod`` and ``pmod(xxhash64, mod)``);
* ``winnowing_fingerprints`` — the packed window minima as ``transform`` /
  ``least(try_element_at ...)`` folds, with the ``max_chars`` chunking that
  bounded the O(L²) cost of per-gram ``substr`` on long documents.
"""

from pyspark.sql import DataFrame, functions as F

from amharic_ecommerce_data_extractor_spark.operators.linking import md5_prefix60

_WINNOW_MOD = 2147483647      # hash modulus (2^31 - 1)
# position packing width. 2^32 makes overflow/underflow IMPOSSIBLE rather
# than merely unlikely: a Spark string holds < 2^31 chars, so every position
# fits (pw-1-pos stays non-negative), and the packed maximum
# (2^31-1)*2^32 + 2^32-1 = 2^63-1 is exactly the signed-64 ceiling — no
# wraparound for any representable document. (A narrower width silently
# decoded fp as hash-1 with a wrapped pos once positions crossed it.)
_WINNOW_POS_W = 1 << 32


def _kgram_hash(gram, hash_fn: str):
    """Non-negative k-gram hash < 2^31. 'md5' is the cross-engine-verifiable
    variant (DuckDB: CAST('0x' || substr(md5(g),1,15) AS BIGINT) % mod);
    xxhash64 is the production path (one JVM hash per gram, no hex parse)."""
    if hash_fn == "md5":
        return md5_prefix60(gram) % _WINNOW_MOD
    return F.pmod(F.xxhash64(gram), F.lit(_WINNOW_MOD))


def winnowing_fingerprints(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", k: int = 5, w: int = 8,
                           hash_fn: str = "xxhash64",
                           max_chars: int | None = 8192,
                           _cross_chunk_dedup: bool = True) -> DataFrame:
    """(id, pos, fp) — the winnowed fingerprint set of every document: hash
    each character k-gram, slide a window over w consecutive k-gram hashes,
    select each window's minimum hash taking the RIGHTMOST position on ties,
    emit distinct (position, hash) selections.

    Scale shape: winnowing is LOCAL per document, so the whole selection runs
    as array expressions inside one narrow projection — no k-gram explode, no
    per-doc window shuffle, nothing leaves the scan partition until the
    (already winnowed, ~2/(w+1)-density) selections are exploded. The
    rightmost-min-on-ties rule is packed into a single BIGINT — hash * 2^32 +
    (2^32 - 1 - pos) — so each window is a plain numeric array_min over a
    w-slice, not a struct comparator or a UDF.

    max_chars (DEFAULT ON, 8192) bounds BOTH the giant-document straggler
    AND the per-gram substring cost: Spark's UTF8String substring seeks from
    the start of the string, so unchunked extraction of all k-grams is O(L²)
    byte scans per document — fine at typical document lengths (300 chars →
    ~10⁵ byte touches), quadratic-blowup at book length. Measured
    (BASELINE.md, 4 docs/length, selection SETS
    certified identical by xxhash set-hash): doc length 16k/64k/256k chars
    → unchunked 1.2/11.2/170.7 s vs chunked 2.3/2.1/6.5 s — ~15× more time
    per 4× length unchunked (the chunked fixed overhead only pays for
    itself past ~30k chars; below that both are sub-second per doc and the
    bound is moot). It is the default because the
    footgun is silent and the chunked result is selection-for-selection
    identical (tests/test_hash_kernel.py pins both against the kernel);
    pass max_chars=None
    only when documents are known-bounded and you want the absolutely
    minimal single-projection zero-shuffle plan (the chunked path adds one
    distinct shuffle to collapse cross-chunk duplicate selections —
    _cross_chunk_dedup=False skips it when a downstream distinct subsumes
    it, as fingerprint_overlap_pairs does). Documents are split into
    max_chars-sized chunks overlapping by w + k - 2 characters (per-gram
    seek ≤ max_chars → O(L · max_chars) total), positions stay GLOBAL (the
    pack uses off - 1 + local pos). Why exact: a window at global
    start s spans chars s .. s+w+k-2, and with that overlap every full
    window fits wholly inside exactly one chunk's emitted start range
    (chunk at offset o emits starts o .. o+max_chars-k-w+1; the next chunk
    begins at o+max_chars-k-w+2 — contiguous, no gap). A non-head chunk
    whose tail would truncate a window emits nothing for it (those windows
    belong to the previous chunk); the single-truncated-window rule for
    docs with < w k-grams applies only to the head chunk, which in that
    case IS the whole document.

    Parity: reference has no substring fingerprinting (closest is the
    whole-text dedup key, text_preprocessor.py drop_duplicates); this is
    graft-new 100TB-pipeline capability alongside MinHash/SimHash. The
    DuckDB twin (q48) recomputes the same selections via an independent
    formulation (row-exploded window SQL), and tests/test_dedup.py pins the
    per-string eager reference.
    """
    pw = _WINNOW_POS_W
    src = (df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
           .where(F.length("_t") >= k))
    if max_chars is None:
        chunks = src.select("id", F.lit(1).alias("off"), F.col("_t").alias("_c"))
        cross_chunk_dedup = False
    else:
        overlap = w + k - 2
        step = max_chars - overlap
        if step < 1:
            raise ValueError(f"max_chars must exceed w + k - 2 = {overlap}")
        chunks = (src.select(
                      "id",
                      F.explode(F.sequence(F.lit(1), F.length("_t"), F.lit(step)))
                      .alias("off"),
                      "_t")
                  .select("id", "off",
                          F.col("_t").substr(F.col("off"), F.lit(max_chars)).alias("_c"))
                  .where(F.length("_c") >= k))
        cross_chunk_dedup = _cross_chunk_dedup
    # per-chunk gram count, and the last emitted window start: head chunks
    # keep the short-doc truncated window (greatest(1, ...)); non-head
    # chunks emit full windows only — a sub-w tail is the previous chunk's
    # coverage, and emitting its truncated window would fabricate a window
    # the unchunked algorithm never forms
    chunks = chunks.withColumn("npos", F.length("_c") - (k - 1)).withColumn(
        "last",
        F.when(F.col("off") == 1,
               F.greatest(F.lit(1), F.col("npos") - (w - 1)))
        .otherwise(F.col("npos") - (w - 1)))
    # packed[i] (0-based i, GLOBAL position off-1+i+1): h * 2^32 + (2^32-1-pos)
    packed = F.transform(
        F.sequence(F.lit(1), F.col("npos")),
        lambda p: _kgram_hash(F.col("_c").substr(p, F.lit(k)), hash_fn) * pw
        + (F.lit(pw - 1) - (F.col("off") - 1 + p)))
    # window minimum as an unrolled least() over w element lookups: same
    # value as array_min(slice(_packed, s, w)) — packed entries are never
    # null, try_element_at past the end (only the short-doc truncated
    # window) yields nulls that least() skips, exactly like the truncated
    # slice — but with no per-window array allocation
    def _win_min(s):
        if w == 1:
            return F.try_element_at(F.col("_packed"), s)
        return F.least(*[F.try_element_at(F.col("_packed"), s + j)
                         for j in range(w)])

    sels = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.col("last")), _win_min))
    out = (chunks.where(F.col("last") >= 1)
           .withColumn("_packed", packed)
           .select("id", F.explode(sels).alias("m"))
           .select("id",
                   (F.lit(pw - 1) - F.col("m") % pw).alias("pos"),
                   F.expr(f"m DIV {pw}").alias("fp")))
    # two chunks can select the same (pos, fp) through different windows
    # near a boundary (within one chunk array_distinct already dedups)
    return out.distinct() if cross_chunk_dedup else out

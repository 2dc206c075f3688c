"""Dedup suite: exact, MinHash-LSH near-dup, SimHash, n-gram Jaccard,
embedding near-dup, and the end-to-end dedup operator."""

import pytest
from pyspark.sql import functions as F

from amharic_ecommerce_data_extractor_spark.operators import dedup as dd

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
    (2, "the quick brown fox jumps over the lazy cat"),          # near dup of 0
    (3, "completely unrelated text about spark engines"),
    (4, "completely unrelated text about spark engines here"),   # near dup of 3
    (5, "something else entirely different from all others"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_duplicates(spark, docs):
    rows = dd.exact_duplicates(docs).collect()
    assert len(rows) == 1
    assert rows[0]["n_copies"] == 2
    assert rows[0]["keep_id"] == 0
    assert rows[0]["all_ids"] == [0, 1]


def test_minhash_pairs(spark, docs):
    pairs = {(r["src"], r["dst"]): r["jaccard"]
             for r in dd.minhash_duplicate_pairs(docs, threshold=0.3).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.3 <= pairs[(0, 2)] < 1.0
    assert (3, 4) in pairs
    assert all(5 not in p for p in pairs)


def test_ngram_jaccard_pairs(spark, docs):
    pairs = {(r["src"], r["dst"]) for r in dd.ngram_jaccard_pairs(docs, n=2, threshold=0.4).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs


def test_simhash_identical_for_same_text(spark, docs):
    groups = dd.simhash_duplicates(docs).collect()
    assert any(g["ids"] == [0, 1] or set([0, 1]) <= set(g["ids"]) for g in groups)


def test_simhash_is_deterministic_bitstring(spark, docs):
    fps = docs.select(dd.simhash64(F.col("text")).alias("h")).collect()
    again = docs.select(dd.simhash64(F.col("text")).alias("h")).collect()
    assert [r["h"] for r in fps] == [r["h"] for r in again]
    assert all(len(r["h"]) == 64 and set(r["h"]) <= {"0", "1"} for r in fps)
    # near-dup texts have small Hamming distance, unrelated texts large
    h = {r["doc_id"]: r["h"] for r in
         docs.select("doc_id", dd.simhash64(F.col("text")).alias("h")).collect()}
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))
    assert ham(h[0], h[2]) < ham(h[0], h[3])


def test_embedding_duplicate_pairs(spark):
    import random

    rng = random.Random(42)
    base = [rng.gauss(0, 1) for _ in range(64)]
    near = [x + rng.gauss(0, 0.01) for x in base]
    far = [rng.gauss(0, 1) for _ in range(64)]
    df = spark.createDataFrame(
        [(0, [float(x) for x in base]), (1, [float(x) for x in near]),
         (2, [float(x) for x in far])],
        "vec_id long, embedding array<float>")
    pairs = {(r["src"], r["dst"]) for r in dd.embedding_duplicate_pairs(df, threshold=0.99).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_dedup_end_to_end(spark, docs):
    kept = sorted(r["doc_id"] for r in dd.dedup(docs, threshold=0.3).collect())
    # 0/1/2 collapse to 0; 3/4 collapse to 3; 5 stays
    assert kept == [0, 3, 5]


def test_degenerate_texts_shingle_and_dedup(spark):
    """Null, empty and blank texts have a shingle, so they get a MinHash
    signature like any other text: null and blank texts share one and band
    together. Pins the shingle sizes and the dedup/pair results on them."""
    from amharic_ecommerce_data_extractor_spark.operators.linking import (
        char_shingles,
    )

    texts = ["", "   ", None, "\t\n", "red shoe sale today", "ሃሎ"]
    df = spark.createDataFrame(list(enumerate(texts, start=1)),
                               "doc_id long, text string")
    with_a = df.unionByName(spark.createDataFrame([(7, "a")], df.schema))
    sizes = with_a.select(F.size(char_shingles(F.col("text"))).alias("c"),
                          F.size(dd.word_shingles(F.col("text"))).alias("w"))
    assert all(r["c"] >= 1 and r["w"] >= 1 for r in sizes.collect())

    for hash_fn in ("xxhash64", "md5"):
        kept = sorted(r["doc_id"] for r in dd.dedup(df, hash_fn=hash_fn).collect())
        assert kept == [1, 4, 5, 6], hash_fn
    pairs = {(r["src"], r["dst"], r["jaccard"])
             for r in dd.minhash_duplicate_pairs(df).collect()}
    assert pairs == {(1, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0)}


def test_dedup_survivors_equal_cc_over_clique_pairs(spark):
    """dedup() bands in 'star' mode (O(cluster) candidate edges); its
    survivors must equal the component minima of connected components over
    the full clique of verified pairs (minhash_duplicate_pairs) on the same
    exact-deduped frame."""
    from amharic_ecommerce_data_extractor_spark.operators.linking import (
        connected_components,
    )

    # 3 near-dup clusters (sizes 30, 20, 10; 4 distinct texts each after
    # exact dedup) + 15 unique docs
    rows = []
    i = 0
    for size, base in ((30, "alpha beta gamma delta epsilon"),
                       (20, "one two three four five six"),
                       (10, "red green blue cyan magenta")):
        for k in range(size):
            rows.append((i, base + ("" if k == 0 else f" tail{k % 3}")))
            i += 1
    for k in range(15):
        rows.append((i, f"unique document number {k} with words {k * 7} {k * 13}"))
        i += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = (df.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
             .select("doc_id", "text"))
    clique = dd.minhash_duplicate_pairs(exact, threshold=0.5)
    assert clique.count() > 0
    comp = {r["node"]: r["component"] for r in
            connected_components(clique.select("src", "dst")).collect()}
    want = sorted(r["doc_id"] for r in exact.collect()
                  if comp.get(r["doc_id"], r["doc_id"]) == r["doc_id"])
    got = sorted(r["doc_id"] for r in dd.dedup(df, threshold=0.5).collect())
    assert got == want
    assert len(got) == 3 + 15


def test_dedup_job_budget(spark, sf_dir):
    """dedup() over the sf0.001 documents runs its exact window, one MinHash
    barrier, the star banding + verify, connected components and the
    keep-lowest-id window in at most 14 jobs, call and collect together."""
    from tests.test_checkpoint_lineage import _jobs_in_group

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = []
    n_jobs = _jobs_in_group(spark, "dedup-budget",
                            lambda: kept.extend(dd.dedup(docs).collect()))
    assert 0 < len(kept) <= docs.count()
    assert n_jobs <= 14, n_jobs


def test_star_candidate_edges_linear_in_cluster_size(spark):
    """A 10k-member duplicate cluster must emit exactly n-1 candidate edges
    in star mode (the clique would emit ~5*10^7) — the property that keeps
    CC-based dedup alive on corpora with mega-duplicate clusters."""
    from pyspark.sql import functions as F

    from amharic_ecommerce_data_extractor_spark.operators.linking import (
        banded_candidate_pairs,
        minhash_signature,
    )

    n = 10_000
    df = spark.range(n).select(
        F.col("id").alias("nid"),
        F.array(F.lit("alpha beta gamma"), F.lit("beta gamma delta")).alias("shingles"))
    sig_df = df.withColumn("minhash",
                           minhash_signature(F.col("shingles"), 16)).localCheckpoint()
    star = banded_candidate_pairs(sig_df, bands=8, rows=2, pair_mode="star")
    assert star.count() == n - 1
    # every edge is hub -> member with the hub the global min id here
    assert star.agg(F.max("src")).first()[0] == 0


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS): parity vs an independent per-string Python
# reference, the substring-match guarantee, and the stop-fingerprint cap.
# ---------------------------------------------------------------------------

_WMOD = 2147483647


def _ref_winnow(text, k=5, w=8):
    """Independent eager winnowing (Schleimer et al. 2003, Fig. 5 semantics:
    per window of w k-gram hashes select the min, rightmost on ties)."""
    import hashlib

    n = len(text) - k + 1
    if n < 1:
        return set()
    hs = [int(hashlib.md5(text[i:i + k].encode()).hexdigest()[:15], 16) % _WMOD
          for i in range(n)]
    sel = set()
    for s in range(max(1, n - w + 1)):
        window = hs[s:s + w]
        m = min(window)
        idx = max(i for i, v in enumerate(window) if v == m)
        sel.add((s + idx + 1, m))  # 1-based position
    return sel


WINNOW_DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "pack my box with five dozen liquor jugs, the quick brown fox jumps over it"),
    (2, "ሱቅ ዋጋ 1000 ብር አዲስ አበባ ውስጥ የሚሸጥ ስልክ"),   # multi-byte chars
    (3, "short"),                                          # fewer than w k-grams
    (4, "abcd"),                                           # shorter than k: no grams
    (5, "aaaaaaaaaaaaaaaaaaaa"),                           # all-tied hashes
]


def test_winnowing_matches_reference_implementation(spark):
    df = spark.createDataFrame(WINNOW_DOCS, "doc_id long, text string")
    got = {}
    for r in dd.winnowing_fingerprints(df, hash_fn="md5").collect():
        got.setdefault(r["id"], set()).add((r["pos"], r["fp"]))
    for i, t in WINNOW_DOCS:
        assert got.get(i, set()) == _ref_winnow(t), f"doc {i}"


def test_winnowing_tie_rule_picks_rightmost(spark):
    # all k-grams of 'aaaa...' are identical → every window's min is tied;
    # rightmost-on-ties: window start s (1..n-w+1) selects position s+w-1,
    # NOT a run of position-1 re-selections collapsing to one fingerprint
    df = spark.createDataFrame([(0, "a" * 30)], "doc_id long, text string")
    rows = dd.winnowing_fingerprints(df, k=5, w=8, hash_fn="md5").collect()
    poss = sorted(r["pos"] for r in rows)
    assert len(set(r["fp"] for r in rows)) == 1
    assert poss == list(range(8, 27))  # n=26 k-grams, starts 1..19 → pos 8..26


def test_winnowing_guarantee_shared_substring(spark):
    # any shared substring of length >= w + k - 1 (=12) must share >= 1 fp
    shared = "zq9xv7wkp3mt"  # 12 chars, unlikely elsewhere
    df = spark.createDataFrame(
        [(0, "prefix one " + shared + " tail A"),
         (1, "completely different beginning " + shared)],
        "doc_id long, text string")
    fps = {}
    for r in dd.winnowing_fingerprints(df, k=5, w=8, hash_fn="md5").collect():
        fps.setdefault(r["id"], set()).add(r["fp"])
    assert fps[0] & fps[1]


def test_fingerprint_overlap_pairs_and_stop_fp_cap(spark):
    boiler = "this exact boilerplate sentence appears in every document here"
    rows = [(i, boiler) for i in range(10)]
    rows += [(100, "unique pair text alpha beta gamma delta epsilon zeta"),
             (101, "unique pair text alpha beta gamma delta epsilon zeta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # max_df=5: the 10-copy boilerplate's fingerprints are stop-fps → no
    # pairs among docs 0-9; the 2-copy unique pair survives
    pairs = {(r["src"], r["dst"]) for r in
             dd.fingerprint_overlap_pairs(df, min_shared=3, max_df=5,
                                          hash_fn="md5").collect()}
    assert pairs == {(100, 101)}
    # with the cap lifted the clique comes back
    pairs_all = {(r["src"], r["dst"]) for r in
                 dd.fingerprint_overlap_pairs(df, min_shared=3, max_df=100,
                                              hash_fn="md5").collect()}
    assert (0, 1) in pairs_all and (100, 101) in pairs_all
    assert len(pairs_all) == 45 + 1


def test_winnowing_prod_hash_same_positions_structure(spark):
    # xxhash64 variant: same structural invariants (valid positions, density
    # bound: at most one selection per window start)
    df = spark.createDataFrame(WINNOW_DOCS, "doc_id long, text string")
    rows = dd.winnowing_fingerprints(df, k=5, w=8).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["id"], []).append(r)
    for i, t in WINNOW_DOCS:
        n = len(t) - 4
        if n < 1:
            assert i not in by_doc
            continue
        sels = by_doc[i]
        assert all(1 <= r["pos"] <= n for r in sels)
        assert len(sels) <= max(1, n - 7)


def random_winnow_docs():
    """60 seeded random docs: ASCII + Ethiopic + punctuation mix, lengths
    0..120."""
    import random

    rng = random.Random(42)
    alphabet = "ab cde ፩፪፻ ብርዋጋ .!?,;:# @xyz0123"
    return [(i, "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 121))))
            for i in range(60)]


def test_winnowing_randomized_batch_parity(spark):
    # the random docs through ONE Spark job, each compared exactly to the
    # eager reference — the fuzz complement to the fixed edge cases above
    docs = random_winnow_docs()
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {}
    for r in dd.winnowing_fingerprints(df, hash_fn="md5").collect():
        got.setdefault(r["id"], set()).add((r["pos"], r["fp"]))
    for i, t in docs:
        assert got.get(i, set()) == _ref_winnow(t), f"doc {i}: {t!r}"


def test_winnowing_positions_beyond_2_20_exact(spark):
    # regression: with a 2^20 packing width, positions past 1,048,575
    # underflowed the pack (fp decoded as hash-1, pos wrapped). The 2^32
    # width makes every representable document exact — pin it with a
    # 1.06M-char doc compared selection-for-selection to the eager reference.
    import random

    rng = random.Random(99)
    text = "".join(rng.choice("abcdefgh ij") for _ in range(1_060_000))
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    got = {(r["pos"], r["fp"])
           for r in dd.winnowing_fingerprints(df, hash_fn="md5").collect()}
    exp = _ref_winnow(text)
    assert got == exp
    assert max(p for p, _ in got) > (1 << 20)  # the test actually crosses it


def test_dedup_winnowing_method(spark):
    """dedup(method='winnowing'): a doc sharing a long verbatim run with
    another collapses to one survivor (lowest id); vocabulary overlap alone
    stays below the min_shared bar."""
    from amharic_ecommerce_data_extractor_spark.operators.dedup import dedup

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    copied = "INTRO " + base + " OUTRO"               # verbatim containment
    reordered = " ".join(reversed(base.split()))       # same words, new runs
    distinct = "completely different content with no overlap whatsoever here"
    rows = [(1, base), (2, copied), (3, reordered), (4, distinct), (5, base)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    kept = sorted(r.doc_id for r in dedup(df, method="winnowing",
                                          winnow_min_shared=8).collect())
    # 5 is an exact dup of 1 (dropped); 2 contains the whole base verbatim —
    # 13 shared fingerprints with 1 (dropped); 3's reordering keeps only the
    # word-level 5-grams of the shared vocabulary — 5 shared fingerprints,
    # below the bar (kept); 4 kept. min_shared is what separates run-level
    # copying from mere vocabulary overlap.
    assert kept == [1, 3, 4]

    with pytest.raises(ValueError, match="method"):
        dedup(df, method="nope")


def test_curate_winnowing_method(spark):
    from amharic_ecommerce_data_extractor_spark.operators.curation import curate

    base = ("useful document body with enough words to pass the quality and "
            "length filters applied by the curation pipeline stage")
    rows = [(1, base, "a"), (2, "HDR " + base, "a"),
            (3, "another perfectly reasonable standalone document with plenty "
                "of distinct words in it", "b")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    curated, audit = curate(docs, min_quality=0.0, min_tokens=1,
                            dedup_method="winnowing")
    assert sorted(r.doc_id for r in curated.collect()) == [1, 3]
    stages = {r.stage: r.rows_surviving for r in audit.collect()}
    assert stages["input"] == 3 and stages["dedup"] == 2

"""Incremental deduplication against a persistent fingerprint index.

The batch operators in :mod:`.dedup` answer "dedup THIS corpus"; at
10^12-file scale the corpus is never re-processed — new batches arrive and
must be deduplicated against everything already accepted WITHOUT touching
the accepted documents' text again. This module holds the state needed for
that as a compact two-table fingerprint index (tens of bytes per document
— the text itself never enters the index) and implements the standard
greedy online policy: first arrival wins, later near/exact copies are
dropped. (Greedy is the only causally consistent policy — an already
published document cannot be retracted when a "better" representative
arrives later; it is what production training-data pipelines do.)

Index tables (all written BUCKETED so the per-batch joins shuffle only the
small batch side — the 10^12-row index side is pre-partitioned on disk and
never moves; see :class:`DedupIndex`):

* ``sigs``   (id, minhash)   bucketed by id   — MinHash signature lookup
* ``bands``  (bkey, id)      bucketed by bkey — LSH candidate generation;
  bkey = hash(band index, band slice) folded into ONE column so every
  index-side join is single-key (bucket co-location requires the join key
  to equal the bucket key).

Exact copies need no table of their own: identical text has identical
shingles, hence an identical signature, so every band key collides with
the indexed copy and the signature agreement is 1.0 ≥ threshold.

Cross-batch near-duplicate decisions use the MinHash signature AGREEMENT
estimator (fraction of equal signature positions; E[agreement] = Jaccard)
rather than exact shingle Jaccard: the index deliberately does not store
shingle sets (they are the size of the corpus). Estimator granularity is
1/num_hashes — at the default 16 hashes a 0.7 threshold really tests
"≥ 12/16 positions agree"; production deployments should size num_hashes
to 64–128 (Broder's bound: stderr ≈ sqrt(j(1-j)/num_hashes)).

Within a batch, full exact+near dedup runs first (the batch's text IS in
hand, so the same exact-Jaccard machinery as :func:`dedup.dedup` applies —
built from the shared linking primitives over ONE fingerprint pass), so a
chain  indexed_doc ≈ batch_doc_A ≈ batch_doc_B  drops both batch docs: A
and B merge intra-batch, and the surviving representative is then caught
by the index check — matching what whole-corpus connected components would
have done. The one intentional divergence from whole-corpus CC: two batch
documents whose ONLY link is through a sub-threshold indexed document stay
separate (transitivity through the index is not replayed; the index keeps
no edges).

No reference-repo analogue (the reference processes a fixed scrape,
``data_ingestion.py`` end-to-end); this is graft-new scale capability in
the spirit of SURVEY.md §2's dedup suite.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from .dedup import word_shingles
from .linking import (
    band_keys,
    banded_candidate_pairs,
    first_per,
    label_components,
    minhash_rows,
)


@dataclass
class IndexRows:
    """The two index-table row sets for one accepted batch (or a whole
    loaded index). ``sigs``: (id, minhash); ``bands``: (bkey, id)."""

    sigs: DataFrame
    bands: DataFrame

    def union(self, other: "IndexRows") -> "IndexRows":
        return IndexRows(
            sigs=self.sigs.unionByName(other.sigs),
            bands=self.bands.unionByName(other.bands),
        )


def _folded_band_keys(sig_col, bands: int, rows: int):
    """array<bkey>: the per-band LSH keys with the band index folded into
    the key itself (single join/bucket column; collisions across bands are
    harmless — candidates are verified by signature agreement anyway)."""
    return F.transform(band_keys(sig_col, bands, rows),
                       lambda s: F.xxhash64(s["band"], s["sig"]))


def _fingerprint_rows(docs: DataFrame, id_col: str, text_col: str,
                      shingle_words: int, bands: int, rows: int) -> DataFrame:
    """ONE pass over the text — (id, fp, shingles, minhash): sha256 rides
    along linking.minhash_rows' single projection and barrier. Shingles
    ride along for the BATCH-local exact-Jaccard verify only; they are
    dropped before anything reaches the index. Every row has a minhash:
    null and blank texts share one (see linking.minhash_rows), so a later
    null or blank arrival is caught by the index like any exact copy."""
    fp = F.sha2(F.col(text_col), 256).alias("fp")
    return minhash_rows(docs, id_col, word_shingles(F.col(text_col), shingle_words),
                        bands, rows, "xxhash64", fp).select(
        F.col("nid").alias("id"), "fp", "shingles", "minhash")


def _to_index_rows(fpr: DataFrame, bands: int, rows: int) -> IndexRows:
    """Project fingerprint rows (id, minhash, ...) down to the two
    index-table row sets — a column drop plus the band explode; no text
    re-hashing."""
    return IndexRows(
        sigs=fpr.select("id", "minhash"),
        bands=fpr.select(
            F.explode(_folded_band_keys(F.col("minhash"), bands, rows)).alias("bkey"),
            F.col("id"),
        ),
    )


def index_rows(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
               shingle_words: int = 3, bands: int = 8, rows: int = 2) -> IndexRows:
    """Compute the fingerprint-index rows for a set of ACCEPTED documents
    (bootstrap/backfill path; :func:`incremental_dedup` derives the same
    rows from its in-flight fingerprints without re-reading the text)."""
    return _to_index_rows(
        _fingerprint_rows(docs, id_col, text_col, shingle_words, bands, rows),
        bands, rows)


def sig_agreement(a, b):
    """Fraction of equal positions between two equal-length MinHash
    signatures — the unbiased Jaccard estimator (numeric HOF fold: fast
    JVM path, no Python)."""
    return (
        F.aggregate(
            F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0)),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.size(a)
    )


def incremental_dedup(
    batch: DataFrame,
    index: IndexRows | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    shingle_words: int = 3,
    bands: int = 8,
    rows: int = 2,
) -> tuple[DataFrame, IndexRows]:
    """Greedy online dedup of one arriving batch.

    Returns ``(kept, additions)``: the accepted documents (original batch
    schema) and their :class:`IndexRows`, which the caller appends to the
    persistent index (:meth:`DedupIndex.append`) — or unions with the
    in-memory index when folding in one job. ``index=None`` bootstraps
    from the first batch. One ``(shingle_words, bands, rows)`` setting
    holds for a whole index: signatures and band keys computed under
    another are not comparable, and the index does not record it.

    Order of operations (see module docstring for why):
      1. full intra-batch dedup — same semantics as :func:`dedup.dedup`
         (exact sha256 keep-min-id, then MinHash-LSH candidates verified by
         EXACT Jaccard on the in-hand shingles, connected components, one
         representative per component);
      2. drop survivors whose signature agreement with ANY banded index
         candidate is ≥ threshold — exact copies of indexed documents
         included, at agreement 1.0;
      3. the remainder is kept; its index rows are the additions.

    The text is fingerprinted EXACTLY ONCE: one projection computes
    sha256 + shingles + minhash behind a checkpoint barrier; the intra-batch
    dedup, the index check, and the additions are all id/array joins over
    those fingerprints (shingles never leave the batch scope).

    Scale shape: every index-side join is a single-key equi join against a
    table bucketed on exactly that key — only the batch side shuffles
    (pinned by tests/test_incremental_dedup.py via join_exchange_count).
    Candidate pairs carry ids only; signatures rejoin by id afterwards."""
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold!r}")
    fpr = _fingerprint_rows(batch, id_col, text_col, shingle_words, bands, rows)

    # 1a. exact intra-batch: lowest id per sha256 ('star' banding below can
    # fragment a cluster, so this window is what merges identical texts;
    # null texts share the null fp group — the dedup() convention)
    exact_kept = first_per(fpr, "fp", "id")

    # 1b. near intra-batch: LSH candidates ('star' edges, as dedup.dedup)
    # + exact-Jaccard verify on the in-hand shingles → CC → keep the lowest
    # id per component
    sig_df = exact_kept.select(F.col("id").alias("nid"), "shingles", "minhash")
    pairs = (banded_candidate_pairs(sig_df, bands, rows, pair_mode="star")
             .where(F.col("sim") >= threshold))
    # materialize the representatives ONCE: they feed the index check, the
    # additions, and the kept semi-join — left lazy, the LSH + CC DAG would
    # re-execute per consumer
    rep_rows = (first_per(label_components(exact_kept, "id", pairs),
                          "component", "id")
                .drop("component").localCheckpoint())

    rows_rep = _to_index_rows(rep_rows, bands, rows)
    if index is None:
        kept = batch.join(rep_rows.select(F.col("id").alias(id_col)),
                          id_col, "semi")
        return kept, rows_rep

    # 2. membership: banded candidates (ids only) → signature rejoin →
    #    agreement estimate. dropDuplicates BEFORE the sig join: a pair
    #    colliding in several bands is estimated once.
    cand = (rows_rep.bands.withColumnRenamed("id", "bid")
            .join(index.bands.withColumnRenamed("id", "iid"), "bkey")
            .select("bid", "iid").dropDuplicates(["bid", "iid"]))
    hit = (
        cand.join(rows_rep.sigs.select(F.col("id").alias("bid"),
                                       F.col("minhash").alias("sig_b")), "bid")
        .join(index.sigs.select(F.col("id").alias("iid"),
                                F.col("minhash").alias("sig_i")), "iid")
        .where(sig_agreement(F.col("sig_b"), F.col("sig_i")) >= threshold)
        .select(F.col("bid").alias("id")).distinct()
    )

    # materialize the dropped-id set: (a) the index probe runs ONCE, not
    # once per consumer below; (b) CRITICALLY, it severs `kept` and the
    # additions from the live index tables — when `index` came from
    # DedupIndex.load(), a lazy `dropped` re-evaluated AFTER
    # DedupIndex.append() finds the batch's own rows there, every kept doc
    # agrees 1.0 with itself, and kept and additions come out EMPTY (silent
    # loss; regression-pinned by tests reading both after append)
    dropped = hit.localCheckpoint()
    kept_ids = rep_rows.select("id").join(dropped, "id", "anti")
    kept = batch.join(kept_ids.withColumnRenamed("id", id_col), id_col, "semi")
    additions = IndexRows(
        sigs=rows_rep.sigs.join(dropped, "id", "anti"),
        bands=rows_rep.bands.join(dropped, "id", "anti"),
    )
    return kept, additions


class DedupIndex:
    """Persistent bucketed storage for the fingerprint index.

    Two catalog tables (``{name}_sigs/_bands``), each written with
    ``bucketBy(n_buckets, key).sortBy(key)`` on its single join key. The
    write pays the partitioning shuffle once; every later batch joins
    against the index with no exchange on the index side, and the sort
    lets the SortMergeJoin read the bucketed scan without sorting it.
    Appends are plain bucketed appends, no rewrite of existing files.

    Bucketing requires a catalog table: a bare ``parquet(path)`` write
    drops the bucket spec, and so does a path read, so the tables are
    written with ``saveAsTable`` and read back with ``spark.table``. Two
    bucketed sides join without a shuffle only when both use the same N.

    n_buckets sizing: index rows are tens of bytes, so buckets ≈
    total_docs × ~200 B ÷ (128–512 MB target file size); the default 8
    suits the sandbox's test scale only.
    """

    def __init__(self, spark: SparkSession, name: str, n_buckets: int = 8):
        self.spark = spark
        self.name = name
        self.n_buckets = n_buckets

    def _tables(self) -> list[tuple[str, str, str]]:
        return [("sigs", f"{self.name}_sigs", "id"),
                ("bands", f"{self.name}_bands", "bkey")]

    def exists(self) -> bool:
        return all(self.spark.catalog.tableExists(t) for _, t, _ in self._tables())

    def append(self, additions: IndexRows) -> None:
        """Create-or-append the two tables (bucketed and sorted on each
        table's key; append preserves the bucket spec)."""
        mode = "append" if self.exists() else "overwrite"
        for attr, table, key in self._tables():
            (getattr(additions, attr).write.mode(mode)
             .bucketBy(self.n_buckets, key).sortBy(key).saveAsTable(table))
        self._refresh()

    def _refresh(self) -> None:
        """Invalidate cached table relations in this store's session. Table
        relation caches (the file listing) are PER SESSION STATE: an append
        executed by a different session — foreachBatch hands its handler a
        CLONED session, so streaming ingest is exactly this case — lands on
        disk and in the shared catalog, but this session keeps serving the
        stale pre-append file list until a refresh (probed: clone read N+1
        rows, owner read N until REFRESH TABLE)."""
        for _, table, _ in self._tables():
            if self.spark.catalog.tableExists(table):
                self.spark.catalog.refreshTable(table)

    def load(self) -> IndexRows:
        """Read the index back WITH bucket metadata (spark.table — a
        path read would drop the spec and re-shuffle every join).
        Refreshes first so appends committed by OTHER sessions (streaming
        epochs) are visible — see :meth:`_refresh`."""
        self._refresh()
        t = {attr: self.spark.table(table) for attr, table, _ in self._tables()}
        return IndexRows(**t)

    def drop(self) -> None:
        for _, table, _ in self._tables():
            self.spark.sql(f"DROP TABLE IF EXISTS {table}")

"""Streaming dedup-on-ingest against the persistent fingerprint index
(streaming/stream.py streaming_incremental_dedup): cross-restart memory and
the foreachBatch replay matrix (exactly-once output, at-least-once index
appends with benign duplicates)."""

import os

from pyspark.sql import Row

from amharic_ecommerce_data_extractor_spark.operators.incremental import DedupIndex
from amharic_ecommerce_data_extractor_spark.streaming.stream import (
    ingest_dedup_batch,
    streaming_incremental_dedup,
)


def _words(prefix: str, n: int = 60) -> str:
    return " ".join(f"{prefix}w{i}" for i in range(n))


def _msgs(spark, rows):
    return spark.createDataFrame(
        [Row(message_id=i, content=t) for i, t in rows])


def _kept_ids(spark, out):
    return sorted(r.message_id
                  for r in spark.read.parquet(out).select("message_id").collect())


def test_streaming_incremental_dedup_remembers_across_restarts(spark, tmp_path):
    src, out, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    store = DedupIndex(spark, "t_stream_incr_idx", n_buckets=8)
    store.drop()
    try:
        _msgs(spark, [(1, _words("a")), (2, _words("b"))]).write.parquet(src)
        schema = "message_id long, content string"
        streaming_incremental_dedup(
            spark.readStream.schema(schema).parquet(src), store, out, ck)
        assert _kept_ids(spark, out) == [1, 2]

        # restart with new arrivals: an exact replay of doc 1's content, a
        # near-dup of doc 2's, and fresh content — only the fresh one lands,
        # even though the STREAM state was torn down between runs (the
        # memory is the index, not the state store)
        near_b = _words("b").rsplit(" ", 1)[0] + " CHANGED"
        _msgs(spark, [(11, _words("a")), (12, near_b), (13, _words("c"))]
              ).write.mode("append").parquet(src)
        streaming_incremental_dedup(
            spark.readStream.schema(schema).parquet(src), store, out, ck)
        assert _kept_ids(spark, out) == [1, 2, 13]

        # near-dup memory must accumulate in ALL index tables across
        # batches (not just exact): a third restart with a near-dup of the
        # SECOND run's survivor must drop it, which requires doc 13's sigs
        # and bands to have landed in the index
        idx = store.load()
        assert sorted(r.id for r in idx.sigs.collect()) == [1, 2, 13]
        assert sorted(set(r.id for r in idx.bands.collect())) == [1, 2, 13]
        near_c = _words("c").rsplit(" ", 1)[0] + " TAIL"
        _msgs(spark, [(21, near_c)]).write.mode("append").parquet(src)
        streaming_incremental_dedup(
            spark.readStream.schema(schema).parquet(src), store, out, ck)
        assert _kept_ids(spark, out) == [1, 2, 13]
    finally:
        store.drop()


def test_ingest_batch_replay_matrix(spark, tmp_path):
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(ck)
    store = DedupIndex(spark, "t_replay_idx", n_buckets=8)
    store.drop()
    try:
        b0 = _msgs(spark, [(1, _words("a")), (2, _words("b"))])
        ingest_dedup_batch(b0, 0, store, out, ck)
        n_sigs = store.load().sigs.count()
        assert _kept_ids(spark, out) == [1, 2] and n_sigs == 2

        # committed batch replays are full no-ops
        ingest_dedup_batch(b0, 0, store, out, ck)
        assert store.load().sigs.count() == n_sigs
        assert _kept_ids(spark, out) == [1, 2]

        # crash between index append and idx marker: output must not change
        # (exactly-once), the index may gain duplicate rows (at-least-once)
        os.remove(os.path.join(ck, "idx_0"))
        ingest_dedup_batch(b0, 0, store, out, ck)
        assert _kept_ids(spark, out) == [1, 2]
        assert store.load().sigs.count() == 2 * n_sigs

        # duplicate index rows are benign: a later batch still drops its
        # duplicate exactly once and keeps fresh content
        b1 = _msgs(spark, [(3, _words("a")), (4, _words("d"))])
        ingest_dedup_batch(b1, 1, store, out, ck)
        assert _kept_ids(spark, out) == [1, 2, 4]

        # crash between output write and index append (out marker present,
        # idx absent): replay reads the survivors back and appends their
        # fingerprints without recomputing the dedup
        os.remove(os.path.join(ck, "idx_1"))
        before = store.load().sigs.count()
        ingest_dedup_batch(b1, 1, store, out, ck)
        assert _kept_ids(spark, out) == [1, 2, 4]
        assert store.load().sigs.count() == before + 1  # doc 4 re-appended
    finally:
        store.drop()

"""Structured Streaming variants of the pipeline (the reference is all batch
— SURVEY.md §2.11; this is the file-arrival incremental mode the engine adds).

The extraction operator is stateless, so the SAME fused arrow_udf kernel
runs unchanged on a streaming DataFrame; triple emission is stateless too.
Windowed vendor activity uses event-time windows + watermark for late data;
the running per-vendor totals are a built-in streaming aggregation in update
mode (no Python state function).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..data.synthetic import MESSAGE_SCHEMA
from ..operators.extract import extract_entities
from ..operators.triples import emit_triples


def read_message_stream(spark: SparkSession, input_dir: str,
                        max_files_per_trigger: int = 16) -> DataFrame:
    return (spark.readStream.schema(MESSAGE_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


def streaming_triples(messages: DataFrame) -> DataFrame:
    """Stateless stream: content → entities → triples, incrementally."""
    return emit_triples(extract_entities(messages))


def windowed_vendor_activity(messages: DataFrame, window: str = "1 day",
                             watermark: str = "2 days") -> DataFrame:
    """Event-time tumbling-window post counts per vendor with late-data
    handling (watermark bounds state)."""
    return (
        messages.withWatermark("message_date", watermark)
        .groupBy(F.window("message_date", window).alias("w"), F.col("repo").alias("vendor"))
        .agg(F.count("*").alias("n_posts"),
             F.sum(F.coalesce("views", F.lit(0))).alias("views"))
        .select(F.col("w.start").alias("window_start"), "vendor", "n_posts", "views")
    )


def run_stream_once(messages: DataFrame, out_dir: str, checkpoint_dir: str,
                    mode: str = "append"):
    """Drain all available input (Trigger.AvailableNow) into parquet and
    stop — the batch-parity execution mode used in tests; in production the
    same query runs continuously."""
    q = (messages.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode(mode)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def stateful_vendor_totals(messages: DataFrame) -> DataFrame:
    """Per-vendor running totals (n_posts, total_views, last_seen) across
    micro-batches — the incremental twin of the scorecard's per-vendor
    counters. A built-in streaming aggregation: count, sum and max are
    algebraic, so Spark combines them map-side and keeps one small state row
    per vendor (bounded). Run it in update mode
    (:func:`run_stream_once_foreach`): each trigger emits the vendors it
    touched. max ignores nulls, so a trigger whose timestamps are all null
    leaves last_seen as it was."""
    return (messages.groupBy(F.col("repo").alias("vendor"))
            .agg(F.count(F.lit(1)).alias("n_posts"),
                 F.sum(F.coalesce("views", F.lit(0))).alias("total_views"),
                 F.max("message_date").alias("last_seen")))


def run_stream_once_foreach(df: DataFrame, out_dir: str, checkpoint_dir: str):
    """Drain an update-mode stream (e.g. stateful operators) into parquet via
    foreachBatch append — parquet has no native update sink."""
    q = (df.writeStream
         .foreachBatch(lambda batch, _id: batch.write.mode("append").parquet(out_dir))
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("update")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def streaming_exact_dedup(messages: DataFrame, watermark: str = "2 days",
                          text_col: str = "content",
                          event_time_col: str = "message_date") -> DataFrame:
    """Dedup-on-ingest: drop exact-content duplicates incrementally.

    Representative rule differs from the batch twin by necessity:
    operators.dedup.exact_duplicates keeps the LOWEST-id row per content
    (deterministic, order-free), while a stream can only keep the
    FIRST-ARRIVING row — under out-of-order ingest the two paths may keep
    different representatives of the same content. Downstream logic keyed on
    the surviving row id must not assume they agree; content-keyed logic is
    unaffected.

    Shape: sha256(content) is the dedup key — uniformly distributed, no
    skew — and `dropDuplicatesWithinWatermark` keeps one row per key while
    the watermark BOUNDS THE STATE: a key older than the watermark is
    evicted, so state size is O(arrival rate × watermark), not O(corpus).
    That is the standard 100 TB ingest pattern — exact global dedup is the
    batch job's responsibility (operators.dedup), the stream guards the
    door against replays/reposts inside the watermark horizon.

    Late-data caveat (standard watermark semantics, easy to trip in tests):
    rows whose event time is already older than the advanced watermark are
    DROPPED entirely, not just un-deduplicated — size the watermark to the
    real arrival skew (event-time lag), not to the dedup horizon you wish
    for.
    """
    return (messages
            .withColumn("_fp", F.sha2(F.col(text_col), 256))
            .withWatermark(event_time_col, watermark)
            .dropDuplicatesWithinWatermark(["_fp"])
            .drop("_fp"))


def ingest_dedup_batch(batch: DataFrame, batch_id: int, store, out_dir: str,
                       checkpoint_dir: str, id_col: str = "message_id",
                       text_col: str = "content", **dedup_kw) -> None:
    """One micro-batch of :func:`streaming_incremental_dedup` (module-level
    so the replay matrix is unit-testable — see that docstring for the
    marker-pair semantics)."""
    import os

    from ..operators.incremental import incremental_dedup, index_rows

    spark = batch.sparkSession

    def _mark(name: str) -> None:
        tmp = os.path.join(checkpoint_dir, name + ".tmp")
        open(tmp, "w").close()
        os.replace(tmp, os.path.join(checkpoint_dir, name))

    idx_marker = os.path.join(checkpoint_dir, f"idx_{batch_id}")
    out_marker = os.path.join(checkpoint_dir, f"out_{batch_id}")
    batch_dir = os.path.join(out_dir, f"ingest_batch={batch_id}")
    if os.path.exists(idx_marker):
        return
    if os.path.exists(out_marker):
        kept_back = spark.read.parquet(batch_dir)
        adds = index_rows(kept_back, id_col=id_col, text_col=text_col,
                          **{k: v for k, v in dedup_kw.items()
                             if k in ("shingle_words", "bands", "rows")})
    else:
        idx = store.load() if store.exists() else None
        kept, adds = incremental_dedup(batch, idx, id_col=id_col,
                                       text_col=text_col, **dedup_kw)
        kept.write.mode("overwrite").parquet(batch_dir)
        _mark(f"out_{batch_id}")
    store.append(adds)
    _mark(f"idx_{batch_id}")


def streaming_incremental_dedup(messages: DataFrame, store, out_dir: str,
                                checkpoint_dir: str,
                                id_col: str = "message_id",
                                text_col: str = "content",
                                **dedup_kw):
    """Dedup-on-ingest against the PERSISTENT fingerprint index
    (operators.incremental): each micro-batch is deduplicated exact+near
    against everything ever accepted — across restarts, across streams —
    with the state in bucketed index tables on disk, not in the streaming
    state store. Complements :func:`streaming_exact_dedup`, whose watermark
    bounds its state by design and therefore forgets content older than the
    horizon; the index never forgets and costs tens of bytes per document.

    Per micro-batch (foreachBatch, driver-side orchestration):
      1. ``incremental_dedup(batch, store.load())`` — intra-batch dedup,
         then the band + signature-agreement check against the index;
      2. survivors land in ``out_dir/ingest_batch=<id>/`` (overwrite —
         idempotent for that batch id);
      3. their fingerprints append to the index;
      4. a commit marker for the batch id is recorded.

    Replay semantics (Spark re-runs a batch id whose epoch did not commit):
    the marker pair makes output EXACTLY-ONCE and the index append
    AT-LEAST-ONCE —
      * ``idx_<id>`` present → full no-op;
      * ``out_<id>`` present, ``idx_<id>`` absent → the survivors are
        already on disk (the marker is written only after the parquet
        commit); they are read back, their fingerprints recomputed and
        (re-)appended. A crash mid-append can thus duplicate index ROWS,
        never output rows — duplicates are benign by construction: the
        one index consumer is a candidate join that dropDuplicates
        (bid, iid) before the signature check;
      * neither → the full step 1–4 sequence. The critical ordering is
        output-before-append: recomputing ``kept`` AFTER a completed
        append would find every row already indexed and emit nothing,
        losing the batch.
    On Iceberg the two appends + marker collapse into one atomic
    multi-table commit and the at-least-once caveat disappears; the marker
    files mirror sources/checkpoint.py's manifest convention meanwhile.
    """
    import os

    os.makedirs(checkpoint_dir, exist_ok=True)

    def handle(batch: DataFrame, batch_id: int) -> None:
        ingest_dedup_batch(batch, batch_id, store, out_dir, checkpoint_dir,
                           id_col=id_col, text_col=text_col, **dedup_kw)

    q = (messages.writeStream
         .foreachBatch(handle)
         .option("checkpointLocation", os.path.join(checkpoint_dir, "spark"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q

"""Training-corpus curation pipeline (graft-added): the standard sequence a
100TB pretraining-data pipeline runs over a raw document pool —

    exact dedup → near-dup dedup (MinHash-LSH components)
    → language ID → quality scoring → length/token budget filters
    → per-source caps — with a full audit of what each step dropped.

Composes the engine's own primitives (operators.dedup, functions.textstats);
everything is hash-keyed shuffles and narrow column expressions — no Python.
The audit is observed on the stages themselves (``DataFrame.observe``), so
one action over the curated frame yields every stage's row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.window import Window

from ..functions import textstats as ts
from .dedup import dedup


def curate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    near_dup_threshold: float = 0.8,
    per_source_cap: int | None = None,
    source_col: str = "source",
    hash_fn: str = "xxhash64",
    dedup_method: str = "minhash",
    winnow_min_shared: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Returns (curated_docs, audit). audit: one row per stage with rows
    surviving — the per-stage lineage a data steward reads.
    hash_fn='md5' makes the near-dup stage cross-engine reproducible
    (see linking.minhash_signature). The near-dup stage is dedup.dedup:
    its MinHash candidate edges grow linearly in duplicate-cluster size.
    dedup_method='winnowing' swaps the near-dup edge source from MinHash
    resemblance to MOSS fingerprint overlap (verbatim-run containment —
    catches boilerplate-level copying; see dedup.dedup). NOTE:
    near_dup_threshold governs the MINHASH method only; the winnowing
    method is tuned by winnow_min_shared (its edge bar) and ignores it."""
    # One action fills the whole audit: each stage's output frame carries an
    # unnamed Observation counting its rows, and every stage feeds the
    # curated frame, so its persist+count runs every observed node (a node
    # that never ran would block Observation.get). An observation reports
    # the first action that runs it; for the input that can be one of
    # dedup's localCheckpoint barrier jobs. The input is not cached, so it
    # is read twice: by dedup's barrier job and by the final action.
    # spread's static gate leaves a caller-cached frame (and a well-split
    # scan) as it is.
    from .linking import spread

    stages: list[tuple[str, Observation]] = []

    def observed(name: str, df: DataFrame) -> DataFrame:
        obs = Observation()
        stages.append((name, obs))
        return df.observe(obs, F.count(F.lit(1)).alias("n"))

    docs = observed("input", spread(docs, id_col))
    deduped = observed("dedup", dedup(
        docs, id_col=id_col, text_col=text_col, threshold=near_dup_threshold,
        hash_fn=hash_fn, method=dedup_method,
        winnow_min_shared=winnow_min_shared))
    scored = deduped.withColumn("quality", ts.quality_score(F.col(text_col))) \
                    .withColumn("n_tokens", ts.whitespace_token_count(F.col(text_col))) \
                    .withColumn("script", ts.detect_script(F.col(text_col)))
    curated = observed("quality_and_length", scored.where(
        (F.col("quality") >= min_quality)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)))
    if per_source_cap is not None and source_col in docs.columns:
        w = Window.partitionBy(source_col).orderBy(F.desc("quality"), F.asc(id_col))
        curated = observed("per_source_cap", curated
                           .withColumn("_rn", F.row_number().over(w))
                           .where(F.col("_rn") <= per_source_cap).drop("_rn"))

    curated = curated.persist()
    try:
        curated.count()
    except BaseException:
        curated.unpersist()
        raise
    audit = docs.sparkSession.createDataFrame(
        [(i, name, obs.get["n"]) for i, (name, obs) in enumerate(stages)],
        "stage_idx int, stage string, rows_surviving long")
    return curated, audit


def token_budget_report(curated: DataFrame, text_col: str = "text",
                        by: str | None = "source") -> DataFrame:
    """Token accounting for training budgeting: whitespace + BPE-ish counts
    per group."""
    aggs = [
        F.count("*").alias("n_docs"),
        F.sum(ts.whitespace_token_count(F.col(text_col))).alias("ws_tokens"),
        F.sum(ts.bpe_ish_token_count(F.col(text_col))).alias("bpe_ish_tokens"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    ]
    return curated.groupBy(by).agg(*aggs) if by else curated.agg(*aggs)

"""Marker-held lineage: every stage checkpoint is committed by one write whose
observed metrics (row count, content signature, sha256 signature) and
read-back schema land in the ``_STAGE_DONE`` marker.

Pins:
* the round trip — ``run_pipeline(verify_lineage=True)`` on a fresh build
  and again after the stages downstream of ``extract_bucketed`` are rebuilt;
* the column-order trap — a hive-partitioned read moves the partition
  columns last, so the signature must hash in read-back order; checked for
  a ``partition_by`` and a ``bucket_by`` stage against a fresh inferred read;
* empty frames commit ``rows == 0`` without blocking on the observation;
* the sha256 invariant — the marker holds the mismatch count, and a stage
  whose content was altered after hashing raises and is never committed;
* markers written before marker-held lineage (no ``lineage`` key, a
  per-partition ``_lineage`` parquet dir) still resume and verify;
* the job budget — committing a plain stage runs no more jobs than a bare
  ``df.write`` of the frame, and a resume runs none.
"""

import json
import os
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from amharic_ecommerce_data_extractor_spark.plans.pipeline import run_pipeline
from amharic_ecommerce_data_extractor_spark.sources import checkpoint as ckpt

DOWNSTREAM = ("triples", "link", "graph_triples", "graph_nodes", "scorecard",
              "graph_features")


def _lineage(stage_dir: str) -> dict:
    with open(os.path.join(stage_dir, ckpt.MARKER), encoding="utf-8") as f:
        return json.load(f)["lineage"]


def _frame(spark, n: int = 600):
    """_chunk first and content_sha256 in the middle: a partitioned write
    reads the chunk column back LAST."""
    return spark.range(n).select(
        F.pmod(F.col("id"), F.lit(4)).cast("int").alias(ckpt.CHUNK_COL),
        F.col("id").alias("message_id"),
        F.sha2(F.concat(F.lit("m"), F.col("id")), 256).alias("content_sha256"),
        F.concat(F.lit("m"), F.col("id")).alias("content"),
        F.array(F.col("id"), F.col("id") * 2).alias("ids"))


def _fresh_sig(df) -> int:
    return df.agg(F.bit_xor(F.xxhash64(*df.columns))).collect()[0][0]


def test_pipeline_verify_lineage_fresh_and_rebuilt(spark, tmp_path):
    wd = str(tmp_path / "kg")
    s1 = run_pipeline(spark, wd, n_messages=300, n_chunks=2, verify_lineage=True)
    # 8 stages + 2 extract chunks
    assert s1["lineage_verified"] == 10
    assert not any(os.path.exists(os.path.join(wd, st, "_lineage"))
                   for st in ("ingest", "extract_bucketed") + DOWNSTREAM)

    for st in DOWNSTREAM:
        shutil.rmtree(os.path.join(wd, st))
    s2 = run_pipeline(spark, wd, n_messages=300, n_chunks=2, verify_lineage=True)
    assert s2["lineage_verified"] == 10
    for k in ("messages", "triples", "nodes", "vendors",
              "vendors_with_graph_features"):
        assert s2[k] == s1[k], k
    # the rebuilt stages ran; the upstream ones resumed
    assert set(DOWNSTREAM) <= set(s2["stage_seconds"])
    assert "extract" not in s2["stage_seconds"]
    # the summary counts are the committed marker counts
    assert s2["triples"] == spark.read.parquet(f"{wd}/graph_triples/data").count()


def test_partitioned_stage_signature_matches_fresh_read(spark, tmp_path):
    ckpt.run_stage(spark, str(tmp_path), "p", lambda: _frame(spark),
                   partition_by=[ckpt.CHUNK_COL])
    d = str(tmp_path / "p")
    lineage = _lineage(d)
    back = spark.read.parquet(os.path.join(d, "data"))
    assert back.columns[-1] == ckpt.CHUNK_COL
    assert back._jdf.schema().toDDL() == lineage["schema"]
    assert lineage["n_rows"] == back.count() == 600
    assert lineage["content_sig"] == _fresh_sig(back)
    assert ckpt.verify_stage_lineage(spark, d)["ok"]


def test_bucketed_stage_signature_matches_fresh_read(spark, tmp_path):
    out = ckpt.run_stage(spark, str(tmp_path), "b", lambda: _frame(spark),
                         bucket_by=("message_id", 4))
    d = str(tmp_path / "b")
    lineage = _lineage(d)
    back = spark.read.parquet(os.path.join(d, "data"))
    assert back.columns == out.columns
    assert back._jdf.schema().toDDL() == lineage["schema"]
    assert lineage["content_sig"] == _fresh_sig(back) == _fresh_sig(out)
    res = ckpt.verify_stage_lineage(spark, d)
    assert res["ok"] and "sha256_sig" in res["checks"], res


def test_sha256_mismatch_fails_the_stage_uncommitted(spark, tmp_path):
    ckpt.run_stage(spark, str(tmp_path), "good", lambda: _frame(spark))
    assert _lineage(str(tmp_path / "good"))["sha256_mismatch"] == 0
    # one row's content altered after its content_sha256 was taken
    altered = _frame(spark).withColumn("content", F.when(
        F.col("message_id") == 7, F.lit("tampered")).otherwise(F.col("content")))
    with pytest.raises(ckpt.Sha256InvariantError, match="1 rows"):
        ckpt.run_stage(spark, str(tmp_path), "bad", lambda: altered)
    assert not ckpt.stage_done(str(tmp_path / "bad"))


def test_empty_frame_commits_zero_rows(spark, tmp_path):
    """An empty frame still commits (count 0, null signature) and the
    observation completes; run in a thread so a blocked
    ``Observation.get`` fails the test instead of hanging it."""
    frames = {
        "range0": lambda: spark.range(0).withColumnRenamed("id", "message_id"),
        "limit0": lambda: _frame(spark).limit(0),
        "filtered": lambda: _frame(spark).where(F.col("message_id") < 0),
    }
    errors = []

    def commit():
        try:
            for name, build in frames.items():
                part = [ckpt.CHUNK_COL] if name == "filtered" else None
                ckpt.run_stage(spark, str(tmp_path), name, build, partition_by=part)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    t = threading.Thread(target=commit, daemon=True)
    t.start()
    t.join(timeout=240)
    assert not t.is_alive(), "write_stage blocked on an empty frame"
    assert not errors, errors
    for name in frames:
        d = str(tmp_path / name)
        assert ckpt.committed_rows(d) == 0
        resumed = ckpt.run_stage(spark, str(tmp_path), name, lambda: None)
        assert resumed.count() == 0
        assert ckpt.verify_stage_lineage(spark, d)["ok"]


def test_legacy_lineage_dir_resumes_and_verifies(spark, tmp_path):
    """A stage committed before marker-held lineage: a marker without a
    ``lineage`` key and a per-partition ``_lineage`` parquet dir."""
    df = _frame(spark, 300).drop(ckpt.CHUNK_COL)
    d = str(tmp_path / "old")
    df.write.parquet(os.path.join(d, "data"))
    (df.withColumn("partition_id", F.spark_partition_id())
     .groupBy("partition_id")
     .agg(F.count("*").alias("n_rows"),
          F.bit_xor(F.xxhash64(*df.columns)).alias("content_sig"),
          F.bit_xor(F.xxhash64("content_sha256")).alias("sha256_sig"))
     .write.parquet(os.path.join(d, "_lineage")))
    with open(os.path.join(d, ckpt.MARKER), "w", encoding="utf-8") as f:
        json.dump({"stage": "old", "rows": 300, "fmt": "parquet"}, f)

    out = ckpt.run_stage(spark, str(tmp_path), "old", lambda: None)
    assert out.columns == df.columns and out.count() == 300
    res = ckpt.verify_stage_lineage(spark, d)
    assert res["ok"] and set(res["checks"]) == {"n_rows", "content_sig",
                                                "sha256_sig"}, res
    df.limit(1).write.mode("append").parquet(os.path.join(d, "data"))
    assert not ckpt.verify_stage_lineage(spark, d)["ok"]


def _jobs_in_group(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group) or [])


def test_stage_commit_job_budget(spark, tmp_path):
    df = spark.range(5000).select(
        F.col("id").alias("message_id"),
        F.concat(F.lit("m"), F.col("id")).alias("content"))
    bare = _jobs_in_group(spark, "ckpt-bare", lambda: df.write.parquet(
        str(tmp_path / "bare")))
    built = _jobs_in_group(spark, "ckpt-build", lambda: ckpt.run_stage(
        spark, str(tmp_path), "s", lambda: df))
    assert 1 <= built <= bare, (built, bare)
    resumed = _jobs_in_group(spark, "ckpt-resume", lambda: ckpt.run_stage(
        spark, str(tmp_path), "s", lambda: df))
    assert resumed == 0

"""Marker-held lineage: every stage checkpoint is committed by one write whose
observed metrics (row count, content signature, sha256 signature) and
read-back schema land in the ``_STAGE_DONE`` marker.

Pins:
* the round trip — ``run_pipeline(verify_lineage=True)`` on a fresh build
  and again after the stages downstream of ``extract`` are rebuilt;
* the column-order trap — a hive-partitioned read moves the partition
  columns last, so the signature must hash in read-back order; checked for
  a ``partition_by`` stage against a fresh inferred read;
* empty frames commit ``rows == 0`` without blocking on the observation;
* the sha256 invariant — the marker holds the mismatch count, and a stage
  whose content was altered after hashing raises and is never committed;
* a marker without a ``lineage`` key fails verification loudly, and a
  completed stage whose marker lost ``lineage`` fails its resume the same
  way; markers and chunk manifests that still carry the older ``fmt`` and
  ``key_col`` keys resume without a job;
* the job budget — committing a plain stage runs no more jobs than a bare
  ``df.write`` of the frame, and a resume runs none; a pipeline build writes
  its extract rows once, and a full pipeline resume runs no job.
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
# Spark jobs of a 300-message, 2-chunk build on local[4]: 41 measured, plus
# one for the job-count jitter seen between identical builds
PIPELINE_JOB_BUDGET = 42


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
    # 7 stages + 2 extract chunks
    assert s1["lineage_verified"] == 9
    assert not any(os.path.exists(os.path.join(wd, st, "_lineage"))
                   for st in ("ingest", "extract/chunk=0", "extract/chunk=1")
                   + DOWNSTREAM)

    chunk_markers = [os.path.join(wd, "extract", f"chunk={c}", ckpt.MARKER)
                     for c in range(2)]
    committed_at = [os.path.getmtime(m) for m in chunk_markers]
    for st in DOWNSTREAM:
        shutil.rmtree(os.path.join(wd, st))
    s2 = run_pipeline(spark, wd, n_messages=300, n_chunks=2, verify_lineage=True)
    assert s2["lineage_verified"] == 9
    for k in ("messages", "triples", "nodes", "vendors",
              "vendors_with_graph_features"):
        assert s2[k] == s1[k], k
    # the rebuilt stages ran; the upstream ones resumed
    assert set(DOWNSTREAM) <= set(s2["stage_seconds"])
    assert [os.path.getmtime(m) for m in chunk_markers] == committed_at
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


def test_verify_marker_without_lineage_raises(spark, tmp_path):
    """A marker with no ``lineage`` key has nothing to verify against: the
    check fails loudly, naming the stage dir."""
    d = str(tmp_path / "old")
    os.makedirs(d)
    with open(os.path.join(d, ckpt.MARKER), "w", encoding="utf-8") as f:
        json.dump({"stage": "old", "rows": 30, "fmt": "parquet"}, f)
    with pytest.raises(ValueError, match="no lineage.*old"):
        ckpt.verify_stage_lineage(spark, d)


@pytest.mark.parametrize("key", ["lineage"])
def test_resume_marker_without_key_raises(spark, tmp_path, key):
    """A completed stage resumes from its marker's schema; a marker missing
    it fails the resume, naming the stage dir, instead of reading by schema
    inference."""
    def build():
        return spark.range(10)

    ckpt.run_stage(spark, str(tmp_path), "st", build)
    marker = tmp_path / "st" / ckpt.MARKER
    m = json.loads(marker.read_text())
    del m[key]
    marker.write_text(json.dumps(m))
    with pytest.raises(ValueError, match=f"no {key} in the marker at .*st"):
        ckpt.run_stage(spark, str(tmp_path), "st", build)


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


def test_pipeline_writes_extract_once_and_resumes_without_jobs(spark, tmp_path):
    """A build commits one copy of the extract rows, its chunk dirs (no
    rewrite into a second layout, no catalog table), within a job budget;
    a full resume runs no Spark job."""
    wd = str(tmp_path / "kg")
    built = _jobs_in_group(spark, "kg-build", lambda: run_pipeline(
        spark, wd, n_messages=300, n_chunks=2))
    assert sorted(os.listdir(wd)) == sorted(("ingest", "extract") + DOWNSTREAM)
    assert not [t.name for t in spark.catalog.listTables()
                if t.name.startswith("kg_ckpt_")]
    assert built <= PIPELINE_JOB_BUDGET, built
    resumed = _jobs_in_group(spark, "kg-resume", lambda: run_pipeline(
        spark, wd, n_messages=300, n_chunks=2))
    assert resumed == 0


def test_markers_with_format_keys_resume_without_jobs(spark, tmp_path):
    """Stage markers that carry ``fmt`` and a chunk manifest that carries
    ``fmt`` and ``key_col`` (the layout written before checkpoints were
    parquet-only) resume with no Spark job and the committed rows."""
    wd = str(tmp_path)
    src = ckpt.with_chunk_column(
        spark.range(200).withColumnRenamed("id", "message_id"), n_chunks=2)
    ckpt.run_stage(spark, wd, "st", lambda: src, partition_by=[ckpt.CHUNK_COL])
    ckpt.chunked_stage(spark, wd, "ch", src, lambda d: d, n_chunks=2)

    for marker in ("st", "ch/chunk=0", "ch/chunk=1"):
        path = tmp_path / marker / ckpt.MARKER
        path.write_text(json.dumps({**json.loads(path.read_text()),
                                    "fmt": "parquet"}))
    (tmp_path / "ch" / "_CHUNK_MANIFEST").write_text(json.dumps(
        {"key_col": "message_id", "n_chunks": 2, "fmt": "parquet"}))

    resumed = {}

    def resume():
        resumed["st"] = ckpt.run_stage(spark, wd, "st", lambda: None,
                                       partition_by=[ckpt.CHUNK_COL])
        resumed["ch"] = ckpt.chunked_stage(spark, wd, "ch", src, lambda d: d,
                                           n_chunks=2)

    assert _jobs_in_group(spark, "ckpt-format-keys", resume) == 0
    assert resumed["st"].count() == resumed["ch"].count() == 200
    assert ckpt.verify_stage_lineage(spark, str(tmp_path / "ch" / "chunk=1"))["ok"]

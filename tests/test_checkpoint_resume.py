"""Checkpoint/lineage/resume: stage markers carrying the lineage observed
on the write, sha256 invariant, and mid-run restart that does NOT recompute
finished chunks."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from amharic_ecommerce_data_extractor_spark.data.synthetic import generate_messages
from amharic_ecommerce_data_extractor_spark.operators.extract import extract_entities
from amharic_ecommerce_data_extractor_spark.plans.pipeline import run_pipeline
from amharic_ecommerce_data_extractor_spark.sources import checkpoint as ckpt


def test_run_stage_resumes(spark, tmp_path):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))

    d1 = ckpt.run_stage(spark, str(tmp_path), "s1", build)
    assert d1.count() == 100 and calls["n"] == 1
    d2 = ckpt.run_stage(spark, str(tmp_path), "s1", build)
    assert d2.count() == 100 and calls["n"] == 1  # resumed, not recomputed
    lineage = json.loads((tmp_path / "s1" / ckpt.MARKER).read_text())["lineage"]
    assert lineage["n_rows"] == 100
    assert {"n_rows", "content_sig", "schema"} <= set(lineage)
    assert not (tmp_path / "s1" / "_lineage").exists()


def test_torn_marker_write_commits_nothing(spark, tmp_path, monkeypatch):
    """A process killed while the marker's JSON is being written must leave
    the stage uncommitted (the marker's presence IS the commit): the next
    run recomputes the stage instead of resuming from an unparseable
    marker."""
    class Killed(Exception):
        pass

    def torn_dump(obj, f, **kw):
        f.write('{"stage": "s1", "ro')
        raise Killed

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10)

    with monkeypatch.context() as m:
        m.setattr(ckpt.json, "dump", torn_dump)
        with pytest.raises(Killed):
            ckpt.run_stage(spark, str(tmp_path), "s1", build)
    assert not ckpt.stage_done(str(tmp_path / "s1"))
    assert ckpt.run_stage(spark, str(tmp_path), "s1", build).count() == 10
    assert calls["n"] == 2
    assert ckpt.committed_rows(str(tmp_path / "s1")) == 10


def test_chunked_stage_mid_run_restart(spark, tmp_path):
    msgs = generate_messages(spark, n_rows=300, n_vendors=5)
    boom = {"arm": True}

    def transform(df):
        return extract_entities(df)

    # first run: manually complete only chunks 0-2, then "crash"
    src = msgs
    key = F.pmod(F.xxhash64(F.col("message_id")), F.lit(6))
    for chunk in range(3):
        cdir = os.path.join(str(tmp_path), "extract", f"chunk={chunk}")
        os.makedirs(cdir, exist_ok=True)
        ckpt.write_stage(transform(src.where(key == chunk)), cdir, f"extract/chunk={chunk}")
    done_mtimes = {
        c: os.path.getmtime(os.path.join(str(tmp_path), "extract", f"chunk={c}", ckpt.MARKER))
        for c in range(3)
    }

    # restart: full chunked stage — finished chunks must be skipped untouched
    out = ckpt.chunked_stage(spark, str(tmp_path), "extract", src, transform, n_chunks=6)
    assert out.count() == 300
    for c in range(3):
        m = os.path.getmtime(os.path.join(str(tmp_path), "extract", f"chunk={c}", ckpt.MARKER))
        assert m == done_mtimes[c], f"chunk {c} was recomputed"
    # all six chunk markers + the stage marker now exist
    assert ckpt.stage_done(os.path.join(str(tmp_path), "extract"))


def test_full_pipeline_and_resume(spark, tmp_path):
    wd = str(tmp_path / "kg")
    s1 = run_pipeline(spark, wd, n_messages=400, n_chunks=4)
    assert s1["messages"] == 400
    assert s1["triples"] > 0 and s1["nodes"] > 0 and s1["vendors"] > 0

    # resume: everything checkpointed → stage wall times collapse
    s2 = run_pipeline(spark, wd, n_messages=400, n_chunks=4)
    assert s2["triples"] == s1["triples"]
    assert s2["nodes"] == s1["nodes"]
    # the chunk dirs are the one extract checkpoint: a resume reads them
    # back instead of re-running the extraction
    assert sorted(os.listdir(f"{wd}/extract")) == sorted(
        [ckpt.MARKER, "_CHUNK_MANIFEST"] + [f"chunk={c}" for c in range(4)])
    assert s2["stage_seconds"]["extract"] < s1["stage_seconds"]["extract"]

    # canonical triples keep the 4 predicates only
    preds = {r["pred"] for r in
             spark.read.parquet(f"{wd}/graph_triples/data").select("pred").distinct().collect()}
    assert preds <= {"sells", "priced_at", "located_in", "contact"}

    marker = json.load(open(f"{wd}/scorecard/{ckpt.MARKER}"))
    assert marker["rows"] == s1["vendors"]


def test_write_stage_format_dispatch(spark, tmp_path):
    """fmt parameter flows through to the sink (Iceberg in production —
    parquet is the only format in this sandbox, so the dispatch itself is
    what's under test)."""
    from amharic_ecommerce_data_extractor_spark.sources.checkpoint import write_stage

    df = spark.range(10).withColumnRenamed("id", "message_id")
    d = str(tmp_path / "fmt_stage")
    write_stage(df, d, "s", fmt="parquet")
    assert spark.read.parquet(d + "/data").count() == 10


def test_chunked_stage_nchunks_mismatch_raises(spark, tmp_path):
    from amharic_ecommerce_data_extractor_spark.sources.checkpoint import chunked_stage

    src = spark.range(100).withColumnRenamed("id", "message_id")
    wd = str(tmp_path / "wd")
    chunked_stage(spark, wd, "st", src, lambda d: d, n_chunks=4)
    with pytest.raises(ValueError, match="resume mismatch"):
        chunked_stage(spark, wd, "st", src, lambda d: d, n_chunks=8)
    # resuming with the committed parameters still works
    out = chunked_stage(spark, wd, "st", src, lambda d: d, n_chunks=4)
    assert out.count() == 100


def test_chunked_source_reads_prune_partitions(spark, tmp_path):
    """A chunk-partitioned ingest checkpoint turns the per-chunk filter into
    parquet PARTITION PRUNING — each chunk job reads only its own files
    (one total input pass) instead of re-scanning everything n_chunks times."""
    from pyspark.sql import functions as F

    from amharic_ecommerce_data_extractor_spark.sources import checkpoint as ckpt

    df = ckpt.with_chunk_column(
        spark.range(1000).withColumnRenamed("id", "message_id"), n_chunks=4)
    src = ckpt.run_stage(spark, str(tmp_path), "ingest", lambda: df,
                         partition_by=[ckpt.CHUNK_COL])
    plan = src.where(F.col(ckpt.CHUNK_COL) == 2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:", 1)[1].split("]", 1)[0]
    assert "_chunk" in pf and "= 2" in pf

    # and chunked_stage over it reproduces the full row set exactly
    out = ckpt.chunked_stage(spark, str(tmp_path), "ex", src,
                             lambda d: d.drop(ckpt.CHUNK_COL), n_chunks=4)
    assert out.count() == 1000
    assert out.select(F.countDistinct("message_id")).collect()[0][0] == 1000


def test_resume_format_mismatch_raises(spark, tmp_path):
    """A stage committed as parquet must never be re-read with a different
    format reader just because SPARK_GRAFT_CHECKPOINT_FORMAT changed between
    runs — the committed format is recorded in the marker and enforced.
    verify_stage_lineage honors an EXPLICIT fmt the run_stage way: a
    contradiction with the committed marker raises."""
    from amharic_ecommerce_data_extractor_spark.sources import checkpoint as ckpt

    src = spark.range(50).withColumnRenamed("id", "message_id")
    ckpt.run_stage(spark, str(tmp_path), "st", lambda: src, fmt="parquet")
    assert ckpt.committed_format(str(tmp_path / "st")) == "parquet"
    with pytest.raises(ValueError, match="format mismatch"):
        ckpt.run_stage(spark, str(tmp_path), "st", lambda: src, fmt="orc")
    # resuming with the committed format still works
    assert ckpt.run_stage(spark, str(tmp_path), "st", lambda: src,
                          fmt="parquet").count() == 50

    # chunked stages record fmt in the manifest and guard the same way
    ckpt.chunked_stage(spark, str(tmp_path), "ch", src, lambda d: d,
                       n_chunks=2, fmt="parquet")
    with pytest.raises(ValueError, match="resume mismatch"):
        ckpt.chunked_stage(spark, str(tmp_path), "ch", src, lambda d: d,
                           n_chunks=2, fmt="orc")

    with pytest.raises(ValueError, match="format mismatch"):
        ckpt.verify_stage_lineage(spark, str(tmp_path / "ch" / "chunk=0"),
                                  fmt="orc")
    assert ckpt.verify_stage_lineage(spark, str(tmp_path / "ch" / "chunk=0"))["ok"]


def test_chunk_marker_chaos_recomputes_only_that_chunk(spark, tmp_path):
    """File-level chaos: deleting ONE chunk's _STAGE_DONE marker, or its
    whole dir, makes the restart recompute exactly that chunk (others
    untouched), and lineage re-verifies per chunk afterwards; tampering
    with a chunk's data is caught by verify_stage_lineage."""
    from amharic_ecommerce_data_extractor_spark.sources import checkpoint as ckpt

    src = spark.range(400).select(
        F.col("id").alias("message_id"),
        F.concat(F.lit("m"), F.col("id")).alias("content"),
        F.sha2(F.concat(F.lit("m"), F.col("id")), 256).alias("content_sha256"))
    calls = {"n": 0}

    def transform(df):
        calls["n"] += 1
        return df

    wd = str(tmp_path)
    ckpt.chunked_stage(spark, wd, "ex", src, transform, n_chunks=4)
    assert calls["n"] == 4
    mtimes = {c: os.path.getmtime(os.path.join(wd, "ex", f"chunk={c}", ckpt.MARKER))
              for c in range(4)}

    os.remove(os.path.join(wd, "ex", "chunk=2", ckpt.MARKER))
    out = ckpt.chunked_stage(spark, wd, "ex", src, transform, n_chunks=4)
    assert calls["n"] == 5, "exactly the damaged chunk recomputes"
    assert out.count() == 400
    for c in (0, 1, 3):
        m = os.path.getmtime(os.path.join(wd, "ex", f"chunk={c}", ckpt.MARKER))
        assert m == mtimes[c], f"chunk {c} was recomputed"
    for c in range(4):
        res = ckpt.verify_stage_lineage(spark, os.path.join(wd, "ex", f"chunk={c}"))
        assert res["ok"], (c, res)

    # a whole chunk dir gone, under a complete stage marker
    shutil.rmtree(os.path.join(wd, "ex", "chunk=1"))
    out = ckpt.chunked_stage(spark, wd, "ex", src, transform, n_chunks=4)
    assert calls["n"] == 6, "exactly the deleted chunk recomputes"
    assert out.count() == 400
    assert out.select(F.countDistinct("message_id")).collect()[0][0] == 400
    for c in (0, 3):
        m = os.path.getmtime(os.path.join(wd, "ex", f"chunk={c}", ckpt.MARKER))
        assert m == mtimes[c], f"chunk {c} was recomputed"
    assert ckpt.verify_stage_lineage(spark, os.path.join(wd, "ex", "chunk=1"))["ok"]

    # tamper one chunk's data behind the checkpoint's back → caught
    extra = src.limit(1)
    extra.write.mode("append").parquet(os.path.join(wd, "ex", "chunk=2", "data"))
    res = ckpt.verify_stage_lineage(spark, os.path.join(wd, "ex", "chunk=2"))
    assert not res["ok"]


def test_verify_stage_lineage_detects_tampering(spark, tmp_path):
    """The marker lineage is re-verifiable after any repartitioning: the
    bit_xor signature fold is partition-invariant. Appending rows behind
    the checkpoint's back must be detected."""
    from amharic_ecommerce_data_extractor_spark.sources import checkpoint as ckpt

    df = spark.range(500).select(
        F.col("id").alias("message_id"),
        F.concat(F.lit("m"), F.col("id")).alias("content"),
        F.sha2(F.concat(F.lit("m"), F.col("id")), 256).alias("content_sha256"))
    d = str(tmp_path / "st")
    ckpt.run_stage(spark, str(tmp_path), "st", lambda: df)

    res = ckpt.verify_stage_lineage(spark, d)
    assert res["ok"], res
    assert "sha256_sig" in res["checks"]

    # tamper: sneak one extra row into the data dir
    df.limit(1).write.mode("append").parquet(d + "/data")
    res2 = ckpt.verify_stage_lineage(spark, d)
    assert not res2["ok"]
    assert not res2["checks"]["n_rows"]

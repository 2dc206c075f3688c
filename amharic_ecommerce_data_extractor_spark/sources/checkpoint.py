"""Per-stage checkpointing with marker-held lineage and resume (graft
operator G5).

Every stage is committed by ONE write of its data to ``<workdir>/<stage>/
data`` (the checkpoint — the cache between stages and the resume point),
then a ``_STAGE_DONE`` JSON marker written LAST (its presence is the
commit; it is written to a temp file and renamed into place, so it is whole
or absent). Checkpoints are parquet. The marker holds stage name, ``rows``,
wall time and the lineage: row count, an order-insensitive content
signature (bit_xor of xxhash64 over all columns in read-back order), the
``content_sha256`` invariant signature when that column exists, the
mismatch count of that invariant (``sha256_mismatch``: rows whose
``content`` no longer hashes to it; non-zero fails the stage, unmarked)
when ``content`` exists too, and the read-back schema as DDL (a fraction of
the JSON form's size). The lineage is observed on the write itself
(``DataFrame.observe``), and reads use the committed schema, so neither a
run nor a resume pays a lineage, invariant or schema-inference job. A
completed stage whose marker lacks ``lineage`` raises ValueError on resume
and on verification.

Resume = skip stages whose marker exists. ``chunked_stage`` splits a long
Python-heavy stage along its source's ``_chunk`` column into N chunks
committed independently — a mid-run restart recomputes only unfinished
chunks, including chunks whose dirs were deleted. Its chunk dirs are the
stage's only copy of the rows: downstream stages read them back as one
scan. The reference has no counterpart (every stage re-reads CSV and
recomputes, ``run_pipeline.py:89,217``).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql import types as T

MARKER = "_STAGE_DONE"
CHUNK_COL = "_chunk"


class Sha256InvariantError(ValueError):
    """A stage's ``content`` no longer matches its ``content_sha256``."""


def with_chunk_column(df: DataFrame, key_col: str = "message_id",
                      n_chunks: int = 8) -> DataFrame:
    """Adds the ``_chunk`` hash-bucket column. Checkpoint the result with
    ``run_stage(..., partition_by=['_chunk'])`` and a downstream
    ``chunked_stage`` reads each chunk via partition pruning (one total
    pass over the input instead of n_chunks full scans)."""
    return df.withColumn(CHUNK_COL,
                         F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_chunks)).cast("int"))


def _marker_path(stage_dir: str) -> str:
    return os.path.join(stage_dir, MARKER)


def _write_json(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` atomically: a sibling ``.tmp`` file
    renamed over it, so a kill mid-write never leaves a partial marker
    (whose presence alone would commit the stage)."""
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def stage_done(stage_dir: str) -> bool:
    return os.path.exists(_marker_path(stage_dir))


def _marker(stage_dir: str) -> dict:
    with open(_marker_path(stage_dir), encoding="utf-8") as f:
        return json.load(f)


def _committed_lineage(stage_dir: str) -> dict:
    """A completed stage's marker lineage; a marker without it raises
    ValueError naming the stage dir (every marker ``write_stage`` commits
    has one)."""
    lineage = _marker(stage_dir).get("lineage")
    if not lineage:
        raise ValueError(f"no lineage in the marker at {stage_dir}")
    return lineage


def committed_rows(stage_dir: str) -> int:
    """Row count a completed stage committed (from its marker; no scan)."""
    return _marker(stage_dir)["rows"]


def _nullable(dt: T.DataType) -> T.DataType:
    """The type as a parquet read-back reports it: all of it nullable."""
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType), True,
                                           f.metadata) for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _lineage_aggs(cols: list[str]) -> list:
    """Row count + order-insensitive signature over ``cols`` (in that order),
    plus the sha256 invariant signature when the column exists and the
    invariant's mismatch count when ``content`` exists too."""
    aggs = [F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(F.xxhash64(*cols)).alias("content_sig")]
    if "content_sha256" in cols:
        aggs.append(F.bit_xor(F.xxhash64("content_sha256")).alias("sha256_sig"))
        if "content" in cols:
            aggs.append(F.count_if(
                F.sha2(F.coalesce(F.col("content"), F.lit("")), 256)
                != F.col("content_sha256")).alias("sha256_mismatch"))
    return aggs


def _read(spark: SparkSession, stage_dir: str, path: str) -> DataFrame:
    """Read a checkpoint with the schema DDL committed in ``stage_dir``'s
    marker instead of inferring one with a job."""
    return spark.read.schema(_committed_lineage(stage_dir)["schema"]).parquet(path)


def write_stage(df: DataFrame, stage_dir: str, stage: str,
                partition_by: list[str] | None = None) -> None:
    """Checkpoint one stage: one parquet write, then the marker (lineage: see
    the module docstring). partition_by lays the data out
    hive-partitioned by those columns.

    The lineage is observed in the write's result stage (observe is the
    outermost operator), hashing the columns in read-back order: a
    hive-partitioned read moves the partition columns last."""
    t0 = time.perf_counter()
    data_path = os.path.join(stage_dir, "data")
    spark = df.sparkSession
    part = list(partition_by or [])
    schema = _nullable(T.StructType(
        [f for f in df.schema.fields if f.name not in part]
        + [df.schema[c] for c in part]))
    ddl = spark.createDataFrame([], schema)._jdf.schema().toDDL()
    obs = Observation()
    observed = df.observe(obs, *_lineage_aggs(schema.names))
    w = observed.write.mode("overwrite")
    if part:
        w = w.partitionBy(*part)
    w.parquet(data_path)

    lineage = obs.get
    if lineage.get("sha256_mismatch"):
        raise Sha256InvariantError(f"stage {stage!r} not committed: {lineage['sha256_mismatch']}"
                                   " rows whose content does not hash to content_sha256")
    marker = {"stage": stage, "rows": lineage["n_rows"],
              "seconds": round(time.perf_counter() - t0, 3),
              "lineage": {**lineage, "schema": ddl}}
    _write_json(_marker_path(stage_dir), marker)


def run_stage(spark: SparkSession, workdir: str, stage: str, build,
              partition_by: list[str] | None = None) -> DataFrame:
    """Compute-or-resume: if the stage marker exists, read the checkpoint;
    otherwise build(), checkpoint, and read back (truncating lineage).
    partition_by lays the checkpoint out hive-partitioned — downstream
    filters on those columns become partition pruning, not data scans.
    The read uses the marker's schema: a resumed stage runs no Spark job."""
    stage_dir = os.path.join(workdir, stage)
    if not stage_done(stage_dir):
        os.makedirs(stage_dir, exist_ok=True)
        write_stage(build(), stage_dir, stage, partition_by=partition_by)
    return _read(spark, stage_dir, os.path.join(stage_dir, "data"))


def chunked_stage(
    spark: SparkSession,
    workdir: str,
    stage: str,
    source: DataFrame,
    transform,
    n_chunks: int = 8,
) -> DataFrame:
    """Stage with intra-stage resume: the source is split on its ``_chunk``
    column into n_chunks; each chunk is transformed and committed
    independently (its own data dir + marker). A restart skips finished
    chunks — finished partitions are never recomputed. Output is the
    multi-chunk parquet scan; when every chunk is committed, a resume checks
    the manifest and returns that scan without running a Spark job.

    The source must carry ``_chunk`` (``with_chunk_column``); checkpointed
    partitioned by it (``run_stage(partition_by=[CHUNK_COL])``), each
    chunk's filter is a partition-pruning predicate, so the chunks together
    read the input once. A source without the column raises ValueError
    before any Spark job.

    A stage-level manifest (``n_chunks``) is committed BEFORE the first
    chunk: resuming with a different n_chunks would silently change the
    chunk memberships (duplicated + missing rows), so it hard-fails."""
    if CHUNK_COL not in source.columns:
        raise ValueError(
            f"chunked_stage: source of {stage!r} has no {CHUNK_COL} column; "
            f"add it with with_chunk_column")
    stage_dir = os.path.join(workdir, stage)
    os.makedirs(stage_dir, exist_ok=True)
    manifest_path = os.path.join(stage_dir, "_CHUNK_MANIFEST")
    if os.path.exists(manifest_path):
        with open(manifest_path, encoding="utf-8") as f:
            committed = json.load(f)["n_chunks"]
        if committed != n_chunks:
            raise ValueError(
                f"chunked_stage resume mismatch at {stage_dir}: committed "
                f"n_chunks={committed} vs requested {n_chunks}; restart the "
                f"stage (delete the dir) or resume with the committed n_chunks")
    else:
        _write_json(manifest_path, {"n_chunks": n_chunks})
    pending = [c for c in range(n_chunks)
               if not stage_done(os.path.join(stage_dir, f"chunk={c}"))]
    if pending:
        # guard against a committed _chunk domain wider than this loop:
        # a source bucketed 0..7 consumed with n_chunks=4 would silently
        # drop buckets 4..7 (partition-column-only scan — cheap, values
        # come from the hive directory names)
        max_chunk = source.agg(F.max(CHUNK_COL)).collect()[0][0]
        if max_chunk is not None and max_chunk >= n_chunks:
            raise ValueError(
                f"chunked_stage: source carries {CHUNK_COL} up to "
                f"{max_chunk} but n_chunks={n_chunks} would process only "
                f"0..{n_chunks - 1}; pass the n_chunks the source was "
                f"bucketed with")
        for chunk in pending:
            cdir = os.path.join(stage_dir, f"chunk={chunk}")
            os.makedirs(cdir, exist_ok=True)
            part = source.where(F.col(CHUNK_COL) == chunk)
            write_stage(transform(part), cdir, f"{stage}/chunk={chunk}")
    _write_json(_marker_path(stage_dir), {"stage": stage, "chunks": n_chunks})
    return _read(spark, os.path.join(stage_dir, "chunk=0"),
                 os.path.join(stage_dir, "chunk=*", "data"))


def verify_stage_lineage(spark: SparkSession, stage_dir: str) -> dict:
    """Re-verify a checkpointed stage against the lineage in its marker.

    bit_xor is associative and commutative, so the content signature of a
    fresh scan equals the one observed at write time however the data is
    partitioned on re-read. Compares row count + content signature (+ the
    sha256 keys when present). Returns {'ok': bool, ...evidence}. A
    marker without lineage raises ValueError."""
    stored = dict(_committed_lineage(stage_dir))
    stored.pop("schema")
    data = _read(spark, stage_dir, os.path.join(stage_dir, "data"))
    fresh = data.agg(*_lineage_aggs(data.columns)).collect()[0].asDict()
    checks = {k: (stored[k] or 0) == (fresh.get(k) or 0) for k in stored}
    return {"ok": all(checks.values()), "checks": checks,
            "stored": stored, "fresh": {k: fresh.get(k) for k in checks}}

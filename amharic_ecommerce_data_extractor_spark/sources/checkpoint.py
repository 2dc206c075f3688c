"""Per-stage checkpointing with marker-held lineage and resume (graft
operator G5).

Every stage is committed by ONE write of its data to ``<workdir>/<stage>/
data`` (the checkpoint — the cache between stages and the resume point),
then a ``_STAGE_DONE`` JSON marker written LAST (its presence is the
commit). The marker holds stage name, ``rows``, format, wall time and the
lineage: row count, an order-insensitive content signature (bit_xor of
xxhash64 over all columns in read-back order), the ``content_sha256``
invariant signature when that column exists, the mismatch count of that
invariant (``sha256_mismatch``: rows whose ``content`` no longer hashes to
it; non-zero fails the stage, unmarked) when ``content`` exists too, and
the read-back schema as DDL (a fraction of the JSON form's size). The
lineage is observed on the write itself (``DataFrame.observe``), and reads
use the committed schema, so neither a run nor a resume pays a lineage,
invariant or schema-inference job.
Markers from before marker-held lineage (no ``lineage`` key) resume by
inference and verify against their ``_lineage`` parquet dir.

Resume = skip stages whose marker exists. ``chunked_stage`` hash-splits a
long Python-heavy stage into N chunks committed independently — a mid-run
restart recomputes only unfinished chunks. The reference has no counterpart
(every stage re-reads CSV and recomputes, ``run_pipeline.py:89,217``).

Formats: ``fmt`` / ``SPARK_GRAFT_CHECKPOINT_FORMAT`` dispatch the sink —
'parquet' (the tested default) or 'iceberg' on a cluster with the
``iceberg-spark-runtime`` jar and an Iceberg catalog configured;
``partition_by`` becomes an identity partition field, and the marker stays
the resume signal. The written format is committed in the marker (and in
``_CHUNK_MANIFEST``); resume hard-fails on a mismatch, so flipping the env
var mid-run never reads parquet with the Iceberg reader or vice versa.
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


def stage_done(stage_dir: str) -> bool:
    return os.path.exists(_marker_path(stage_dir))


def _marker(stage_dir: str) -> dict:
    with open(_marker_path(stage_dir), encoding="utf-8") as f:
        return json.load(f)


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


def _committed_schema(stage_dir: str) -> str | None:
    return (_marker(stage_dir).get("lineage") or {}).get("schema")


def _read(spark: SparkSession, fmt: str, path: str,
          schema: str | None) -> DataFrame:
    """Read a checkpoint; file formats take the committed schema DDL instead
    of inferring one with a job (table formats carry their own)."""
    reader = spark.read.format(fmt)
    if schema is not None and fmt in ("parquet", "orc"):
        reader = reader.schema(schema)
    return reader.load(path)


def _bucket_table_name(stage_dir: str) -> str:
    """Deterministic catalog identifier for a bucketed stage checkpoint —
    derived from the absolute stage path so every session (including a
    resume in a fresh JVM) computes the same name."""
    import hashlib

    digest = hashlib.md5(os.path.abspath(stage_dir).encode()).hexdigest()[:12]
    return f"kg_ckpt_{digest}"


def _register_bucketed_table(spark: SparkSession, stage_dir: str,
                             bucket_by: tuple[str, int],
                             schema: str | None) -> str:
    """Ensure the catalog knows the bucketed stage table (a resume in a new
    session loses the in-memory catalog entry but not the files): recreate
    the EXTERNAL table over the existing bucketed parquet files. Spark
    recovers each file's bucket id from its `_SSSSS` filename tag, so a
    DDL-registered table reads exactly like the originally written one."""
    table = _bucket_table_name(stage_dir)
    if not spark.catalog.tableExists(table):
        data_path = os.path.join(stage_dir, "data")
        col, n = bucket_by
        ddl = schema or spark.read.parquet(data_path)._jdf.schema().toDDL()
        spark.sql(
            f"CREATE TABLE {table} ({ddl}) USING parquet "
            f"CLUSTERED BY ({col}) SORTED BY ({col}) INTO {n} BUCKETS "
            f"LOCATION '{data_path}'")
    return table


def write_stage(df: DataFrame, stage_dir: str, stage: str,
                partition_by: list[str] | None = None,
                fmt: str = "parquet",
                bucket_by: tuple[str, int] | None = None) -> None:
    """Checkpoint one stage: one write, then the marker (formats and lineage:
    see the module docstring).

    bucket_by=(col, n_buckets): write the checkpoint as an EXTERNAL bucketed
    catalog table whose files live at the stage's own data path — the
    write-once-shuffle-never-again layout (sources/bucketed.py): the bucket
    shuffle is paid here ONCE, and every downstream join/groupBy on the
    bucket key off this checkpoint plans with no exchange. Parquet-only in
    the sandbox (mutually exclusive with partition_by here); on Iceberg the
    equivalent is the `bucket(n, col)` partition transform. The spec is
    committed in the marker so a resume re-registers the table by DDL.

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
    if bucket_by is not None:
        if fmt != "parquet":
            raise ValueError(
                "bucket_by checkpoints are parquet-only in the sandbox; on "
                "Iceberg use the bucket(n, col) partition transform instead")
        if partition_by:
            raise ValueError("bucket_by and partition_by are mutually "
                             "exclusive for stage checkpoints")
        col, n = bucket_by
        table = _bucket_table_name(stage_dir)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        (observed.write.mode("overwrite").format(fmt).option("path", data_path)
         .bucketBy(n, col).sortBy(col).saveAsTable(table))
    else:
        w = observed.write.mode("overwrite")
        if part:
            w = w.partitionBy(*part)
        w.format(fmt).save(data_path)

    lineage = obs.get
    if lineage.get("sha256_mismatch"):
        raise Sha256InvariantError(f"stage {stage!r} not committed: {lineage['sha256_mismatch']}"
                                   " rows whose content does not hash to content_sha256")
    marker = {"stage": stage, "rows": lineage["n_rows"], "fmt": fmt,
              "seconds": round(time.perf_counter() - t0, 3),
              "lineage": {**lineage, "schema": ddl}}
    if bucket_by is not None:
        marker["bucket_by"] = list(bucket_by)
    with open(_marker_path(stage_dir), "w", encoding="utf-8") as f:
        json.dump(marker, f)


def checkpoint_format() -> str:
    """Stage-sink format: 'parquet' (sandbox default) or e.g. 'iceberg' via
    SPARK_GRAFT_CHECKPOINT_FORMAT (cluster with the runtime jar + catalog)."""
    return os.environ.get("SPARK_GRAFT_CHECKPOINT_FORMAT", "parquet")


def committed_format(stage_dir: str) -> str | None:
    """The format a completed stage was actually written with (from its
    _STAGE_DONE marker); None if the stage is incomplete or the marker
    predates format recording."""
    return _marker(stage_dir).get("fmt") if stage_done(stage_dir) else None


def _resolve_resume_format(stage_dir: str, fmt: str) -> str:
    """Resume-format guard: a checkpoint written as parquet must never be
    read with the Iceberg reader (or vice versa) just because
    SPARK_GRAFT_CHECKPOINT_FORMAT changed between runs — that is a silent
    wrong-reader read. Hard-fails on mismatch, like the n_chunks guard."""
    committed = committed_format(stage_dir)
    if committed is not None and committed != fmt:
        raise ValueError(
            f"checkpoint format mismatch at {stage_dir}: stage was committed "
            f"with fmt={committed!r} but fmt={fmt!r} was requested (is "
            f"SPARK_GRAFT_CHECKPOINT_FORMAT different from the writing "
            f"run's?); resume with the committed format or delete the stage "
            f"dir to rewrite it")
    return committed or fmt


def run_stage(spark: SparkSession, workdir: str, stage: str, build,
              partition_by: list[str] | None = None,
              fmt: str | None = None,
              bucket_by: tuple[str, int] | None = None) -> DataFrame:
    """Compute-or-resume: if the stage marker exists, read the checkpoint;
    otherwise build(), checkpoint, and read back (truncating lineage).
    partition_by lays the checkpoint out hive-partitioned — downstream
    filters on those columns become partition pruning, not data scans.
    bucket_by=(col, n) lays it out as a bucketed table — downstream
    joins/groupBys on the key plan with no exchange (see write_stage); the
    returned frame is the catalog-table read, which is what carries the
    bucket spec (a bare path read silently drops it). The read uses the
    marker's schema: a resumed stage runs no Spark job."""
    fmt = fmt or checkpoint_format()
    stage_dir = os.path.join(workdir, stage)
    data_path = os.path.join(stage_dir, "data")
    if not stage_done(stage_dir):
        os.makedirs(stage_dir, exist_ok=True)
        write_stage(build(), stage_dir, stage, partition_by=partition_by,
                    fmt=fmt, bucket_by=bucket_by)
    else:
        fmt = _resolve_resume_format(stage_dir, fmt)
        committed_bucket = _marker(stage_dir).get("bucket_by")
        if bucket_by is not None and list(bucket_by) != committed_bucket:
            raise ValueError(
                f"bucketed-checkpoint resume mismatch at {stage_dir}: "
                f"committed bucket_by={committed_bucket} vs requested "
                f"{list(bucket_by)}; delete the stage dir to rewrite it")
        bucket_by = tuple(committed_bucket) if committed_bucket else None
    schema = _committed_schema(stage_dir)
    if bucket_by is not None:
        return spark.table(_register_bucketed_table(spark, stage_dir, bucket_by, schema))
    return _read(spark, fmt, data_path, schema)


def chunked_stage(
    spark: SparkSession,
    workdir: str,
    stage: str,
    source: DataFrame,
    transform,
    key_col: str = "message_id",
    n_chunks: int = 8,
    fmt: str | None = None,
) -> DataFrame:
    """Stage with intra-stage resume: the input is hash-split on key_col into
    n_chunks; each chunk is transformed and committed independently (its own
    data dir + marker). A restart skips finished chunks — finished partitions
    are never recomputed. Output is the multi-chunk parquet scan.

    A stage-level manifest (chunking params) is committed BEFORE the first
    chunk: resuming with a different n_chunks/key_col would silently change
    the pmod memberships (duplicated + missing rows), so it hard-fails.

    Scan amplification: with a plain source, every chunk's filter re-scans
    the full input (n_chunks× read amplification — fatal at 100 TB). When
    the source carries a ``_chunk`` column AND was checkpointed partitioned
    by it (see ``with_chunk_column`` + ``run_stage(partition_by=...)``),
    the per-chunk filter is a PARTITION-PRUNING predicate: each chunk reads
    only its own files, total read = one pass over the input."""
    stage_dir = os.path.join(workdir, stage)
    os.makedirs(stage_dir, exist_ok=True)
    fmt = fmt or checkpoint_format()
    if stage_done(stage_dir) and _marker(stage_dir).get("gc_chunks"):
        raise ValueError(
            f"chunked_stage: chunk dirs at {stage_dir} were "
            f"garbage-collected after finalization (gc_chunk_dirs) "
            f"— read the finalized stage instead, or delete the "
            f"stage dir to recompute from scratch")
    manifest_path = os.path.join(stage_dir, "_CHUNK_MANIFEST")
    manifest = {"key_col": key_col, "n_chunks": n_chunks, "fmt": fmt}
    if os.path.exists(manifest_path):
        with open(manifest_path, encoding="utf-8") as f:
            committed = json.load(f)
        # a manifest written before format recording has no 'fmt' key —
        # tolerate it (like committed_format's None), compare the rest
        if {**committed, "fmt": committed.get("fmt", fmt)} != manifest:
            raise ValueError(
                f"chunked_stage resume mismatch at {stage_dir}: committed "
                f"{committed} vs requested {manifest}; restart the stage "
                f"(delete the dir) or resume with the committed parameters")
    else:
        with open(manifest_path, "w", encoding="utf-8") as f:
            json.dump(manifest, f)
    if CHUNK_COL in source.columns:
        # guard against a committed _chunk domain wider than this loop: a
        # source bucketed 0..7 consumed with n_chunks=4 would silently drop
        # buckets 4..7 (partition-column-only scan — cheap, values come from
        # the hive directory names)
        max_chunk = source.agg(F.max(CHUNK_COL)).collect()[0][0]
        if max_chunk is not None and max_chunk >= n_chunks:
            raise ValueError(
                f"chunked_stage: source carries {CHUNK_COL} up to {max_chunk} "
                f"but n_chunks={n_chunks} would process only 0..{n_chunks - 1}; "
                f"pass the n_chunks the source was bucketed with")
        chunk_key = F.col(CHUNK_COL)
    else:
        chunk_key = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_chunks))
    for chunk in range(n_chunks):
        cdir = os.path.join(stage_dir, f"chunk={chunk}")
        if stage_done(cdir):
            continue
        os.makedirs(cdir, exist_ok=True)
        part = source.where(chunk_key == chunk)
        write_stage(transform(part), cdir, f"{stage}/chunk={chunk}", fmt=fmt)
    with open(_marker_path(stage_dir), "w", encoding="utf-8") as f:
        json.dump({"stage": stage, "chunks": n_chunks}, f)
    return _read(spark, fmt, os.path.join(stage_dir, "chunk=*", "data"),
                 _committed_schema(os.path.join(stage_dir, "chunk=0")))


def gc_chunk_dirs(workdir: str, stage: str, finalized_stage: str) -> list[str]:
    """Reclaim a chunked stage's per-chunk resume dirs once a finalize stage
    over the same rows has committed (e.g. the pipeline's extract →
    extract_bucketed rewrite: the chunk dirs are resume points only, never
    read again once the finalize marker exists).

    Refuses to delete anything unless (a) the finalize stage's marker
    exists AND (b) the finalize marker's committed row count equals the sum
    of the chunk markers' row counts — a finalize that silently dropped
    rows must not destroy the only copy that still has them. Returns the
    removed chunk-dir paths (empty when already collected). The chunked
    stage's own marker and manifest are kept and annotated
    (``gc_chunks: true``); a later ``chunked_stage`` call on the collected
    dir fails loudly on that flag rather than silently recomputing."""
    import shutil

    stage_dir = os.path.join(workdir, stage)
    fin_dir = os.path.join(workdir, finalized_stage)
    if not stage_done(fin_dir):
        raise ValueError(
            f"gc_chunk_dirs: finalize stage {fin_dir} has no marker — the "
            f"chunk dirs are still the only committed copy")
    fin_rows = committed_rows(fin_dir)
    chunk_dirs = sorted(
        os.path.join(stage_dir, d) for d in os.listdir(stage_dir)
        if d.startswith("chunk=")) if os.path.isdir(stage_dir) else []
    if not chunk_dirs:
        return []
    chunk_rows = 0
    for cdir in chunk_dirs:
        if not stage_done(cdir):
            raise ValueError(f"gc_chunk_dirs: incomplete chunk {cdir} — "
                             f"the chunked stage never finished")
        chunk_rows += committed_rows(cdir)
    if chunk_rows != fin_rows:
        raise ValueError(
            f"gc_chunk_dirs: finalize stage {fin_dir} committed {fin_rows} "
            f"rows but the chunk markers sum to {chunk_rows} — refusing to "
            f"delete the copy that disagrees")
    for cdir in chunk_dirs:
        shutil.rmtree(cdir)
    if stage_done(stage_dir):
        marker = _marker(stage_dir)
        marker["gc_chunks"] = True
        with open(_marker_path(stage_dir), "w", encoding="utf-8") as f:
            json.dump(marker, f)
    return chunk_dirs


def verify_stage_lineage(spark: SparkSession, stage_dir: str,
                         fmt: str | None = None) -> dict:
    """Re-verify a checkpointed stage against the lineage in its marker.

    bit_xor is associative and commutative, so the content signature of a
    fresh scan equals the one observed at write time however the data is
    partitioned on re-read. Compares row count + content signature (+ the
    sha256 keys when present). Returns {'ok': bool, ...evidence}. A
    marker written before marker-held lineage is checked against the
    XOR-fold of its per-partition ``_lineage`` parquet rows.

    The reader format is the one the marker committed, whatever the ambient
    env says; an EXPLICITLY passed fmt that contradicts it hard-fails, same
    contract as run_stage."""
    if fmt is not None:
        fmt = _resolve_resume_format(stage_dir, fmt)
    else:
        fmt = committed_format(stage_dir) or checkpoint_format()
    data = _read(spark, fmt, os.path.join(stage_dir, "data"),
                 _committed_schema(stage_dir))
    fresh = data.agg(*_lineage_aggs(data.columns)).collect()[0].asDict()
    stored = dict(_marker(stage_dir).get("lineage") or {})
    if stored:
        stored.pop("schema")
    else:
        lin = spark.read.parquet(os.path.join(stage_dir, "_lineage"))
        stored = lin.agg(F.sum("n_rows").alias("n_rows"), *[
            F.bit_xor(k).alias(k) for k in ("content_sig", "sha256_sig")
            if k in lin.columns]).collect()[0].asDict()
    checks = {k: (stored[k] or 0) == (fresh.get(k) or 0) for k in stored}
    return {"ok": all(checks.values()), "checks": checks,
            "stored": stored, "fresh": {k: fresh.get(k) for k in checks}}


"""spread() gate semantics (operators/linking.py).

The helper must (a) repartition a narrow plan over an under-split scan up to
core count, (b) be the IDENTITY on frames whose plan already contains a
shuffle node (their parallelism is spark.sql.shuffle.partitions), (c) be the
identity when the scan's estimated split count already covers the cores, and
(d) pass streaming frames through untouched. It must never execute the
frame's upstream stages — the df.rdd probe it replaces did exactly that
under AQE (and reported the post-coalesce count); the no-jobs property is
pinned via the status tracker.
"""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from amharic_ecommerce_data_extractor_spark.operators.linking import spread


def _jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


@pytest.fixture(scope="module")
def small_scan(spark):
    """A one-split parquet scan (single tiny file)."""
    d = tempfile.mkdtemp(prefix="spread_scan_")
    spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
    ).coalesce(1).write.mode("overwrite").parquet(d)
    return spark.read.parquet(d)


def test_spread_repartitions_under_split_scan(spark, small_scan):
    out = spread(small_scan, "doc_id")
    assert out is not small_scan
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" in plan
    # values untouched, parallelism raised to core count
    assert out.count() == 1000
    cores = spark.sparkContext.defaultParallelism
    assert f"RepartitionByExpression [doc_id" in plan and f", {cores}" in plan


def test_spread_identity_on_shuffled_plan(spark, small_scan):
    for derived in (
        small_scan.groupBy("text").agg(F.count("*").alias("n")),
        small_scan.join(small_scan.select("doc_id"), "doc_id"),
        small_scan.repartition(2, "doc_id"),
        small_scan.orderBy("doc_id"),
        small_scan.dropDuplicates(["doc_id"]),
    ):
        assert spread(derived, *(
            ["doc_id"] if "doc_id" in derived.columns else [])) is derived


def test_spread_identity_when_splits_cover_cores(spark):
    cores = spark.sparkContext.defaultParallelism
    d = tempfile.mkdtemp(prefix="spread_many_")
    spark.range(10_000).repartition(cores * 2).write.mode("overwrite").parquet(d)
    scan = spark.read.parquet(d)
    assert len(scan.inputFiles()) >= cores
    assert spread(scan, "id") is scan


def test_spread_never_executes_the_frame(spark, small_scan):
    """The gate must not run upstream stages: job count unchanged across the
    spread() call on a derived (shuffle-bearing) frame — the exact case where
    the old df.rdd probe silently executed the pipeline."""
    derived = small_scan.groupBy("text").agg(F.count("*").alias("n"))
    before = _jobs(spark)
    spread(derived)
    spread(small_scan, "doc_id")
    assert _jobs(spark) == before


def test_spread_streaming_passthrough(spark, small_scan, tmp_path):
    src = str(tmp_path / "stream_src")
    small_scan.write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(small_scan.schema).parquet(src)
    assert sdf.isStreaming
    assert spread(sdf, "doc_id") is sdf


def test_spread_fires_with_suffixed_max_partition_bytes(spark, small_scan):
    # a suffixed maxPartitionBytes ('128m') must be read as 128 MiB, not
    # 128 bytes (thousands of estimated splits -> identity); the gate fires
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
    try:
        from amharic_ecommerce_data_extractor_spark.operators.linking import (
            spread,
        )

        out = spread(small_scan)
        assert out.rdd.getNumPartitions() == \
            spark.sparkContext.defaultParallelism
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

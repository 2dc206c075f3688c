"""Corpus-curation pipeline over documents: dedup → quality/length filters →
per-source caps, with per-stage audit."""

from amharic_ecommerce_data_extractor_spark.operators.curation import (
    curate,
    token_budget_report,
)


def test_curate_documents(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # duplicate the corpus so dedup has real work
    from pyspark.sql import functions as F

    pool = docs.unionByName(docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang", "source", "n_chars"))
    curated, audit = curate(pool, min_quality=0.3, min_tokens=5, per_source_cap=40)
    stages = {r["stage"]: r["rows_surviving"] for r in audit.collect()}
    assert stages["input"] == pool.count()
    assert stages["dedup"] <= docs.count()         # exact dupes collapse
    assert stages["quality_and_length"] <= stages["dedup"]
    assert stages["per_source_cap"] <= stages["quality_and_length"]
    assert curated.count() == stages["per_source_cap"]
    # caps respected
    per_src = curated.groupBy("source").count().agg(F.max("count")).collect()[0][0]
    assert per_src <= 40
    # audit columns carried
    assert {"quality", "n_tokens", "script"} <= set(curated.columns)

    rep = token_budget_report(curated).collect()[0]
    assert rep["ws_tokens"] > 0 and rep["bpe_ish_tokens"] >= rep["ws_tokens"]


def test_curate_preserves_caller_cache(spark, sf_dir):
    """persist/unpersist is not refcounted: curate() must not evict a cache
    the CALLER created on the input frame (it only releases caches it took
    itself)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").persist()
    try:
        docs.count()
        curated, audit = curate(docs, min_quality=0.0, min_tokens=1)
        audit.collect()
        lvl = docs.storageLevel
        assert lvl.useMemory or lvl.useDisk, \
            "curate() evicted the caller's cache on the input frame"
        assert curated.count() > 0
    finally:
        docs.unpersist()


def test_curate_audit_job_budget(spark, sf_dir):
    """q37's curate() call fills its four-stage audit from one action plus
    dedup's barrier jobs, not one count per stage (32 jobs with per-stage
    counts)."""
    from tests.test_checkpoint_lineage import _jobs_in_group

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = {}

    def run():
        out["curated"], out["audit"] = curate(
            docs, min_quality=0.3, min_tokens=5, per_source_cap=100,
            hash_fn="md5")

    n_jobs = _jobs_in_group(spark, "curate-q37", run)
    out["curated"].unpersist()
    assert len(out["audit"].collect()) == 4
    assert n_jobs <= 24, n_jobs


def test_curate_stage_keeping_no_rows_audits_zero(spark, sf_dir):
    """A stage with no surviving rows still reports its observation (0), and
    so does the per-source cap over it; run in a thread so a blocked
    Observation.get fails the test instead of hanging the suite."""
    import threading

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    result, errors = {}, []

    def run():
        try:
            curated, audit = curate(docs, min_quality=2.0, per_source_cap=10)
            result["stages"] = {r["stage"]: r["rows_surviving"]
                                for r in audit.collect()}
            result["n"] = curated.count()
            curated.unpersist()
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=240)
    assert not t.is_alive(), "curate() blocked on a stage that keeps no rows"
    assert not errors, errors
    assert result["stages"]["input"] == docs.count()
    assert result["stages"]["dedup"] > 0
    assert result["stages"]["quality_and_length"] == 0
    assert result["stages"]["per_source_cap"] == 0
    assert result["n"] == 0


def test_curate_winnowing_audit_equals_stage_counts(spark, sf_dir):
    from amharic_ecommerce_data_extractor_spark.operators.dedup import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    curated, audit = curate(docs, min_quality=0.3, min_tokens=5,
                            dedup_method="winnowing")
    stages = {r["stage"]: r["rows_surviving"] for r in audit.collect()}
    assert list(stages) == ["input", "dedup", "quality_and_length"]
    assert stages["input"] == docs.count()
    assert stages["dedup"] == dedup(docs, method="winnowing",
                                    winnow_min_shared=8).count()
    assert stages["quality_and_length"] == curated.count()
    curated.unpersist()

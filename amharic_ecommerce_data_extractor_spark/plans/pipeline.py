"""End-to-end staged KG-construction pipeline (the rebuild of the reference's
5-stage CLI ``scripts/run_pipeline.py:251-287`` as a checkpointed Spark DAG).

Stages (each checkpointed once, with its lineage in the stage marker,
resumable; a stage whose content breaks its content_sha256 is never
committed):

  ingest     raw message corpus (synthetic generator here; any parquet/Iceberg
             table of the graft shape in production)
  extract    fused preprocess→tokenize→BIO→entities (one Arrow stage),
             chunked for intra-stage resume; each chunk is committed with
             its own marker, and the chunk dirs are the extract checkpoint
  triples    (subj, pred, obj, message_id, confidence) emission
  link       MinHash-LSH blocking + connected components → canonical surfaces
  graph      canonical nodes + canonical triples (the materialized KG)
  scorecard  vendor KPI + lending score over the canonical graph

Run:  python -m amharic_ecommerce_data_extractor_spark.plans.pipeline \\
          --workdir /tmp/kg --messages 5000 [--input <parquet>] [--cpus 8]

A re-run with the same --workdir resumes: finished stages (and finished
chunks inside the extract stage) are read back, not recomputed.
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.extract import extract_entities
from ..operators.graph_features import vendor_graph_features
from ..operators.linking import canonicalize_surfaces, canonicalize_triples
from ..operators.scorecard import vendor_scorecard
from ..operators.triples import emit_triples
from ..sources import checkpoint as ckpt


def entity_surfaces(extracted: DataFrame) -> DataFrame:
    """Distinct (type, surface) pairs from the entity arrays.

    One pass over ``extracted`` (typed struct arrays concatenated before a
    single explode, same shape as operators.triples.emit_triples): a
    per-type union would re-execute the upstream — including the Python
    extraction — once per type when the input is not materialized (the
    fused q34 path)."""
    def typed(col: str, etype: str):
        arr = F.coalesce(F.col(col), F.array().cast("array<string>"))
        return F.transform(arr, lambda s: F.struct(
            F.lit(etype).alias("type"), s.alias("surface")))

    pairs = F.concat(typed("products", "PRODUCT"), typed("locations", "LOC"))
    return (
        extracted.select(F.explode(pairs).alias("p"))
        .select(F.col("p.type").alias("type"), F.col("p.surface").alias("surface"))
        .where(F.length(F.trim("surface")) > 0)
        .dropDuplicates(["type", "surface"])
    )


def graph_nodes(canon: DataFrame, triples: DataFrame) -> DataFrame:
    """Node table of the materialized graph: vendors + canonical entities.

    One scan of the triples: each vendor-predicate row explodes into its
    (VENDOR, subj) node and, for ``contact``, its (CONTACT_INFO, obj) node;
    one dropDuplicates over those and the entity surfaces. A null subj or
    obj is a node: only the struct a non-contact row leaves out is null."""
    pred = F.col("pred")
    emitted = F.array(
        F.struct(F.lit("VENDOR").alias("type"), F.col("subj").alias("surface")),
        F.when(pred == "contact",
               F.struct(F.lit("CONTACT_INFO").alias("type"), F.col("obj").alias("surface"))))
    from_triples = (triples.where(pred.isin("sells", "located_in", "contact"))
                    .select(F.explode(emitted).alias("n")).where(F.col("n").isNotNull())
                    .select("n.type", "n.surface"))
    ents = canon.select("type", F.col("canonical_surface").alias("surface"))
    nodes = from_triples.unionByName(ents).dropDuplicates(["type", "surface"])
    return nodes.select(F.xxhash64("type", "surface").alias("node_id"), "type", "surface")


def run_pipeline(
    spark: SparkSession,
    workdir: str,
    n_messages: int = 5000,
    input_path: str | None = None,
    n_chunks: int = 8,
    lsh_threshold: float = 0.6,
    verify_lineage: bool = False,
) -> dict:
    """Checkpoint format: parquet in this sandbox; set
    SPARK_GRAFT_CHECKPOINT_FORMAT=iceberg (with the runtime jar + catalog
    configured on the cluster) to write every stage as Iceberg tables — the
    sinks are format-dispatched (sources/checkpoint.py write_stage).
    verify_lineage=True re-verifies every completed stage checkpoint against
    the lineage committed in its marker (partition-invariant signature fold)
    at the end — one extra scan per stage, the paranoid/audit mode. The
    summary counts come from the stage markers, not from re-scans."""
    os.makedirs(workdir, exist_ok=True)
    metrics: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        out = fn()
        metrics[name] = round(time.perf_counter() - t0, 3)
        return out

    # Stage 0: ingest — checkpointed hive-partitioned by the chunk bucket,
    # so the chunked extract stage reads each chunk via PARTITION PRUNING
    # (one total pass over the input, not n_chunks full scans)
    def build_ingest():
        if input_path:
            raw = spark.read.parquet(input_path)
        else:
            from ..data.synthetic import generate_messages

            raw = generate_messages(spark, n_rows=n_messages,
                                    n_vendors=max(20, n_messages // 200))
        return ckpt.with_chunk_column(raw, n_chunks=n_chunks)

    messages = timed("ingest", lambda: ckpt.run_stage(
        spark, workdir, "ingest", build_ingest, partition_by=[ckpt.CHUNK_COL]))

    # Stage 1: chunked extract (intra-stage resume; the chunk filter prunes
    # ingest partitions). The committed chunk dirs are the extract
    # checkpoint every later stage reads.
    extracted = timed("extract", lambda: ckpt.chunked_stage(
        spark, workdir, "extract", messages,
        lambda part: extract_entities(part).drop(ckpt.CHUNK_COL),
        n_chunks=n_chunks))

    # Stage 2: raw triples
    triples = timed("triples", lambda: ckpt.run_stage(
        spark, workdir, "triples", lambda: emit_triples(extracted)))

    # Stage 3: entity linking / canonicalization
    canon = timed("link", lambda: ckpt.run_stage(
        spark, workdir, "link",
        lambda: canonicalize_surfaces(entity_surfaces(extracted), threshold=lsh_threshold)))

    # Stage 4: materialized graph (canonical triples + nodes)
    canon_triples = timed("graph_triples", lambda: ckpt.run_stage(
        spark, workdir, "graph_triples", lambda: canonicalize_triples(triples, canon)))
    timed("graph_nodes", lambda: ckpt.run_stage(
        spark, workdir, "graph_nodes", lambda: graph_nodes(canon, canon_triples)))

    # Stage 5: vendor scorecard + graph-derived vendor features
    timed("scorecard", lambda: ckpt.run_stage(
        spark, workdir, "scorecard", lambda: vendor_scorecard(extracted)))
    timed("graph_features", lambda: ckpt.run_stage(
        spark, workdir, "graph_features",
        lambda: vendor_graph_features(canon_triples)))

    def rows(stage: str) -> int:
        return ckpt.committed_rows(os.path.join(workdir, stage))

    summary = {
        "workdir": workdir,
        "messages": rows("ingest"),
        "triples": rows("graph_triples"),
        "nodes": rows("graph_nodes"),
        "vendors": rows("scorecard"),
        "vendors_with_graph_features": rows("graph_features"),
        "stage_seconds": metrics,
    }
    if verify_lineage:
        results = {}
        for stage in ("ingest", "triples", "link", "graph_triples",
                      "graph_nodes", "scorecard", "graph_features"):
            results[stage] = ckpt.verify_stage_lineage(
                spark, os.path.join(workdir, stage))["ok"]
        for chunk in range(n_chunks):
            results[f"extract/chunk={chunk}"] = ckpt.verify_stage_lineage(
                spark, os.path.join(workdir, "extract", f"chunk={chunk}"))["ok"]
        assert all(results.values()), f"lineage verification failed: {results}"
        summary["lineage_verified"] = len(results)
    return summary


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--messages", type=int, default=5000)
    ap.add_argument("--input", default=None)
    ap.add_argument("--chunks", type=int, default=8)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--verify-lineage", action="store_true")
    args = ap.parse_args()

    from ..session import get_spark

    spark = get_spark(app_name="kg_pipeline", cores=args.cpus)
    try:
        summary = run_pipeline(spark, args.workdir, n_messages=args.messages,
                               input_path=args.input, n_chunks=args.chunks,
                               verify_lineage=args.verify_lineage)
        print(json.dumps(summary))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

"""Physical-plan audits: these tests pin the *plan shapes* that make the
engine scale — predicate pushdown into the parquet scan, column pruning,
broadcast joins for dimensions, whole-stage codegen coverage, and the
narrow (shuffle-free) extraction stage."""

import pytest
from pyspark.sql import functions as F

from amharic_ecommerce_data_extractor_spark.data.synthetic import generate_messages
from amharic_ecommerce_data_extractor_spark.operators.extract import extract_entities
from amharic_ecommerce_data_extractor_spark.queries import SPARK_QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .where(F.col("l_shipdate") <= "1995-01-01")
          .select("l_orderkey", "l_quantity"))
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q")))
    plan = _plan(df)
    assert "ReadSchema: struct<l_quantity:double,l_returnflag:string>" in plan


def test_dimension_joins_broadcast(spark, sf_dir):
    plan = _plan(SPARK_QUERIES["q02_revenue_by_segment"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q1_is_fully_codegen(spark, sf_dir):
    df = SPARK_QUERIES["q01_pricing_summary"](spark, sf_dir)
    df.collect()  # AQE finalizes the plan at execution
    plan = _plan(df)
    # '*(n)' prefixes mark whole-stage-codegen'd operators in the final plan
    assert "*(" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # map-side partial aggregation before the exchange
    assert plan.index("partial_sum") > 0


def test_extraction_stage_is_narrow(spark):
    msgs = generate_messages(spark, n_rows=50, n_vendors=5)
    ext = extract_entities(msgs)  # no repartition: must add NO shuffle
    plan = _plan(ext)
    assert "Exchange" not in plan, "extraction must not shuffle"
    assert "ArrowEvalPython" in plan  # struct-returning pandas UDF


def test_triples_have_no_shuffle(spark):
    from amharic_ecommerce_data_extractor_spark.operators.triples import emit_triples

    msgs = generate_messages(spark, n_rows=50, n_vendors=5)
    plan = _plan(emit_triples(extract_entities(msgs)))
    assert "Exchange" not in plan, "triple emission must stay narrow"


def test_scorecard_plan_shape(spark):
    from amharic_ecommerce_data_extractor_spark.operators.scorecard import vendor_scorecard

    msgs = generate_messages(spark, n_rows=50, n_vendors=5)
    plan = _plan(vendor_scorecard(extract_entities(msgs)))
    # exactly one Python pass per stage — MapInPandas generator +
    # ArrowEvalPython extractor — with NO diamond recompute (a stats cross
    # join would double these), one vendor hash shuffle, and the tiny
    # single-partition normalization window
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange SinglePartition") == 1, plan


def test_scorecard_broadcast_stats_no_window(spark):
    """stats_mode='broadcast' (the staged-pipeline setting) must normalize
    with agg + crossJoin(broadcast) — no window operator at all, so no
    single-partition WindowExec straggler at high vendor cardinality — and
    produce EXACTLY the window-mode values."""
    from amharic_ecommerce_data_extractor_spark.operators.scorecard import vendor_scorecard

    msgs = generate_messages(spark, n_rows=200, n_vendors=8)
    ext = extract_entities(msgs).localCheckpoint()  # staged input, no diamond
    win = vendor_scorecard(ext).collect()
    bc_df = vendor_scorecard(ext, stats_mode="broadcast")
    assert "Window" not in _plan(bc_df)
    assert "BroadcastNestedLoopJoin" in _plan(bc_df) or "BroadcastExchange" in _plan(bc_df)
    assert bc_df.collect() == win


def test_graph_features_job_budget(spark):
    """vendor_graph_features aggregates each predicate slice once: one
    (vendor, product) and one vendor groupBy over sells, one over
    located_in + contact, windows over the vendor table only. The earlier
    per-predicate aggregations joined back ran 15 jobs here, and its
    broadcast rank decomposition 21."""
    from amharic_ecommerce_data_extractor_spark.operators.graph_features import (
        vendor_graph_features,
    )
    from amharic_ecommerce_data_extractor_spark.operators.triples import emit_triples
    from tests.test_checkpoint_lineage import _jobs_in_group

    msgs = generate_messages(spark, n_rows=200, n_vendors=8)
    triples = emit_triples(extract_entities(msgs)).localCheckpoint()
    out = []
    n_jobs = _jobs_in_group(spark, "graph-features",
                            lambda: out.extend(vendor_graph_features(triples).collect()))
    assert len(out) >= 3
    assert n_jobs <= 10, n_jobs


def test_scan_partition_sizing(spark, sf_dir):
    # files.maxPartitionBytes default keeps small sf files in few partitions;
    # the session must still give the big sf real parallelism potential
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert df.rdd.getNumPartitions() >= 1
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) >= 4
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_salted_topk_has_no_hot_key_window(spark):
    """q43's phase-1 window must be partitioned by (key, salt) — never by the
    bare hot key (which would serialize the mega-key through one task)."""
    from amharic_ecommerce_data_extractor_spark.operators.skew import salted_topk

    df = spark.createDataFrame([(i % 3, float(i), i) for i in range(100)],
                               "k long, v double, t long")
    out = salted_topk(df, key="k", order_col="v", k=3, tie_col="t")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    windows = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert len(windows) == 2
    # phase 1 (deeper in the tree = later in the printed plan) carries _salt
    assert "_salt" in windows[-1]


def test_knn_lsh_banded_exchange_is_ids_only(spark):
    """The LSH band explode / (band, sig) self-join / candidate dedup must
    never carry the embedding vector — vectors enter the plan only in the
    rerank rejoin AFTER candidate dedup. Otherwise every vector is replicated
    ×n_bands on both sides of the band join (the round-2 anti-pattern)."""
    from amharic_ecommerce_data_extractor_spark.operators.similarity import knn_lsh

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 13) for d in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>")
    df = knn_lsh(emb, emb, k=3, dim=8, n_bands=4, bits_per_band=4)
    plan = _optimized(df)
    # the Generate (explode) nodes list the columns retained alongside the
    # exploded bands — ids only, no vector/norm ride-along
    gen_lines = [ln for ln in plan.splitlines() if "explode" in ln]
    assert gen_lines, plan
    assert all("_vec" not in ln and "_norm" not in ln for ln in gen_lines), gen_lines
    # candidate dedup groups on the two ids only
    dedup_lines = [ln for ln in plan.splitlines()
                   if "Aggregate" in ln and "query_id" in ln and "neighbor_id" in ln]
    assert dedup_lines and all("_vec" not in ln for ln in dedup_lines), dedup_lines


def test_knn_ivf_join_is_equi_on_cell(spark):
    """IVF probe join must be an equi join on the cell id — never a cross
    join (that is the whole point of the coarse quantizer)."""
    from amharic_ecommerce_data_extractor_spark.operators.similarity import (
        ivf_assign,
        knn_ivf,
    )

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 13) for d in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>")
    cents = [[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]]
    plan = knn_ivf(emb.limit(4), ivf_assign(emb, cents), cents, k=3, nprobe=1) \
        ._jdf.queryExecution().optimizedPlan().toString()
    import re

    join_lines = [ln for ln in plan.splitlines() if "Join Inner" in ln]
    assert join_lines and all(re.search(r"\(cell#\d+ = cell#\d+\)", ln)
                              for ln in join_lines), join_lines
    assert "Join Cross" not in plan


def test_ann_plans_have_no_interpreted_folds(spark, tmp_path):
    """knn_ivf's probes and both sides' norms, and knn_lsh's signatures, come
    from the Arrow projection kernel: no lambda fold over the vectors in
    their optimized plans, over a freshly assigned corpus or a written
    index."""
    from amharic_ecommerce_data_extractor_spark.operators.similarity import (
        ivf_assign,
        ivf_index_write,
        knn_ivf,
        knn_lsh,
    )

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 13) for d in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>")
    cents = [[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]]
    idx = str(tmp_path / "ivf_index")
    ivf_index_write(emb, cents, idx)
    for cells in (ivf_assign(emb, cents), spark.read.parquet(idx)):
        plan = _optimized(knn_ivf(emb.limit(4), cells, cents, k=3, nprobe=2))
        assert "lambdafunction" not in plan, plan
    plan = _optimized(knn_lsh(emb, emb, k=3, dim=8, n_bands=4, bits_per_band=4))
    assert "zip_with(" not in plan and "aggregate(" not in plan, plan


def test_winnowing_overlap_join_carries_no_text(spark):
    """The fingerprint-overlap self-join must exchange (fp, id) pairs only:
    document text stays inside the per-doc winnowing stage and never rides
    the join or the pair-count aggregate (same id-only discipline as
    banded_candidate_pairs / knn_lsh)."""
    from amharic_ecommerce_data_extractor_spark.operators.dedup import (
        fingerprint_overlap_pairs,
    )

    df = spark.createDataFrame(
        [(i, f"document number {i} with some shared filler text body") for i in range(20)],
        "doc_id long, text string")
    plan = _optimized(fingerprint_overlap_pairs(df, min_shared=1))
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
    assert join_lines, plan
    assert all("text" not in ln for ln in join_lines), join_lines
    agg_lines = [ln for ln in plan.splitlines() if "Aggregate" in ln]
    assert all("text" not in ln for ln in agg_lines), agg_lines

"""Connected-components at adversarial scale: a PATH graph maximizes the
large-star/small-star round count (diameter n, contracted ~geometrically per
round — the worst case the algorithm is designed around), and 10⁶ edges
exercises the non-'small' branch of connected_components (no repartition-8
shortcut).

Pins, on one run:
* correctness — every node lands in component 0 (the path's min id);
* convergence — the fixed point is reached WITHIN max_iter (stats out-param:
  converged=True, rounds < max_iter) and in the ~log2(n) range star-
  contraction predicts for a path (measured: 21 rounds for 10^6 edges);
* per-round cost — each round is ONE action (the lazy localCheckpoint is
  materialized by the signature aggregate, never a separate checkpoint job).
  Under AQE one action fans out into one tracked job per materialized
  exchange stage, so the tracker-level bound is rounds × S where S is the
  per-round plan's shuffle-stage count (large-star: groupBy + join + union
  distinct; small-star: same again; signature agg — ≲16 materialized stages
  in practice, plus setup slack). An eager-checkpoint regression (two
  materializations of the round plan) roughly DOUBLES jobs-per-round, which
  blows the bound; so does any upstream re-materialization (lineage leak
  through a broken localCheckpoint).
"""

import pytest
from pyspark.sql import functions as F

from amharic_ecommerce_data_extractor_spark.operators.linking import (
    connected_components,
)

N_EDGES = 1_000_000
MAX_ITER = 30
# measured on the 1M-edge path graph: 21 rounds (≈ log2(10^6) — the known
# star-contraction bound for a path) at ~9 tracker jobs/round under AQE
# (each materialized exchange stage is a tracked job). The bound carries
# structural headroom but stays below 2×: an eager-checkpoint regression
# (two materializations of the round plan) doubles jobs/round and fails.
JOBS_PER_ROUND_BOUND = 16
SETUP_SLACK = 12  # initial eager checkpoint + small-branch probe + stats agg


@pytest.mark.slow  # ~130 s on 4 cores; `pytest -m "not slow"` skips it
def test_path_graph_million_edges_converges_one_action_per_round(spark):
    edges = spark.range(N_EDGES).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "cc-stress"
    sc.setJobGroup(group, "cc path-graph stress")
    cc_stats: dict = {}
    try:
        # local_threshold=0: this test exists to exercise the DISTRIBUTED
        # star iteration at adversarial diameter; the default threshold would
        # route a 10^6-edge set to the single-task union-find fast path
        comp = connected_components(edges, max_iter=MAX_ITER, stats=cc_stats,
                                    local_threshold=0)
        stats = comp.agg(
            F.count("*").alias("n_nodes"),
            F.countDistinct("component").alias("n_components"),
            F.max("component").alias("max_component")).collect()[0]
        jobs = len(tracker.getJobIdsForGroup(group) or [])
    finally:
        sc.setJobGroup("", "")

    # one path → one component rooted at the min id, all nodes present
    assert stats["n_nodes"] == N_EDGES + 1
    assert stats["n_components"] == 1
    assert stats["max_component"] == 0

    # converged inside the cap, in the ~log2(n) range a path graph predicts
    # (measured 21 on this input; the operator's DEFAULT max_iter=50 keeps
    # headroom over any realistic diameter — see connected_components)
    assert cc_stats["converged"], cc_stats
    assert cc_stats["rounds"] < MAX_ITER, cc_stats
    assert cc_stats["rounds"] <= 23, cc_stats

    # per-round job budget (see module docstring): one action per round,
    # ≤ JOBS_PER_ROUND_BOUND AQE stage-jobs each, plus fixed setup
    bound = SETUP_SLACK + cc_stats["rounds"] * JOBS_PER_ROUND_BOUND
    assert jobs <= bound, (
        f"{jobs} jobs for {cc_stats['rounds']} rounds (bound {bound}) — "
        "eager-checkpoint or lineage-leak regression?")

"""Value pin for the rows-only q52_incremental_dedup registry entry: the
driver records execute-and-nonempty only for rows-only queries, so the
actual fold counts at sf0.001 are pinned here (same role as the prod-twin
value tests). The semantics behind the numbers are covered property-style
in tests/test_incremental_dedup.py; this golden catches silent drift in
the batch split, the greedy policy, or the band layout."""

from amharic_ecommerce_data_extractor_spark.queries import SPARK_QUERIES


import pytest

GOLDEN = {
    "/root/testdata/sf0.001": [(1, 250, 241, 1928), (2, 250, 235, 1880)],
    "/root/testdata/sf0.01": [(1, 250, 246, 1968), (2, 250, 230, 1840)],
}


@pytest.mark.parametrize("sf", sorted(GOLDEN))
def test_q52_golden_counts(spark, sf):
    got = sorted(
        tuple(r) for r in
        SPARK_QUERIES["q52_incremental_dedup"](spark, sf).collect())
    # batch 2 keeps fewer than batch 1 from the same-sized split: the
    # cross-batch duplicates the index catches — the point of the operator
    assert got == GOLDEN[sf]
    # band rows = 8 bands per kept doc with non-null signature
    for _, _, n_kept, n_band in got:
        assert n_band == 8 * n_kept


def test_q52_job_budget(spark, sf_dir):
    """q52 (two incremental_dedup calls, the index checkpoints and the
    counts) runs in a pinned number of Spark jobs."""
    from tests.test_checkpoint_lineage import _jobs_in_group

    n_jobs = _jobs_in_group(
        spark, "q52-budget",
        lambda: SPARK_QUERIES["q52_incremental_dedup"](spark, sf_dir).collect())
    assert n_jobs <= 78, n_jobs

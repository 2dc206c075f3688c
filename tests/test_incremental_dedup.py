"""Incremental (batch-over-index) dedup: greedy online policy, index
additions, bucketed one-sided-shuffle layout (operators/incremental.py).

The corpora are synthesized from disjoint word vocabularies so similarity
is fully controlled: docs from different families share zero 3-word
shingles (Jaccard 0), near-dup pairs are long texts differing in one word
(Jaccard ≈ 0.9) — far enough from the 0.7 threshold on both sides that the
deterministic 16-hash signature estimate cannot flip."""

import pytest
from pyspark.sql import Row, functions as F

from amharic_ecommerce_data_extractor_spark.operators.incremental import (
    DedupIndex,
    IndexRows,
    incremental_dedup,
    index_rows,
    sig_agreement,
)


def _words(prefix: str, n: int = 60) -> str:
    return " ".join(f"{prefix}w{i}" for i in range(n))


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def _ids(df, col="doc_id"):
    return sorted(r[0] for r in df.select(col).collect())


def _fold(spark, batches, **kw):
    """Fold batches through incremental_dedup, returning kept ids per batch
    and the final in-memory index."""
    idx = None
    kept_per_batch = []
    for b in batches:
        kept, adds = incremental_dedup(b, idx, **kw)
        kept = kept.localCheckpoint()
        adds = IndexRows(adds.sigs.localCheckpoint(),
                         adds.bands.localCheckpoint())
        kept_per_batch.append(_ids(kept))
        idx = adds if idx is None else idx.union(adds)
    return kept_per_batch, idx


def test_exact_fold_matches_whole_corpus(spark):
    # exact dupes only (disjoint vocabularies between families): folding in
    # ascending-id batches reproduces whole-corpus keep-min-id exactly
    rows = [(1, _words("a")), (2, _words("b")), (3, _words("c")),
            (4, _words("a")),                       # dup of 1, same batch
            (101, _words("b")), (102, _words("d")),  # 101 dup of 2, cross
            (103, _words("d"))]                      # dup of 102, same batch
    b1 = _docs(spark, rows[:4])
    b2 = _docs(spark, rows[4:])
    kept, _ = _fold(spark, [b1, b2])
    assert kept == [[1, 2, 3], [102]]

    from amharic_ecommerce_data_extractor_spark.operators.dedup import dedup
    whole = _ids(dedup(_docs(spark, rows)))
    assert sorted(kept[0] + kept[1]) == whole == [1, 2, 3, 102]


def test_cross_batch_near_dup_dropped(spark):
    tb = _words("b")
    tb_near = tb.rsplit(" ", 1)[0] + " CHANGED"
    b1 = _docs(spark, [(1, _words("a")), (2, tb)])
    b2 = _docs(spark, [(101, tb_near), (102, _words("e"))])
    kept, idx = _fold(spark, [b1, b2])
    assert kept == [[1, 2], [102]]
    # and the greedy evidence is recomputable: the dropped doc's signature
    # agrees >= threshold with an indexed signature
    dropped_sig = index_rows(_docs(spark, [(101, tb_near)])).sigs
    est = (dropped_sig.crossJoin(idx.sigs.select(F.col("minhash").alias("m2")))
           .select(sig_agreement(F.col("minhash"), F.col("m2")).alias("a")))
    assert est.agg(F.max("a")).first()[0] >= 0.7


def test_chain_through_intra_batch_dedup(spark):
    # indexed doc TC; batch 2 has an exact copy (105) and a near-dup of the
    # copy (106): intra-batch dedup merges them (keep 105), then the index
    # check removes 105 -> both gone, as whole-corpus CC would decide
    tc = _words("c")
    tc_near = tc.rsplit(" ", 1)[0] + " TAIL"
    b1 = _docs(spark, [(3, tc)])
    b2 = _docs(spark, [(105, tc), (106, tc_near), (107, _words("f"))])
    kept, _ = _fold(spark, [b1, b2])
    assert kept == [[3], [107]]


def test_reprocessing_same_batch_drops_everything(spark):
    b1 = _docs(spark, [(1, _words("a")), (2, _words("b"))])
    kept1, adds = incremental_dedup(b1, None)
    kept2, adds2 = incremental_dedup(b1, adds)
    assert _ids(kept1) == [1, 2]
    assert kept2.count() == 0
    assert adds2.sigs.count() == 0 and adds2.bands.count() == 0


def test_additions_cover_exactly_the_kept_docs(spark):
    b1 = _docs(spark, [(1, _words("a")), (2, _words("b")), (3, _words("a"))])
    kept, adds = incremental_dedup(b1, None)
    assert _ids(kept) == [1, 2]
    assert _ids(adds.sigs, "id") == [1, 2]
    assert set(r.id for r in adds.bands.collect()) == {1, 2}
    # 8 bands per doc, band keys folded to one column
    assert adds.bands.count() == 16


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_index_round_trip_and_one_sided_shuffle(spark, no_broadcast, tmp_path):
    from tests.plan_probes import join_exchange_count

    b1 = _docs(spark, [(1, _words("a")), (2, _words("b"))])
    b2 = _docs(spark, [(101, _words("b")), (102, _words("g"))])

    store = DedupIndex(spark, "t_incr_idx", n_buckets=8)
    store.drop()
    try:
        kept1, adds1 = incremental_dedup(b1, None)
        store.append(adds1)
        loaded = store.load()
        kept2, adds2 = incremental_dedup(b2, loaded)
        assert _ids(kept2) == [102]

        # storage fold == in-memory fold
        _, mem_idx = _fold(spark, [b1])
        kept2_mem, _ = incremental_dedup(b2, mem_idx)
        assert _ids(kept2_mem) == [102]

        # append the second batch and confirm the cumulative index state in
        # BOTH tables, then read the batch's result again: kept ids and
        # additions left lazy against the loaded index would re-evaluate
        # against the tables that now hold the batch's own signatures and
        # band keys, agree 1.0 with themselves and come out EMPTY (the
        # severed-lineage bug)
        store.append(adds2)
        assert _ids(kept2) == [102]
        assert _ids(adds2.sigs, "id") == [102]
        cumulative = store.load()
        assert _ids(cumulative.sigs, "id") == [1, 2, 102]
        assert sorted(set(r.id for r in cumulative.bands.collect())) == [1, 2, 102]

        # the scale property: joining a fresh batch's band rows against the
        # LOADED index shuffles only the batch side (1 exchange); the same
        # join against a plain-parquet twin shuffles both (2)
        probe = index_rows(b2).bands.withColumnRenamed("id", "bid")
        j_bucketed = probe.join(loaded.bands, "bkey")
        j_bucketed.collect()
        assert join_exchange_count(j_bucketed) == 1, \
            j_bucketed._jdf.queryExecution().executedPlan().toString()

        plain_path = str(tmp_path / "bands_plain")
        adds1.bands.write.mode("overwrite").parquet(plain_path)
        j_plain = probe.join(spark.read.parquet(plain_path), "bkey")
        j_plain.collect()
        assert join_exchange_count(j_plain) == 2
    finally:
        store.drop()


def test_sig_agreement_estimator_bounds(spark):
    df = spark.createDataFrame(
        [Row(a=[1, 2, 3, 4], b=[1, 2, 3, 4]),
         Row(a=[1, 2, 3, 4], b=[1, 2, 9, 9]),
         Row(a=[1, 2, 3, 4], b=[9, 9, 9, 9])])
    got = [r[0] for r in
           df.select(sig_agreement(F.col("a"), F.col("b"))).collect()]
    assert got == [1.0, 0.5, 0.0]


# ---------------------------------------------------------------------------
# Property: arbitrary batch splits, first-arrival-wins
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_greedy_exact_policy_any_split_order(spark, data):
    """Exact-dup classes (disjoint vocabularies, so near-dup never fires)
    assigned randomly to batches in random arrival order: after the fold,
    exactly one representative per class survives — the min id within the
    EARLIEST batch containing the class (first arrival wins, not global
    min id)."""
    n_class = data.draw(st.integers(2, 4), label="n_class")
    n_docs = data.draw(st.integers(4, 10), label="n_docs")
    cls = [data.draw(st.integers(0, n_class - 1), label=f"class_{i}")
           for i in range(n_docs)]
    n_batch = data.draw(st.integers(1, 3), label="n_batch")
    bat = [data.draw(st.integers(0, n_batch - 1), label=f"batch_{i}")
           for i in range(n_docs)]

    batches = []
    for b in range(n_batch):
        rows = [(i, _words(f"c{cls[i]}_")) for i in range(n_docs) if bat[i] == b]
        if rows:
            batches.append(_docs(spark, rows))
    kept_per_batch, _ = _fold(spark, batches)
    kept = sorted(i for ks in kept_per_batch for i in ks)

    want = []
    for c in set(cls):
        members = [i for i in range(n_docs) if cls[i] == c]
        first_batch = min(bat[i] for i in members)
        want.append(min(i for i in members if bat[i] == first_batch))
    assert kept == sorted(want)


def test_null_text_deduped_across_batches(spark):
    # null and blank texts share one signature, so exactly ONE of them
    # survives the whole fold: the index check drops every later arrival
    # (without it every batch would re-accept one null or blank survivor and
    # grow the index forever)
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("doc_id", T.LongType(), False),
                           T.StructField("text", T.StringType(), True)])
    rows = [[(1, "   "), (2, _words("a")), (3, None)],
            [(101, None), (102, _words("b")), (103, "")],
            [(201, None), (202, "   ")]]
    kept, idx = _fold(spark, [spark.createDataFrame(r, schema) for r in rows])
    assert kept == [[1, 2], [102], []]
    assert _ids(idx.sigs, "id") == [1, 2, 102]
    # and matches whole-corpus dedup()
    from amharic_ecommerce_data_extractor_spark.operators.dedup import dedup
    whole = spark.createDataFrame([r for b in rows for r in b], schema)
    assert sorted(kept[0] + kept[1]) == _ids(dedup(whole))


@pytest.mark.parametrize("threshold", [0, -0.5, 1.5, float("nan")])
def test_threshold_outside_unit_interval_raises_before_any_job(spark, threshold):
    # the index drops exact copies only because their agreement (1.0)
    # reaches the threshold, so a threshold above 1 would re-admit them
    from tests.test_checkpoint_lineage import _jobs_in_group

    b = _docs(spark, [(1, _words("a"))])

    def run():
        with pytest.raises(ValueError, match=repr(threshold)):
            incremental_dedup(b, None, threshold=threshold)

    assert _jobs_in_group(spark, "incremental-threshold", run) == 0


def test_incremental_dedup_job_budget(spark, sf_dir):
    """The sf0.001 documents in two batches, the second checked against the
    first's additions: both calls and their kept/band counts run in at most
    61 jobs."""
    from tests.test_checkpoint_lineage import _jobs_in_group

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mid = docs.agg(F.percentile_approx("doc_id", 0.5)).first()[0]
    counts = []

    def run():
        kept1, adds1 = incremental_dedup(docs.where(F.col("doc_id") <= mid))
        kept2, adds2 = incremental_dedup(docs.where(F.col("doc_id") > mid), adds1)
        counts.extend([kept1.count(), kept2.count(), adds2.bands.count()])

    n_jobs = _jobs_in_group(spark, "incremental-budget", run)
    assert counts[0] > 0 and counts[2] == 8 * counts[1]
    assert n_jobs <= 61, n_jobs

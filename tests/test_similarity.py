"""ANN: brute-force correctness, LSH and IVF recall on the clustered
embeddings table."""

import pytest
from pyspark.sql import functions as F

from amharic_ecommerce_data_extractor_spark.operators.similarity import (
    ivf_assign,
    ivf_train_centroids,
    knn_bruteforce,
    knn_ivf,
    knn_lsh,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def _recall(approx, exact):
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    return len(a & e) / len(e)


def test_bruteforce_self_consistency(spark, emb):
    queries = emb.where(F.col("vec_id") < 5)
    out = knn_bruteforce(queries, emb, k=3)
    rows = out.collect()
    assert len(rows) == 15
    assert all(-1.0 - 1e-9 <= r["sim"] <= 1.0 + 1e-9 for r in rows)
    # deterministic ranking
    again = knn_bruteforce(queries, emb, k=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_ivf_recall(spark, emb):
    queries = emb.where(F.col("vec_id") % 25 == 0)
    exact = knn_bruteforce(queries, emb, k=5)
    cent = ivf_train_centroids(emb, n_cells=8)
    approx = knn_ivf(queries, ivf_assign(emb, cent), cent, k=5, nprobe=4)
    assert _recall(approx, exact) >= 0.7
    # probing every cell = exact
    full = knn_ivf(queries, ivf_assign(emb, cent), cent, k=5, nprobe=8)
    assert _recall(full, exact) >= 0.99


def test_lsh_recall(spark, emb):
    queries = emb.where(F.col("vec_id") % 25 == 0)
    exact = knn_bruteforce(queries, emb, k=5)
    approx = knn_lsh(queries, emb, k=5, n_bands=24, bits_per_band=4)
    assert _recall(approx, exact) >= 0.55


def test_ivf_sampling_unbiased_on_partition_clustered_corpus(spark):
    """limit()-sampling takes the first partitions only: with cluster A
    occupying them, the quantizer would never see cluster B. takeSample is
    reservoir-style across partitions, so both true centers get a nearby
    centroid."""
    import numpy as np

    from amharic_ecommerce_data_extractor_spark.operators.similarity import (
        ivf_train_centroids,
    )

    rng = np.random.RandomState(0)
    dim = 8
    a = rng.normal(0, 0.05, (300, dim)) + np.array([1.0] + [0.0] * (dim - 1))
    b = rng.normal(0, 0.05, (300, dim)) + np.array([0.0] * (dim - 1) + [1.0])
    rows = [(i, [float(v) for v in x]) for i, x in enumerate(a)] + \
           [(1000 + i, [float(v) for v in x]) for i, x in enumerate(b)]
    # cluster A fills the first partitions (range-partitioned input order)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartitionByRange(6, "vec_id")

    cents = np.array(ivf_train_centroids(df, n_cells=2, dim=dim, sample_size=100, seed=1))
    for center in (a.mean(axis=0), b.mean(axis=0)):
        c = center / np.linalg.norm(center)
        assert max(float(c @ cent / np.linalg.norm(cent)) for cent in cents) > 0.95


def test_ivf_materialized_index_matches_and_prunes(spark, tmp_path):
    """knn_ivf over the written index == knn_ivf over ivf_assign
    result-for-result, and the indexed scan's physical plan prunes to the
    probed cells' partitions."""
    import numpy as np

    from amharic_ecommerce_data_extractor_spark.operators.similarity import (
        ivf_assign,
        ivf_index_write,
        ivf_train_centroids,
        knn_ivf,
    )

    rng = np.random.RandomState(1)
    rows = [(i, [float(v) for v in rng.normal(0, 1, 16)]) for i in range(400)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_train_centroids(emb, n_cells=4, dim=16, sample_size=200, seed=3)
    idx = str(tmp_path / "ivf_index")
    ivf_index_write(emb, cents, idx)

    queries = emb.where(F.col("vec_id") % 100 == 0)
    direct = sorted(tuple(r) for r in knn_ivf(queries, ivf_assign(emb, cents), cents,
                                              k=5, nprobe=2)
                    .select("query_id", "neighbor_id", "rnk").collect())
    indexed_df = knn_ivf(queries, spark.read.parquet(idx), cents, k=5, nprobe=2)
    indexed = sorted(tuple(r) for r in indexed_df
                     .select("query_id", "neighbor_id", "rnk").collect())
    assert direct == indexed

    # the index side of the join is a DynamicPruning/partition-keyed scan:
    # 'cell' must appear as a partition filter, not a post-scan data filter
    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:", 1)[1].split("]", 1)[0]
    assert "cell" in pf


def test_ivf_sizing_rule_scales_with_corpus():
    import numpy as np

    from amharic_ecommerce_data_extractor_spark.operators.similarity import ivf_sizing

    # √n cells, 50 samples per cell — and monotone in n
    assert ivf_sizing(1_000_000) == (1000, 50_000)
    assert ivf_sizing(10_000) == (100, 5_000)
    cells = [ivf_sizing(n)[0] for n in (100, 10_000, 1_000_000, 10**9)]
    assert cells == sorted(cells) and cells[-1] > 30_000
    # max_cells caps both knobs together (sample stays 50×cells)
    assert ivf_sizing(10**9, max_cells=4096) == (4096, 204_800)
    assert ivf_sizing(0) == (1, 50)
    assert np is not None


def test_ivf_train_centroids_size_hint(spark):
    import numpy as np

    from amharic_ecommerce_data_extractor_spark.operators.similarity import (
        ivf_sizing,
        ivf_train_centroids,
    )

    rng = np.random.RandomState(7)
    rows = [(i, [float(v) for v in rng.normal(0, 1, 8)]) for i in range(500)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # size_hint derives n_cells from the rule (√400 = 20), overriding the
    # sandbox default of 16; sample is capped by corpus size, centroids by
    # available samples
    cents = ivf_train_centroids(emb, dim=8, seed=5, size_hint=400)
    assert len(cents) == ivf_sizing(400)[0] == 20


def test_string_ids_give_the_long_id_results(spark, emb):
    """Ids keep their input type through every search: a zero-padded
    string-id copy of the corpus (string order = numeric order) gives the
    same (query, neighbor, rnk) as the long ids, with string ids out."""
    from amharic_ecommerce_data_extractor_spark.operators import similarity as sim

    corpus = emb.select("vec_id", "embedding")
    s_corpus = corpus.select(F.format_string("%06d", "vec_id").alias("vec_id"),
                             "embedding")
    cents = ivf_train_centroids(corpus, n_cells=8)
    searches = {
        "knn_bruteforce": lambda q, c: knn_bruteforce(q, c, k=5),
        "knn_lsh": lambda q, c: knn_lsh(q, c, k=5, n_bands=24, bits_per_band=4),
        "knn_ivf": lambda q, c: knn_ivf(q, ivf_assign(c, cents), cents, k=5, nprobe=2),
    }
    for name, search in searches.items():
        want = sorted((r["query_id"], r["neighbor_id"], r["rnk"]) for r in search(
            corpus.where(F.col("vec_id") % 25 == 0), corpus).collect())
        got = search(s_corpus.where(F.col("vec_id").cast("long") % 25 == 0),
                     s_corpus).collect()
        assert all(isinstance(r["query_id"], str) and isinstance(r["neighbor_id"], str)
                   for r in got), name
        assert sorted((int(r["query_id"]), int(r["neighbor_id"]), r["rnk"])
                      for r in got) == want, name

    # the join-shaped rerank on string ids, one batch: partial top-1 keeps,
    # of two tied neighbors, the first in string order ("n10" < "n9")
    joined = spark.createDataFrame(
        [("q1", "n9", [1.0, 0.0], [1.0, 0.0], 1.0, 1.0),
         ("q1", "n10", [1.0, 0.0], [1.0, 0.0], 1.0, 1.0),
         ("q1", "n2", [1.0, 0.0], [0.0, 1.0], 1.0, 1.0),
         ("q2", "n9", [0.0, 1.0], [0.0, 1.0], 1.0, 1.0)],
        "query_id string, neighbor_id string, q_vec array<float>, "
        "n_vec array<float>, q_norm double, n_norm double").coalesce(1)
    got = sim._cosine_rerank_arrow(joined, partial_topk=1).collect()
    assert sorted(tuple(r) for r in got) == [("q1", "n10", 1.0), ("q2", "n9", 1.0)]


def test_lsh_rerank_joins_past_the_broadcast_budget(spark, emb, monkeypatch):
    """Past the per-side byte budget (rows × dim × 8 B) knn_lsh joins the
    vectors onto the candidates instead of broadcasting them, with the same
    rows."""
    from amharic_ecommerce_data_extractor_spark.operators import similarity as sim

    queries = emb.where(F.col("vec_id") % 25 == 0)

    def run():
        df = knn_lsh(queries, emb, k=5, n_bands=24, bits_per_band=4)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("Join Inner"), sorted(tuple(r) for r in df.collect())

    n_joins, want = run()
    monkeypatch.setattr(sim, "_BROADCAST_BYTES", emb.count() * 64 * 8 - 1)
    n_joins_past, got = run()
    assert (n_joins, n_joins_past) == (1, 3)
    assert got == want


def test_lsh_rerank_shapes_agree_on_duplicate_ids(spark, monkeypatch):
    """A corpus id held by two rows (with different vectors) is scored once
    per row by both rerank shapes, as a join pairs them: the broadcast
    lookup and the join give the same rows."""
    import random

    from amharic_ecommerce_data_extractor_spark.operators import similarity as sim

    rnd = random.Random(5)
    rows = [(i, [rnd.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(20)]
    rows.append((5, [rnd.uniform(-1.0, 1.0) for _ in range(8)]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = corpus.where(F.col("vec_id") < 3)

    def run():
        return sorted(tuple(r) for r in knn_lsh(
            queries, corpus, k=20, dim=8, n_bands=1, bits_per_band=1).collect())

    broadcast = run()
    monkeypatch.setattr(sim, "_BROADCAST_BYTES", 0)
    joined = run()
    assert broadcast == joined
    fives = [r for r in joined if r[1] == 5]
    assert fives and len(fives) == 2 * len({r[0] for r in fives})


@pytest.mark.parametrize("bad", [None, [0.5] * 7], ids=["null", "ragged"])
def test_ivf_train_centroids_skips_degenerate_rows(spark, bad):
    """Training decodes the sample as the assignment kernels do and trains
    on the clean rows; a sample with no clean row raises a named error."""
    import random

    import numpy as np

    rnd = random.Random(9)
    clean = [(i, [rnd.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(50)]
    schema = "vec_id long, embedding array<float>"
    df = spark.createDataFrame(clean + [(50, bad)], schema)
    cents = np.array(ivf_train_centroids(df, n_cells=4, dim=8,
                                         sample_size=100, seed=1))
    assert cents.shape == (4, 8) and np.isfinite(cents).all()
    assert np.allclose(np.linalg.norm(cents, axis=1), 1.0)

    only_bad = spark.createDataFrame([(50, bad), (51, bad)], schema)
    with pytest.raises(ValueError, match="8-dim"):
        ivf_train_centroids(only_bad, n_cells=2, dim=8, sample_size=100)

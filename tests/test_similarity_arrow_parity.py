"""Bit-identity pins for the Arrow vector kernels (operators/similarity):
the interpreted Spark folds in ``tests/vector_spec.py`` are the executable
spec (``simhash_signature``, ``_norm``, ``_cell_sims``, ``cosine_expr``),
and these tests assert the kernels reproduce them EXACTLY — signatures per
character, norms per bit, cell choices and probe order per row — over the
embeddings table plus adversarial rows (null vector, null element, ragged
lengths, NaN, ±inf, denormal-scale values).

All-zero vectors are excluded there: under ANSI mode the spec's
``_cell_sims`` raises DIVIDE_BY_ZERO on them, so there is no result to
match. The rerank tests at the end include them, against the fold scored
with ANSI off.
"""

import math

import pytest
from pyspark.sql import functions as F, types as T
from pyspark.sql.window import Window

from amharic_ecommerce_data_extractor_spark.operators import similarity as sim
from tests import vector_spec as spec

_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])

_ADVERSARIAL = [
    (900001, None),
    (900003, [1.0] * 63),                       # ragged short
    (900004, [1.0] * 65),                       # ragged long
    (900005, [1.0] * 32 + [None] + [1.0] * 31),  # null element
    (900006, [float("nan")] * 64),
    (900010, [float("inf")] + [1.0] * 63),
    (900011, [1e-30] * 64),
    (900012, [-1.0] * 64),
]


@pytest.fixture(scope="module")
def vecs(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    return emb.union(spark.createDataFrame(_ADVERSARIAL, _SCHEMA)).cache()


def _norm_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    return a == b or (math.isnan(a) and math.isnan(b))


@pytest.mark.parametrize("plane_fn", ["rademacher_md5", "gauss"])
def test_signed_arrow_matches_jvm_fold(spark, vecs, plane_fn):
    planes = sim._planes(64, 64, 42, plane_fn)
    ref = {r["id"]: r for r in vecs.select(
        F.col("vec_id").alias("id"),
        spec._norm(F.col("embedding")).alias("norm"),
        spec.simhash_signature(F.col("embedding"), planes).alias("sig"),
    ).collect()}
    got = sim._signed_arrow(vecs, "vec_id", "embedding", "id", planes) \
        .select("id", F.col("id_norm").alias("norm"),
                F.col("_sig").alias("sig")).collect()
    assert len(got) == len(ref)
    for g in got:
        r = ref[g["id"]]
        assert g["sig"] == r["sig"], g["id"]
        assert _norm_eq(g["norm"], r["norm"]), (g["id"], g["norm"], r["norm"])


def test_signed_arrow_vec_passthrough(spark, vecs):
    planes = sim._planes(64, 64, 42, "gauss")
    ref = {r["vec_id"]: r["embedding"] for r in vecs.collect()}
    got = sim._signed_arrow(vecs, "vec_id", "embedding", "id", planes) \
        .select("id", "id_vec").collect()

    def eq(a, b):
        if a is None or b is None:
            return a is None and b is None
        return len(a) == len(b) and all(
            x == y or (x is not None and y is not None
                       and math.isnan(x) and math.isnan(y))
            for x, y in zip(a, b))

    for g in got:
        assert eq(g["id_vec"], ref[g["id"]]), g["id"]


def test_ivf_assign_matches_array_max_expression(spark, vecs, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent_rows = sorted(emb.where(F.col("vec_id") < 16).collect(),
                       key=lambda r: r["vec_id"])
    cents = []
    for r in cent_rows:
        v = [float(x) for x in r["embedding"]]
        nrm = math.sqrt(sum(x * x for x in v))
        cents.append([x / nrm for x in v])
    best = F.array_max(spec._cell_sims(F.col("embedding"), cents))
    ref = {r["vec_id"]: r["cell"] for r in vecs.select(
        "vec_id", best["cell"].alias("cell")).collect()}
    got = {r["vec_id"]: r["cell"]
           for r in sim.ivf_assign(vecs, cents).select("vec_id", "cell").collect()}
    assert got == ref

    # knn_ivf's query probes: the top-nprobe cells in the fold's order
    nprobe = 4
    probes = F.slice(F.reverse(F.array_sort(spec._cell_sims(F.col("embedding"), cents))),
                     1, nprobe)
    ref = {r["vec_id"]: r["cells"] for r in vecs.select(
        "vec_id", F.transform(probes, lambda p: p["cell"]).alias("cells")).collect()}
    got = {}
    for r in sim._ivf_cells(vecs, cents, nprobe, "vec_id", "embedding").collect():
        got.setdefault(r["vec_id"], []).append(r["cell"])
    assert got == ref


def test_zero_vector_no_runtime_warning(spark):
    """All-zero vectors: ``ivf_assign``'s norm division runs under
    np.errstate, so no RuntimeWarning escapes (its batch kernel checked
    in-process with warnings raised as errors), and the row lands in the
    last cell (every sim 0/0 = NaN, ordered greatest) — the same on the
    Spark path. ``_signed_arrow`` divides nothing and matches the JVM fold
    (norm 0.0, every bit '1')."""
    import warnings

    import numpy as np
    import pyarrow as pa

    dim, n_cells = 8, 3
    cents = [[1.0 if d == c else 0.0 for d in range(dim)] for c in range(n_cells)]
    planes = sim._planes(16, dim, 7, "gauss")
    rows = [(1, [0.0] * dim), (2, [1.0] + [0.0] * (dim - 1))]
    batch = pa.RecordBatch.from_arrays(
        [pa.array([r[0] for r in rows], pa.int64()),
         pa.array([r[1] for r in rows], pa.list_(pa.float32()))],
        names=["vec_id", "embedding"])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        (assigned,) = sim._assign_batches(
            iter([batch]), np.asarray(cents), "vec_id", "embedding")
    assert assigned.column("cell").to_pylist() == [n_cells - 1, 0]

    df = spark.createDataFrame(rows, _SCHEMA)
    got = {r["vec_id"]: r["cell"] for r in sim.ivf_assign(df, cents).collect()}
    assert got == {1: n_cells - 1, 2: 0}
    jvm = {r["id"]: (r["norm"], r["sig"]) for r in df.select(
        F.col("vec_id").alias("id"), spec._norm(F.col("embedding")).alias("norm"),
        spec.simhash_signature(F.col("embedding"), planes).alias("sig")).collect()}
    arrow = {r["id"]: (r["id_norm"], r["_sig"]) for r in
             sim._signed_arrow(df, "vec_id", "embedding", "id", planes).collect()}
    assert arrow == jvm
    assert arrow[1] == (0.0, "1" * 16)


def _degenerate_tables(spark):
    """(queries, corpus) of 8-dim vectors for the rerank tests: clean rows
    plus null vector, ragged lengths (two short ones score each other at
    their own length), null element, NaN, +inf, -inf and zero-norm rows on
    both sides, and two ids held by two rows each.
    The spec's ``cosine_expr`` scores a zero-norm pair null with ANSI off
    (see ``_fold_rows``); its ``_cell_sims`` raises DIVIDE_BY_ZERO on a
    zero-norm query under ANSI, where knn_ivf probes the last cells."""
    import random

    dim = 8
    rnd = random.Random(11)
    clean = [(i, [rnd.uniform(-1.0, 1.0) for _ in range(dim)]) for i in range(30)]
    degenerate = [
        (900001, None),
        (900003, [0.5] * (dim - 1)),
        (900013, [0.25] * (dim - 2) + [1.0]),
        (900004, [1.0] * (dim + 1)),
        (900005, [1.0] * 3 + [None] + [1.0] * (dim - 4)),
        (900006, [float("nan")] * dim),
        (900014, [float("inf")] + [0.5] * (dim - 1)),
        (900015, [0.5] * (dim - 1) + [float("-inf")]),
    ]
    zero_norm = [(900007, [0.0] * dim), (900008, [-0.0] * dim)]
    # duplicated ids: a second copy of clean row 5, and a -0.0 row under
    # the 0.0 row's id (the two score alike against every row)
    dup = [clean[5], (900007, [-0.0] * dim)]
    return (spark.createDataFrame(clean[:8] + degenerate + zero_norm + dup, _SCHEMA),
            spark.createDataFrame(clean + degenerate + zero_norm + dup, _SCHEMA))


def _fold_rows(spark, queries, corpus, finish):
    """``finish`` applied to every (query_id, neighbor_id, sim) pair scored
    by the ``cosine_expr`` fold with ANSI off, where its division by a zero
    norm is null. The fold's division mode is fixed when its plan is
    analyzed, so the plan is built and run inside the ANSI-off window."""
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        pairs = (queries.select(F.col("vec_id").alias("query_id"),
                                F.col("embedding").alias("q"))
                 .crossJoin(corpus.select(F.col("vec_id").alias("neighbor_id"),
                                          F.col("embedding").alias("c")))
                 .where(F.col("query_id") != F.col("neighbor_id"))
                 .select("query_id", "neighbor_id",
                         spec.cosine_expr(F.col("q"), F.col("c")).alias("sim")))
        return finish(pairs)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def _nan_key(v):
    return "nan" if v is not None and math.isnan(v) else v


def _sim_eq(a, b, tol):
    if a is None or b is None or math.isnan(a) or math.isnan(b):
        return _nan_key(a) == _nan_key(b)
    return abs(a - b) <= tol


# ids: k alone for knn_ivf, bruteforce-k for knn_bruteforce
@pytest.mark.parametrize("search, k", [
    pytest.param("knn_ivf", 3, id="3"),
    pytest.param("knn_ivf", 100, id="100"),
    pytest.param("knn_bruteforce", 3, id="bruteforce-3"),
    pytest.param("knn_bruteforce", 100, id="bruteforce-100"),
])
def test_knn_ivf_rerank_matches_cosine_expr_on_degenerate_rows(spark, search, k):
    """knn_ivf's Arrow rerank (every cell probed, so each (query, neighbor)
    pair is a candidate) and knn_bruteforce's matmul against the
    ``cosine_expr`` fold, end to end. Null sims (null vector or element,
    mismatched lengths, zero norm) must rank last, NaN sims first.
    knn_bruteforce sums in BLAS order, so its sims match to 1e-12; nulls and
    NaNs match exactly."""
    queries, corpus = _degenerate_tables(spark)
    n_cells = 3
    cents = [[1.0 if d == c else 0.0 for d in range(8)] for c in range(n_cells)]
    if search == "knn_ivf":
        got = sim.knn_ivf(queries, sim.ivf_assign(corpus, cents), cents, k=k,
                          nprobe=n_cells).collect()
    else:
        got = sim.knn_bruteforce(queries, corpus, k=k).collect()

    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    want = _fold_rows(spark, queries, corpus, lambda pairs: pairs.withColumn(
        "rnk", F.row_number().over(w)).where(F.col("rnk") <= k).collect())

    def key(rows):
        return sorted((r["query_id"], r["rnk"], r["neighbor_id"]) for r in rows)

    assert key(got) == key(want)
    by_pair = {(r["query_id"], r["neighbor_id"]): r["sim"] for r in got}
    tol = 0.0 if search == "knn_ivf" else 1e-12
    bad = [(pair, r["sim"], by_pair[pair]) for r in want
           for pair in [(r["query_id"], r["neighbor_id"])]
           if not _sim_eq(by_pair[pair], r["sim"], tol)]
    assert not bad, bad
    if k == 100:
        assert by_pair[(900003, 900013)] is not None
        assert by_pair[(0, 900001)] is None and by_pair[(0, 900007)] is None
        assert math.isnan(by_pair[(0, 900006)])
        # an infinite element makes the fold's dot and norm infinite: NaN
        assert math.isnan(by_pair[(0, 900014)]) and math.isnan(by_pair[(900015, 900014)])


def test_both_rerank_shapes_match_cosine_expr_on_degenerate_rows(spark):
    """knn_lsh's two rerank shapes — broadcast lookup and join — score every
    (query, neighbor) pair of the degenerate tables as the fold does, once
    per row of a duplicated id."""
    from collections import Counter

    queries, corpus = _degenerate_tables(spark)
    want = _fold_rows(spark, queries, corpus, lambda pairs: Counter(
        (r["query_id"], r["neighbor_id"], _nan_key(r["sim"]))
        for r in pairs.collect()))

    def side(df, name):
        return df.select(F.col("vec_id").alias(name),
                         F.col("embedding").alias(f"{name}_vec"),
                         spec._norm(F.col("embedding")).alias(f"{name}_norm"))

    q, c = side(queries, "query_id"), side(corpus, "neighbor_id")
    # distinct id pairs, as knn_lsh's candidates
    cand = (q.select("query_id").crossJoin(c.select("neighbor_id"))
            .where(F.col("query_id") != F.col("neighbor_id")).distinct())
    joined = cand.join(q, "query_id").join(c, "neighbor_id").select(
        "query_id", "neighbor_id", "query_id_vec", "neighbor_id_vec",
        "query_id_norm", "neighbor_id_norm")
    shapes = {
        "join": sim._cosine_rerank_arrow(joined),
        "broadcast": sim._cosine_rerank_broadcast(cand, q.collect(), c.collect()),
    }
    for name, df in shapes.items():
        got = Counter((r["query_id"], r["neighbor_id"], _nan_key(r["sim"]))
                      for r in df.collect())
        assert got == want, name

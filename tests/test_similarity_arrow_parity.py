"""Bit-identity pins for the vectorized Arrow signature/assignment passes
(operators/similarity): the interpreted JVM folds they replaced stay in the
module as the executable spec (``simhash_signature``, ``_norm``,
``_cell_sims``), and these tests assert the Arrow twins reproduce them
EXACTLY — signatures per character, norms per bit, cell choices per row —
over the embeddings table plus adversarial rows (null vector, null element,
ragged lengths, NaN, ±inf, denormal-scale values).

All-zero vectors are excluded: under ANSI mode the ORIGINAL expression
raises DIVIDE_BY_ZERO on them, so there is no legacy result to preserve.
"""

import math

import pytest
from pyspark.sql import functions as F, types as T

from amharic_ecommerce_data_extractor_spark.operators import similarity as sim

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
        sim._norm(F.col("embedding")).alias("norm"),
        sim.simhash_signature(F.col("embedding"), planes).alias("sig"),
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
    best = F.array_max(sim._cell_sims(F.col("embedding"), cents))
    ref = {r["vec_id"]: r["cell"] for r in vecs.select(
        "vec_id", best["cell"].alias("cell")).collect()}
    got = {r["vec_id"]: r["cell"]
           for r in sim.ivf_assign(vecs, cents).select("vec_id", "cell").collect()}
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
    assert assigned.column(2).to_pylist() == [n_cells - 1, 0]

    df = spark.createDataFrame(rows, _SCHEMA)
    got = {r["vec_id"]: r["cell"] for r in sim.ivf_assign(df, cents).collect()}
    assert got == {1: n_cells - 1, 2: 0}
    jvm = {r["id"]: (r["norm"], r["sig"]) for r in df.select(
        F.col("vec_id").alias("id"), sim._norm(F.col("embedding")).alias("norm"),
        sim.simhash_signature(F.col("embedding"), planes).alias("sig")).collect()}
    arrow = {r["id"]: (r["id_norm"], r["_sig"]) for r in
             sim._signed_arrow(df, "vec_id", "embedding", "id", planes).collect()}
    assert arrow == jvm
    assert arrow[1] == (0.0, "1" * 16)

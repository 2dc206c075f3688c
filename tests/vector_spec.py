"""Executable spec of the vector kernels in ``operators/similarity.py``:
the interpreted Spark fold expressions each Arrow kernel reproduces
bit for bit. ``tests/test_similarity_arrow_parity.py`` scores the same rows
with these folds and with the kernels and compares the results.

* ``_norm`` / ``_dot`` / ``cosine_expr`` — the norm, dot and cosine of
  ``_project`` and the reranks;
* ``simhash_signature`` — the '0'/'1' signature of ``_signed_arrow``;
* ``_cell_sims`` — the per-cell cosines whose ``array_max`` is
  ``ivf_assign``'s cell and whose sorted prefix is ``knn_ivf``'s probes.
"""

from pyspark.sql import functions as F


def _norm(col):
    return F.sqrt(F.aggregate(F.transform(col, lambda x: x.cast("double") * x.cast("double")),
                              F.lit(0.0), lambda a, x: a + x))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, v: acc + v)


def cosine_expr(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def simhash_signature(vec_col, planes: list[list[float]]):
    """Sign pattern of the vector against fixed random hyperplanes as ONE
    '0'/'1' bit-string. planes: n_planes x dim, shipped as a single literal
    array-of-arrays and consumed by one transform — one expression subtree
    instead of n_planes separate fold expressions (smaller plan, one
    evaluation pass)."""
    planes_lit = F.array(*[
        F.array(*[F.lit(float(v)) for v in plane]) for plane in planes
    ])
    bits = F.transform(
        planes_lit,
        lambda pv: F.when(
            F.aggregate(F.zip_with(vec_col, pv, lambda x, y: x.cast("double") * y),
                        F.lit(0.0), lambda a, x: a + x) >= 0,
            F.lit("1")).otherwise(F.lit("0")),
    )
    return F.array_join(bits, "")


def _cell_sims(vec_col, centroids):
    """array<struct<sim double, cell int>> of cosine-to-centroid per cell
    (centroids are unit vectors, so dot/|v| = cosine)."""
    norm = _norm(vec_col)
    return F.array(*[
        F.struct((_dot(vec_col, F.array(*[F.lit(v) for v in c])) / norm).alias("sim"),
                 F.lit(i).alias("cell"))
        for i, c in enumerate(centroids)
    ])

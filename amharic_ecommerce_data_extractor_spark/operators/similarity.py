"""Similarity search over embedding columns (graft-added capability).

* ``knn_bruteforce`` — exact cosine top-k: broadcast the (small) query set
  against the corpus, dot products as numpy ``mapInArrow`` kernels (one
  float64 BLAS matmul per Arrow batch), rank with a per-query window.
  This is the correctness baseline; cost O(|Q|·|corpus|) — fine when |Q| is
  small and broadcast-able.
* ``knn_lsh`` — the scale path: random-hyperplane (SimHash) bucketing; only
  candidates sharing a band bucket are scored, turning the cross join into an
  equi join on (band, signature). Probabilistic recall, tunable via
  n_planes/n_bands; falls back to exact scoring inside each bucket.

All arithmetic in float64, on the JVM and in the numpy kernels alike, for
cross-engine comparability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def _norm(col):
    return F.sqrt(F.aggregate(F.transform(col, lambda x: x.cast("double") * x.cast("double")),
                              F.lit(0.0), lambda a, x: a + x))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, v: acc + v)


def cosine_expr(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k. queries must be small (is collected + broadcast —
    the same driver/executor footprint as the broadcast cross join this
    replaces).

    Physical shape: one Arrow pass over the corpus (``mapInArrow``) computes
    each batch's |batch|×|Q| similarity matrix as a single float64 BLAS
    matmul and emits only each query's per-batch top-k candidate rows
    (including every row tied with the k-th similarity, so the global top-k
    under (sim desc, neighbor_id asc) is exactly preserved); a final tiny
    window over ~|Q|·k·n_batches candidate rows ranks them. The earlier
    formulation — a broadcast cross join scoring every pair through
    interpreted ``zip_with``/``aggregate`` lambdas — paid ~12 µs/pair on the
    JVM (96 s for 400×20k pairs at sf1.0); the matmul pays nanoseconds/pair
    and shuffles only candidates.
    """
    import numpy as np

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        q_unit = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    bq = corpus.sparkSession.sparkContext.broadcast((q_ids, q_unit))
    kk = int(k)

    def part_topk(batches):
        import numpy as _np
        import pyarrow as _pa

        ids_b, qu_b = bq.value
        nq = len(ids_b)
        out_schema = _pa.schema([("query_id", _pa.int64()),
                                 ("neighbor_id", _pa.int64()),
                                 ("sim", _pa.float64())])
        for batch in batches:
            n = batch.num_rows
            if n == 0 or nq == 0:
                continue
            nid = batch.column(0).to_numpy(zero_copy_only=False).astype(_np.int64)
            flat = _np.asarray(batch.column(1).flatten(), dtype=_np.float64)
            c = flat.reshape(n, len(flat) // n)
            with _np.errstate(divide="ignore", invalid="ignore"):
                c_unit = c / _np.linalg.norm(c, axis=1, keepdims=True)
                sims = c_unit @ qu_b.T                       # (n, nq)
            # self-pairs excluded exactly as the join's query_id != neighbor_id
            sims[nid[:, None] == ids_b[None, :]] = -_np.inf
            if n > kk:
                # k-th largest per query column; keep EVERY row >= it so
                # boundary ties (identical vectors) can never evict the
                # neighbor the global (sim, id asc) order would keep
                thresh = _np.partition(sims, n - kk, axis=0)[n - kk]
            else:
                thresh = _np.full(nq, -_np.inf)
            keep_i, keep_j = _np.nonzero((sims >= thresh) & _np.isfinite(sims))
            yield _pa.RecordBatch.from_arrays(
                [_pa.array(ids_b[keep_j]), _pa.array(nid[keep_i]),
                 _pa.array(sims[keep_i, keep_j])], schema=out_schema)

    from .linking import spread

    cand = (spread(corpus, id_col).select(F.col(id_col), F.col(vec_col))
            .mapInArrow(part_topk, "query_id long, neighbor_id long, sim double"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (cand.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("query_id", "neighbor_id", "sim", "rnk"))


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


def _signed_arrow(df: DataFrame, id_col: str, vec_col: str, idn: str,
                  planes: list[list[float]]) -> DataFrame:
    """Arrow twin of the ``signed()`` projection in :func:`knn_lsh`: one
    ``mapInArrow`` pass emits (id, vec, norm, signature) with BIT-IDENTICAL
    values to the interpreted JVM fold it replaces (which paid ~4096
    interpreted lambda steps per row for the n_planes×dim signature alone):

    * dots and the squared norm accumulate PER DIMENSION, left-to-right, in
      float64 — vectorized over rows, same IEEE-754 sequence as
      ``aggregate(zip_with(...))`` / :func:`_norm` (the discipline
      established by ``_cosine_rerank_arrow``).
    * Spark orders NaN greater than any number, so ``NaN >= 0`` is TRUE in
      the JVM ``when`` — the sign bits OR in ``isnan``.
    * degenerate rows get the JVM result exactly: a null vector or a null
      element nulls both folds ('0' for every sign bit, null norm); a
      length ≠ dim nulls only the zip_with dot ('0' bits) while the norm
      still sums the row's own squares (``_norm`` never references dim —
      an empty list has norm 0.0).
    * an all-zero vector gets the JVM result too (norm 0.0, every dot 0.0
      so every bit '1') — no division happens here. The divergence from
      ANSI lies downstream: the JVM cosine ``_dot / (_norm * _norm)`` raises
      DIVIDE_BY_ZERO on a zero norm, while the Arrow reranks score it null.
    """
    import numpy as np
    import pyarrow as pa

    n_planes = len(planes)
    dim = len(planes[0])
    pmat = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)
    in_schema = df.select(F.col(id_col), F.col(vec_col)).schema
    id_t, vec_t = in_schema[0].dataType.simpleString(), in_schema[1].dataType.simpleString()
    out_ddl = (f"{idn} {id_t}, {idn}_vec {vec_t}, "
               f"{idn}_norm double, _sig string")

    def compute(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ids, vecs = b.column(0), b.column(1)
            off, vals, n_null, lens = _list_parts(vecs)
            # norm-eligible: the row itself and all its elements are
            # non-null (a null anywhere nulls both JVM folds), regardless of
            # length (the JVM _norm sums the row's own squares)
            norm_ok = (lens >= 0) & (n_null == 0)
            # vectorized set: clean rows of exactly dim elements
            ok = norm_ok & (lens == dim)

            sig_bytes = np.full((n, n_planes), ord("0"), dtype=np.uint8)
            norms = np.full(n, np.nan, dtype=np.float64)
            if ok.any():
                sel = np.flatnonzero(ok)
                mat = _gather_rows(off, vals, sel, dim)
                m = mat.shape[0]
                acc = np.zeros((m, n_planes), dtype=np.float64)
                nacc = np.zeros(m, dtype=np.float64)
                for d in range(dim):
                    xd = mat[:, d]
                    acc += xd[:, None] * pmat[:, d][None, :]
                    nacc += xd * xd
                bits = (acc >= 0.0) | np.isnan(acc)
                sig_bytes[sel] = np.where(bits, ord("1"), ord("0")).astype(np.uint8)
                norms[sel] = np.sqrt(nacc)
            for i in np.flatnonzero(norm_ok & ~ok):  # rare: len != dim — norm only
                a = 0.0
                for x in vals[off[i]:off[i] + lens[i]]:
                    a += x * x
                norms[i] = np.sqrt(a)
            sigs = pa.array(
                np.frombuffer(np.ascontiguousarray(sig_bytes).tobytes(),
                              dtype=f"S{n_planes}").astype("U"),
                type=pa.string())
            norm_arr = pa.array(norms, type=pa.float64(), mask=~norm_ok)
            yield pa.RecordBatch.from_arrays(
                [ids, vecs, norm_arr, sigs],
                names=[idn, f"{idn}_vec", f"{idn}_norm", "_sig"])

    return df.select(F.col(id_col), F.col(vec_col)).mapInArrow(compute, out_ddl)


def _planes(n_planes: int, dim: int, seed: int = 42,
            plane_fn: str = "gauss") -> list[list[float]]:
    """Random hyperplanes for SimHash bucketing.

    * ``gauss`` (default): seeded Gaussian — the classic random-projection
      family.
    * ``rademacher_md5``: ±1 components with sign = parity of the first hex
      digit of md5("{plane}:{dim}"). Rademacher projections are an equally
      valid LSH family (Achlioptas-style sparse/sign projections), and this
      derivation is reproducible in ANY engine with md5 — it is what lets
      the DuckDB oracle recompute identical bucket signatures (q30).
    """
    if plane_fn == "gauss":
        import random

        rng = random.Random(seed)
        return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]
    if plane_fn == "rademacher_md5":
        import hashlib

        def sign(p: int, d: int) -> float:
            digit = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16)
            return 1.0 if digit % 2 == 1 else -1.0

        return [[sign(p, d) for d in range(dim)] for p in range(n_planes)]
    raise ValueError(f"unknown plane_fn {plane_fn!r}")


def knn_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_bands: int = 8,
    bits_per_band: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    plane_fn: str = "gauss",
) -> DataFrame:
    """Approximate cosine top-k: SimHash band bucketing → equi-join on
    (band, signature) → exact cosine inside buckets → per-query top-k.
    At 100TB this replaces the cross join with a shuffle on bucket keys;
    skewed buckets are split by AQE.

    Shuffle discipline (same invariant as ``linking.banded_candidate_pairs``):
    the banded exchange carries IDS ONLY — vectors never ride the band
    explode, the (band, sig) self-join, or the candidate dedup, so the bytes
    through the candidate shuffle are independent of n_bands and of vector
    width. The (checkpointed) id→(vector, norm) frame is re-joined ONCE per
    side for the cosine rerank; norms are precomputed there so the rerank is
    a single dot product per candidate pair."""
    planes = _planes(n_bands * bits_per_band, dim, seed, plane_fn)

    def signed(df: DataFrame, idn: str) -> DataFrame:
        # full signature + norm computed ONCE per row via the vectorized
        # Arrow pass (bit-identical to the interpreted JVM fold — see
        # _signed_arrow), then materialized (localCheckpoint = optimizer
        # barrier, same discipline as linking.lsh_candidate_pairs) so the
        # downstream band slicing, rerank rejoin and count consumers reuse
        # the one Python-stage execution instead of re-running it.
        # eager=False: the barrier materializes at first action, so merely
        # BUILDING the plan stays side-effect free.
        from .linking import spread

        return _signed_arrow(spread(df, id_col), id_col, vec_col, idn,
                             planes).localCheckpoint(eager=False)

    def with_bands(base: DataFrame, idn: str) -> DataFrame:
        # ids-only: the exploded frame (and everything downstream until the
        # rerank rejoin) must never reference the vector column
        bands = F.transform(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda b: F.struct(
                b.cast("int").alias("band"),
                F.substring("_sig", b * bits_per_band + 1, bits_per_band).alias("sig"),
            ),
        )
        return base.select(idn, F.explode(bands).alias("bk")) \
                   .select(idn, F.col("bk.band").alias("band"),
                           F.col("bk.sig").alias("sig"))

    cbase = signed(corpus, "neighbor_id")
    cb = with_bands(cbase, "neighbor_id")
    if queries is corpus:
        # self-join (embedding dedup): REUSE the corpus signatures instead of
        # materializing the 64-dot-product pass a second time
        qbase = cbase.select(F.col("neighbor_id").alias("query_id"),
                             F.col("neighbor_id_vec").alias("query_id_vec"),
                             F.col("neighbor_id_norm").alias("query_id_norm"),
                             "_sig")
    else:
        qbase = signed(queries, "query_id")
    qb = with_bands(qbase, "query_id")
    cand = (
        qb.join(cb, on=["band", "sig"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # rerank: vectors enter AFTER candidate dedup. Two physical shapes,
    # same bit-exact sims:
    # * broadcast lookup (small corpora): the (id, vec, norm) tables fit in
    #   a broadcast (they are already materialized by the signature
    #   checkpoint, so counting them is a metadata-cheap action) — the
    #   Arrow pass then crosses ONLY the (query_id, neighbor_id) id pairs
    #   (16 B/row) and gathers vectors from the broadcast, instead of
    #   attaching two dim-wide vector columns to every candidate row and
    #   converting ~2·dim·|cand| floats through Arrow (guide §8: move the
    #   heavy bytes once — here, once per worker instead of once per pair).
    # * join + Arrow rerank (the general path): broadcast-hash rejoins of
    #   the id→vector frames, vectors ride the candidate rows into the
    #   scoring pass.
    n_corpus = cbase.count()
    small = n_corpus <= 200_000 and (queries is corpus or qbase.count() <= 200_000)
    if small:
        c_rows = cbase.select("neighbor_id", "neighbor_id_vec",
                              "neighbor_id_norm").collect()
        if queries is corpus:
            q_rows = c_rows
        else:
            q_rows = qbase.select("query_id", "query_id_vec",
                                  "query_id_norm").collect()
        scored = _cosine_rerank_broadcast(cand, q_rows, c_rows,
                                          partial_topk=k)
    else:
        joined = (
            cand
            .join(qbase.select("query_id", "query_id_vec", "query_id_norm"),
                  "query_id")
            .join(cbase.select("neighbor_id", "neighbor_id_vec",
                               "neighbor_id_norm"), "neighbor_id")
            .select("query_id", "neighbor_id", "query_id_vec",
                    "neighbor_id_vec", "query_id_norm", "neighbor_id_norm"))
        scored = _cosine_rerank_arrow(joined, partial_topk=k)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("query_id", "neighbor_id", "sim", "rnk"))


def _cosine_rerank_broadcast(cand: DataFrame, q_rows, c_rows,
                             partial_topk: int | None = None) -> DataFrame:
    """Broadcast-lookup twin of :func:`_cosine_rerank_arrow`: candidates
    cross the Arrow boundary as bare id pairs; vectors and norms come from
    a broadcast of the (already materialized) signature tables, decoded
    once on the driver, and each pair is scored by the same
    :func:`_pair_sims`, so every sim — degenerate pairs included — equals
    the join-shaped rerank's. The collected vectors are float32 widened
    exactly to float64, the same widening the JVM cast performs."""
    import pyarrow as pa

    def pack(rows):
        lookup = {int(r[0]): j for j, r in enumerate(rows)}
        vecs = pa.array([r[1] for r in rows], type=pa.list_(pa.float64()))
        norms = pa.array([r[2] for r in rows], type=pa.float64())
        return lookup, _list_parts(vecs), norms.to_numpy(zero_copy_only=False)

    spark = cand.sparkSession
    bq = spark.sparkContext.broadcast(pack(q_rows))
    bc = spark.sparkContext.broadcast(pack(c_rows) if c_rows is not q_rows
                                      else None)
    return cand.mapInArrow(
        lambda batches: _rerank_batches(batches, partial_topk,
                                        (bq.value, bc.value or bq.value)),
        "query_id long, neighbor_id long, sim double")


def _cosine_rerank_arrow(joined: DataFrame, partial_topk: int | None = None) -> DataFrame:
    """(query_id, neighbor_id, sim) from candidate rows carrying both vectors
    and their precomputed norms — one Arrow pass with the per-dimension
    accumulation done as vectorized numpy column ops.

    BIT-IDENTICAL to the interpreted JVM fold it replaces
    (``_dot(a, b) / (a_norm * b_norm)``): the accumulator loops over
    dimensions in the same left-to-right order with one IEEE-754 float64
    multiply and add per step — vectorized over the pairs, sequential over
    dims — so every intermediate equals the fold's intermediate and the
    final sim matches to the last bit (pinned by the DuckDB oracle, whose
    own list arithmetic is the same sequential order). The fold paid
    ~12 µs per 64-dim pair in interpreted lambda evaluation over q40's
    14.6M sf1.0 candidates; numpy pays ~2 ns per multiply-add. The norms
    ride through untouched (JVM-computed once in the checkpointed
    signature pass).

    Degenerate pairs score as the fold does: each pair is scored at its own
    length, and a pair the fold scores null — a null vector, a null
    element, mismatched lengths — gets a null sim, which the downstream
    ``F.desc("sim")`` window ranks last. A zero denominator (a zero-norm
    vector) also gives null: that is the fold's value without ANSI mode,
    and under ANSI the fold raises DIVIDE_BY_ZERO, so there is no other
    value to match. NaN vectors give a NaN sim, as in the fold.

    partial_topk=k additionally drops, per batch, every row ranked below k
    for its query under the EXACT total order the downstream window uses
    (sim desc with NaN greatest — Spark's double ordering — and null last,
    then neighbor_id asc). A row beaten by k same-query rows inside one
    batch is beaten by k rows globally, so the global top-k the window
    computes is unchanged while its input shrinks from every candidate to
    roughly (queries-per-batch) × k rows — the same partial-top-k
    discipline as knn_bruteforce."""
    return joined.mapInArrow(
        lambda batches: _rerank_batches(batches, partial_topk),
        "query_id long, neighbor_id long, sim double")


def _list_parts(vecs):
    """(offsets, float64 values, per-row null-element count, per-row length
    with -1 for a null vector) of an Arrow list<float> column."""
    import numpy as np
    import pyarrow.compute as pc

    off = np.asarray(vecs.offsets.to_numpy(zero_copy_only=False), dtype=np.int64)
    values = vecs.values
    vals = np.asarray(values.to_numpy(zero_copy_only=False), dtype=np.float64)
    if values.null_count:
        null_cum = np.r_[0, np.cumsum(~np.asarray(values.is_valid(), dtype=bool))]
        n_null = null_cum[off[1:]] - null_cum[off[:-1]]
    else:
        n_null = np.zeros(len(vecs), dtype=np.int64)
    lens = pc.list_value_length(vecs).fill_null(-1).to_numpy(zero_copy_only=False)
    return off, vals, n_null, lens


def _gather_rows(off, vals, rows, dim: int):
    """(len(rows), dim) matrix of the non-empty index set ``rows`` of a
    :func:`_list_parts` column, each row of length dim — a reshaped slice
    when those rows lie back to back in ``vals``, a row gather when every
    row of the column has length dim."""
    import numpy as np

    start = off[rows[0]]
    if np.array_equal(off[rows], start + dim * np.arange(len(rows))):
        return vals[start:start + len(rows) * dim].reshape(len(rows), dim)
    if np.array_equal(np.diff(off), np.full(len(off) - 1, dim)):
        return vals[off[0]:off[-1]].reshape(-1, dim)[rows]
    return vals[off[rows][:, None] + np.arange(dim)]


def _pair_sims(q, qi, c, ci):
    """(sim, valid) of the pairs (row qi[j] of q, row ci[j] of c), where q
    and c are ``(_list_parts(vecs), norms)`` of two vector columns; sim is
    0 where valid is false (see :func:`_cosine_rerank_arrow`)."""
    import numpy as np

    (q_off, q_vals, q_null, q_len), q_norm = q
    (c_off, c_vals, c_null, c_len), c_norm = c
    ql = q_len[qi]
    den = q_norm[qi] * c_norm[ci]
    valid = ((ql >= 0) & (ql == c_len[ci]) & (q_null[qi] == 0)
             & (c_null[ci] == 0) & (den != 0))
    sim = np.zeros(len(qi), dtype=np.float64)
    for dim in np.unique(ql[valid]):
        rows = np.flatnonzero(valid & (ql == dim))
        qv = _gather_rows(q_off, q_vals, qi[rows], dim)
        cv = _gather_rows(c_off, c_vals, ci[rows], dim)
        # IEEE results (inf·0, inf/inf → NaN) as in the fold, unwarned
        with np.errstate(invalid="ignore", over="ignore"):
            sim[rows] = _dot_rows(qv, cv) / den[rows]
    return sim, valid


def _dot_rows(a, b):
    """Row-wise dot of two (n, dim) float64 matrices, summed left to right
    over dims from 0.0 with one IEEE-754 multiply and add per step — the
    fold's own order, so the result is bit-identical to it. The products
    are summed dimension-major over 512-row blocks: each add then reads a
    contiguous, cache-resident row instead of a strided column."""
    import numpy as np

    prod = a * b
    acc = np.zeros(len(prod), dtype=np.float64)
    for s in range(0, len(prod), 512):
        out = acc[s:s + 512]
        for col in prod[s:s + 512].T.copy():
            out += col
    return acc


def _rerank_batches(batches, partial_topk: int | None, tables=None):
    """The ``mapInArrow`` body of both reranks. Without ``tables`` the
    batches are (query_id, neighbor_id, q_vec, n_vec, q_norm, n_norm); with
    ``tables`` — the query and corpus ``(id → row, _list_parts, norms)`` of
    :func:`_cosine_rerank_broadcast` — they are (query_id, neighbor_id)."""
    import numpy as np
    import pyarrow as pa

    out_schema = pa.schema([("query_id", pa.int64()),
                            ("neighbor_id", pa.int64()),
                            ("sim", pa.float64())])
    for b in batches:
        n = b.num_rows
        if n == 0:
            continue
        qid = b.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
        nid = b.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
        if tables is None:
            qi = ci = np.arange(n)
            q = (_list_parts(b.column(2)), np.asarray(
                b.column(4).to_numpy(zero_copy_only=False), dtype=np.float64))
            c = (_list_parts(b.column(3)), np.asarray(
                b.column(5).to_numpy(zero_copy_only=False), dtype=np.float64))
        else:
            (q_lookup, *q), (c_lookup, *c) = tables
            qi = np.fromiter((q_lookup[int(x)] for x in qid), dtype=np.int64,
                             count=n)
            ci = np.fromiter((c_lookup[int(x)] for x in nid), dtype=np.int64,
                             count=n)
        sim, valid = _pair_sims(q, qi, c, ci)
        if partial_topk is not None and n > partial_topk:
            # Spark orders doubles with NaN as the greatest value; null sims
            # (invalid pairs) sort after every value under F.desc
            key = np.where(np.isnan(sim), np.inf, sim)
            order = np.lexsort((nid, -key, ~valid, qid))
            qs = qid[order]
            starts = np.r_[0, np.nonzero(np.diff(qs))[0] + 1]
            sizes = np.diff(np.r_[starts, len(order)])
            rank = np.arange(len(order)) - np.repeat(starts, sizes)
            keep = np.sort(order[rank < partial_topk])
            qid, nid, sim, valid = qid[keep], nid[keep], sim[keep], valid[keep]
        yield pa.RecordBatch.from_arrays(
            [pa.array(qid), pa.array(nid), pa.array(sim, mask=~valid)],
            schema=out_schema)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer trained driver-side on a
# sample, assignment + probing fully JVM-side. The cross join becomes an
# equi join on cell id; recall is tuned with nprobe.
# ---------------------------------------------------------------------------

def ivf_sizing(n_vectors: int, max_cells: int | None = None) -> tuple[int, int]:
    """(n_cells, sample_size) for a corpus of n_vectors — the standard IVF
    rule of thumb: n_cells ≈ √n balances per-probe cell scan cost (n/n_cells
    rows) against the assignment/probe cost (n_cells centroid dot products
    per vector); sample_size = 50·n_cells so every centroid sees ~50 training
    points (k-means stability floor; below that, empty/degenerate cells).

    Scale anchors: 1M vectors → 1,000 cells / 50k sample; 1B (the 100 TB
    regime) → ~32k cells / 1.6M sample — the sample is still driver-feasible
    (1.6M × 64 float64 ≈ 800 MB; cap cells or sample the trainer itself
    beyond that). For ``ivf_index_write``, √n cells also keeps per-cell
    parquet output near n/√n rows — at 1B rows × 1 KB that is ~30k files of
    ~32 MB, inside the healthy file-size band; re-derive with max_cells if
    your row width pushes cells under ~8 MB per file."""
    import math

    n_cells = max(1, int(math.isqrt(max(n_vectors, 1))))
    if max_cells is not None:
        n_cells = min(n_cells, max_cells)
    return n_cells, 50 * n_cells


def ivf_train_centroids(corpus: DataFrame, n_cells: int = 16, dim: int = 64,
                        sample_size: int = 4096, iters: int = 10,
                        vec_col: str = "embedding", seed: int = 42,
                        size_hint: int | None = None,
                        max_cells: int | None = None):
    """Lloyd's k-means on a driver-side sample (numpy); returns
    list[list[float]] centroids. The sample is tiny and the centroids are
    broadcast as literals — training cost is independent of corpus size.

    The n_cells/sample_size defaults are sandbox constants (tiny corpora);
    pass ``size_hint=<approx corpus row count>`` to derive both from the
    √n / 50-per-cell rule instead (see ``ivf_sizing``) — the production
    setting, where hard-coding 16 cells would leave each cell at n/16 rows
    and probes effectively un-pruned. Precedence is explicit: size_hint
    REPLACES any n_cells/sample_size values (do not pass both); bound the
    derived cell count — and with it the driver-side sample — via
    ``max_cells`` (√10⁹ cells implies a ~1.6M-vector sample, the
    driver-memory case ``ivf_sizing``'s docstring quantifies).

    Sampling is reservoir-style (takeSample) — UNBIASED across partitions.
    limit()-sampling would take the first partitions only, mis-centering the
    quantizer whenever the corpus is clustered in storage order (typical:
    ingest order correlates with content)."""
    import numpy as np

    if size_hint is not None:
        n_cells, sample_size = ivf_sizing(size_hint, max_cells=max_cells)

    rows = corpus.select(vec_col).rdd.takeSample(False, sample_size, seed)
    x = np.array([list(r[0]) for r in rows], dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=min(n_cells, len(x)), replace=False)]
    for _ in range(iters):
        sims = x @ cent.T
        assign = sims.argmax(axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / max(float(np.linalg.norm(m)), 1e-12)
    return [[float(v) for v in c] for c in cent]


def _cell_sims(vec_col, centroids):
    """array<struct<sim double, cell int>> of cosine-to-centroid per cell
    (centroids are unit vectors, so dot/|v| = cosine)."""
    norm = _norm(vec_col)
    return F.array(*[
        F.struct((_dot(vec_col, F.array(*[F.lit(v) for v in c])) / norm).alias("sim"),
                 F.lit(i).alias("cell"))
        for i, c in enumerate(centroids)
    ])


def ivf_assign(df: DataFrame, centroids, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """One (id, vec, cell) row per input row — cell = nearest centroid.

    spread() first (statically gated, identity on well-partitioned input):
    a small-but-dense corpus arriving as one scan split would otherwise run
    the whole assignment on one core (measured: q39 at sf1.0 drops
    10.8 s → 3.7 s from this change alone).

    The per-row work — |cells| dim-wide cosine dots and the
    ``array_max``-over-structs argmax — runs as one Arrow pass with
    BIT-IDENTICAL results to the interpreted ``_cell_sims`` fold it
    replaces: dots and the norm accumulate per dimension left-to-right in
    float64 (the ``_cosine_rerank_arrow`` discipline); the winning cell is
    the LAST index achieving the maximum sim (struct ties break on the
    larger cell field) with NaN sims ordered greatest (Spark float
    ordering); degenerate rows (null vector / null element / length ≠ dim)
    null every sim, and the max of all-(null sim) structs is the last cell.

    Zero-norm divergence: for an all-zero vector the JVM fold's ``/ norm``
    raises DIVIDE_BY_ZERO under ANSI mode, so there is no legacy result to
    match. Here the division runs under ``np.errstate`` (no
    RuntimeWarning): every sim is 0/0 = NaN and the row lands in the last
    cell, the NaN-greatest rule above.
    """
    import numpy as np

    from .linking import spread

    cmat = np.asarray(centroids, dtype=np.float64)  # (n_cells, dim)
    base = spread(df, id_col).select(F.col(id_col), F.col(vec_col))
    in_schema = base.schema
    id_t, vec_t = (in_schema[0].dataType.simpleString(),
                   in_schema[1].dataType.simpleString())
    out_ddl = f"{id_col} {id_t}, {vec_col} {vec_t}, cell int"
    return base.mapInArrow(
        lambda batches: _assign_batches(batches, cmat, id_col, vec_col), out_ddl)


def _assign_batches(batches, cmat, id_col: str, vec_col: str):
    """The ``mapInArrow`` body of :func:`ivf_assign` over Arrow batches of
    (id, vec); cmat is the (n_cells, dim) float64 centroid matrix."""
    import numpy as np
    import pyarrow as pa

    n_cells, dim = cmat.shape
    for b in batches:
        n = b.num_rows
        if n == 0:
            continue
        ids, vecs = b.column(0), b.column(1)
        off, vals, n_null, lens = _list_parts(vecs)
        ok = (lens == dim) & (n_null == 0)
        best = np.full(n, n_cells - 1, dtype=np.int32)
        if ok.any():
            sel = np.flatnonzero(ok)
            mat = _gather_rows(off, vals, sel, dim)
            m = mat.shape[0]
            acc = np.zeros((m, n_cells), dtype=np.float64)
            nacc = np.zeros(m, dtype=np.float64)
            for d in range(dim):
                xd = mat[:, d]
                acc += xd[:, None] * cmat[:, d][None, :]
                nacc += xd * xd
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = acc / np.sqrt(nacc)[:, None]
            nanm = np.isnan(sims)
            k1 = np.where(nanm, -np.inf, sims)
            # last argmax = struct-ordering tie-break (larger cell)
            b_sel = (n_cells - 1) - np.argmax(k1[:, ::-1], axis=1)
            any_nan = nanm.any(axis=1)
            if any_nan.any():
                for i in np.flatnonzero(any_nan):
                    b_sel[i] = np.flatnonzero(nanm[i]).max()
            best[sel] = b_sel.astype(np.int32)
        yield pa.RecordBatch.from_arrays(
            [ids, vecs, pa.array(best, type=pa.int32())],
            names=[id_col, vec_col, "cell"])


def ivf_index_write(corpus: DataFrame, centroids, path: str,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> None:
    """Materialized IVF index: the corpus hive-partitioned by nearest cell.
    At 100 TB this is the serving layout — a probe touches only its cells'
    FILES (parquet partition pruning), so query cost follows nprobe/n_cells
    of the data instead of a full scan.

    The write clusters rows by cell first (one hash exchange of the
    assigned rows): without it every scan task writes a sliver of every
    cell — tasks × cells files of a few KB each, the classic small-files
    layout (guide §6) that makes both the index listing and every probe's
    read slower. AQE coalescing sizes the writer tasks, so big cells still
    split across files at real scale."""
    (ivf_assign(corpus, centroids, id_col, vec_col)
     .repartition(F.col("cell"))
     .write.mode("overwrite").partitionBy("cell").parquet(path))


def knn_ivf_indexed(
    spark,
    queries: DataFrame,
    index_path: str,
    centroids,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a materialized IVF index: each query probes its nprobe
    nearest cells; the cell equi-join prunes index partitions (only the
    probed cells' files are read). Exact cosine rerank inside the probed
    buckets — same semantics as knn_ivf, different (indexed) physical plan."""
    c = spark.read.parquet(index_path).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"),
        "cell", _norm(F.col(vec_col)).alias("c_norm"))
    probes = F.slice(F.reverse(F.array_sort(_cell_sims(F.col(vec_col), centroids))),
                     1, nprobe)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
        F.explode(F.transform(probes, lambda p: p["cell"])).alias("cell"))
    # in-bucket rerank through the vectorized Arrow scorer (bit-identical
    # sims + partial top-k; same discipline as knn_lsh) instead of one
    # interpreted dim-wide fold per candidate pair
    joined = (q.join(c, "cell")
              .where(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id", "q_vec", "c_vec",
                      "q_norm", "c_norm"))
    scored = _cosine_rerank_arrow(joined, partial_topk=k)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("query_id", "neighbor_id", "sim", "rnk"))


def knn_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    centroids,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: corpus bucketed by nearest cell; each query probes
    its nprobe nearest cells; exact cosine inside the probed buckets."""
    c = ivf_assign(corpus, centroids, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"),
        "cell", _norm(F.col(vec_col)).alias("c_norm"))
    probes = F.slice(F.reverse(F.array_sort(_cell_sims(F.col(vec_col), centroids))),
                     1, nprobe)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
        F.explode(F.transform(probes, lambda p: p["cell"])).alias("cell"))
    # in-bucket rerank through the vectorized Arrow scorer (bit-identical
    # sims + partial top-k; same discipline as knn_lsh) instead of one
    # interpreted dim-wide fold per candidate pair
    joined = (q.join(c, "cell")
              .where(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id", "q_vec", "c_vec",
                      "q_norm", "c_norm"))
    scored = _cosine_rerank_arrow(joined, partial_topk=k)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("query_id", "neighbor_id", "sim", "rnk"))
